package graft.profiles

import graft.SparkSpec

/** Mirrors the reference's user-storage contract
  * (rakam-spi/src/test/java/org/rakam/collection/TestUserStorage.java)
  * plus the FIXTURES.md §A3 canonical sequences, and property-tests the
  * two distributed merge paths against the naive sequential fold. */
class ProfileMergeSpec extends SparkSpec {

  private def op(id: String, ts: Long, kind: String, kv: (String, String)*) =
    ProfileOp("p", id, ts, ts, kind, kv.toMap)

  test("set then set_once: first set wins (testSetOncePropertiesLatterSet)") {
    assert(ProfileMerge.fold(Seq(
      op("u", 1, "set", "a" -> "1"),
      op("u", 2, "set_once", "a" -> "2")))("a") == "1")
    assert(ProfileMerge.fold(Seq(
      op("u", 1, "set_once", "a" -> "2"),
      op("u", 2, "set", "a" -> "1")))("a") == "1")
  }

  test("increment coalesces null to 0 and sums (testIncrementProperties)") {
    val r = ProfileMerge.fold(Seq(
      op("u", 1, "increment", "n" -> "2"),
      op("u", 2, "increment", "n" -> "2"),
      op("u", 3, "increment", "n" -> "2")))
    assert(r("n") == "6")
  }

  test("increment on top of set base") {
    val r = ProfileMerge.fold(Seq(
      op("u", 1, "set", "n" -> "10"),
      op("u", 2, "increment", "n" -> "5")))
    assert(r("n") == "15")
  }

  test("unset then set_once rewrites (testUnsetSetProperties)") {
    val r = ProfileMerge.fold(Seq(
      op("u", 1, "set", "a" -> "x"),
      op("u", 2, "unset", "a" -> ""),
      op("u", 3, "set_once", "a" -> "y")))
    assert(r("a") == "y")
    val r2 = ProfileMerge.fold(Seq(
      op("u", 1, "set", "a" -> "x"),
      op("u", 2, "unset", "a" -> "")))
    assert(r2("a") == null)
  }

  test("property named id renamed _id (U8)") {
    val r = ProfileMerge.fold(Seq(op("u", 1, "set", "id" -> "other")))
    assert(!r.contains("id") && r("_id") == "other")
  }

  test("create falls back to update on duplicate (U1)") {
    val r = ProfileMerge.fold(Seq(
      op("u", 1, "create", "a" -> "1"),
      op("u", 2, "create", "a" -> "2")))
    assert(r("a") == "2") // last-write-wins merge absorbs the dup-key upsert
  }

  test("distributed merges equal naive fold on random op logs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val kinds = Seq("set", "set_once", "increment", "unset", "create")
    val ops = (1 to 2000).map { i =>
      val id = s"u${rnd.nextInt(20)}"
      val kind = kinds(rnd.nextInt(kinds.size))
      val prop = s"p${rnd.nextInt(5)}"
      val value = if (kind == "increment") rnd.nextInt(10).toString
        else if (rnd.nextBoolean()) rnd.nextInt(100).toString
        else s"v${rnd.nextInt(100)}"
      ProfileOp("p", id, rnd.nextInt(100).toLong, i.toLong, kind, Map(prop -> value))
    }
    val expected = ops.groupBy(_.id).map { case (id, os) =>
      id -> ProfileMerge.fold(os)
    }

    val got = ProfileMerge.merge(spark.createDataset(ops)).collect().map { r =>
      r.getAs[String]("id") -> r.getAs[Map[String, String]]("properties")
    }.toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, props) =>
      assert(got(id) == props, s"user $id")
    }
  }

  test("snapshotAsOf(t) == fold of the op prefix at every cut") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val kinds = Seq("set", "set_once", "increment", "unset", "create")
    val ops = (1 to 600).map { i =>
      val kind = kinds(rnd.nextInt(kinds.size))
      val prop = s"p${rnd.nextInt(4)}"
      val value = if (kind == "increment") rnd.nextInt(10).toString
        else s"v${rnd.nextInt(50)}"
      ProfileOp("p", s"u${rnd.nextInt(10)}", rnd.nextInt(50).toLong,
        i.toLong, kind, Map(prop -> value))
    }
    val ds = spark.createDataset(ops)
    for (cut <- Seq(0L, 10L, 25L, 49L, 100L)) {
      val prefix = ops.filter(_.ts <= cut) // asOfSeq defaults to MaxValue
      val expected = prefix.groupBy(_.id).map { case (id, os) =>
        id -> ProfileMerge.fold(os)
      }
      val got = ProfileMerge.snapshotAsOf(ds, cut).collect().map { r =>
        r.getAs[String]("id") -> r.getAs[Map[String, String]]("properties")
      }.toMap
      assert(got == expected, s"as-of $cut")
    }
    // a mid-timestamp seq cut splits ties deterministically
    val seqCut = ProfileMerge.snapshotAsOf(ds, 25L, asOfSeq = 300L)
      .collect().map(r => r.getAs[String]("id") ->
        r.getAs[Map[String, String]]("properties")).toMap
    val seqExpected = ops
      .filter(o => o.ts < 25L || (o.ts == 25L && o.seq <= 300L))
      .groupBy(_.id).map { case (id, os) => id -> ProfileMerge.fold(os) }
    assert(seqCut == seqExpected)
  }

  test("point lookup (J3)") {
    import spark.implicits._
    val ds = spark.createDataset(Seq(
      op("u1", 1, "set", "a" -> "1"), op("u2", 1, "set", "a" -> "2")))
    // `/user/get`'s shape: filter the log to the id, then merge — the
    // same row the merged table holds for that user
    val row = ProfileMerge.merge(ds.filter(_.id == "u2")).collect()
    assert(row.length == 1 && row.head.getAs[Map[String, String]]("properties")("a") == "2")
    val fromTable = ProfileMerge.merge(ds).filter($"id" === "u2").collect()
    assert(row.toSeq == fromTable.toSeq)
  }
}
