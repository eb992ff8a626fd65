package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sequence-example construction: window content, ordering
  * determinism, negative-draw properties, and the plan shapes the
  * 100 TB posture claims. */
class SequenceQueriesSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: Seq[(Long, Long, java.sql.Timestamp, String)]) =
    rows.toDF("event_id", "user_id", "ts", "event_type")

  private def t(s: Long) = new java.sql.Timestamp(s * 1000L)

  test("sq1: context is the previous ≤5 types in (ts, event_id) order") {
    val d = ev(Seq(
      (1L, 7L, t(10), "a"), (2L, 7L, t(20), "b"), (3L, 7L, t(30), "c"),
      (9L, 8L, t(5), "z")))
    val rows = SequenceQueries.sq1From(d)
      .select("event_id", "label", "context")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toList))
      .sortBy(_._1)
    // user 8's single event has no predecessor → no example
    assert(rows.toSeq === Seq(
      (2L, "b", List("a")),
      (3L, "c", List("a", "b"))))
  }

  test("sq1: event_id breaks timestamp ties deterministically") {
    val d = ev(Seq(
      (5L, 1L, t(10), "x"), (4L, 1L, t(10), "y"), (6L, 1L, t(10), "z")))
    val rows = SequenceQueries.sq1From(d)
      .select("event_id", "context").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList)).sortBy(_._1)
    assert(rows.toSeq === Seq(
      (5L, List("y")),
      (6L, List("y", "x"))))
  }

  test("sq1: window longer than 5 predecessors truncates to the last 5") {
    val d = ev((1 to 8).map(i => (i.toLong, 1L, t(i * 10L), s"e$i")))
    val last = SequenceQueries.sq1From(d)
      .filter($"event_id" === 8L).select("context").collect()(0)
      .getSeq[String](0).toList
    assert(last === List("e3", "e4", "e5", "e6", "e7"))
  }

  test("sq2: negatives exclude the label, are distinct, and are stable") {
    val d = ev(Seq(
      (1L, 7L, t(10), "a"), (2L, 7L, t(20), "b"), (3L, 8L, t(30), "c")))
    val rows = SequenceQueries.sq2From(d)
      .select("event_id", "label", "negatives").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toList))
    rows.foreach { case (_, label, negs) =>
      assert(!negs.contains(label))
      assert(negs.distinct == negs)
      assert(negs.size == 2)
    }
    // determinism under recomputation and repartitioning
    val again = SequenceQueries.sq2From(d.repartition(7))
      .select("event_id", "label", "negatives").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toList))
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("sq2: different examples draw different negative orders") {
    val d = ev((1 to 20).map(i => (i.toLong, 1L, t(i * 10L), "a")) ++
      Seq((100L, 2L, t(1), "b"), (101L, 2L, t(2), "c"),
        (102L, 2L, t(3), "d")))
    val negs = SequenceQueries.sq2From(d)
      .filter($"label" === "a").select("negatives").collect()
      .map(_.getSeq[String](0).toList).toSeq
    // with 3 non-label types and 20 draws, a fixed order for all
    // examples would mean the hash ignores event_id
    assert(negs.distinct.size > 1, negs)
  }

  test("sq3: a >30-minute gap resets the context window") {
    val d = ev(Seq(
      (1L, 1L, t(0), "a"), (2L, 1L, t(60), "b"),
      // 31-minute gap → new session: event 3's context must be empty
      (3L, 1L, t(60 + 31 * 60), "c"),
      (4L, 1L, t(60 + 32 * 60), "d")))
    val rows = SequenceQueries.sq3From(d)
      .select("event_id", "session_idx", "context").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2).toList))
      .sortBy(_._1)
    // event 3 opens session 2 with no context → no example for it
    assert(rows.toSeq === Seq(
      (2L, 1L, List("a")),
      (4L, 2L, List("c"))))
  }

  test("sq3 == sq1 when no session gap exists") {
    val d = ev((1 to 8).map(i => (i.toLong, 1L, t(i * 60L), s"e$i")))
    def strip(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.head, cols.tail: _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(strip(SequenceQueries.sq3From(d),
      "user_id", "event_id", "label", "context", "n_context") ==
      strip(SequenceQueries.sq1From(d),
        "user_id", "event_id", "label", "context", "n_context"))
  }

  test("api.Analytics facades == registry sq1/sq2 through renamed columns") {
    val d = graft.Tables(spark, sf(), "events")
    val renamed = d.withColumnRenamed("user_id", "u")
      .withColumnRenamed("event_type", "t")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    // the facades keep the array-typed programmatic API; the registry
    // rows emit the unit-separator scalar encoding — apply it here so
    // the parity check spans the encoding too
    def enc(df: org.apache.spark.sql.DataFrame, c: String) =
      df.withColumn(c, concat_ws("\u001f", col(c)))
    assert(rows(enc(graft.api.Analytics.nextEventExamples(
      renamed, "u", "ts", "event_id", "t"), "context")) ==
      rows(SequenceQueries.sq1NextEvent(spark, sf())))
    assert(rows(enc(graft.api.Analytics.negativeSamples(
      renamed, "u", "ts", "event_id", "t"), "negatives")) ==
      rows(SequenceQueries.sq2Negatives(spark, sf())))
    assert(rows(enc(graft.api.Analytics.sessionEventExamples(
      renamed, "u", "ts", "event_id", "t"), "context")) ==
      rows(SequenceQueries.sq3SessionExamples(spark, sf())))
  }

  test("sq4: FIM splits conserve every token, are deterministic, and " +
    "never shuffle") {
    import org.apache.spark.sql.functions.{col, concat_ws, trim}
    val docs = graft.Tables(spark, sf(), "documents")
    val out = SequenceQueries.sq4From(docs)
    // prefix ++ middle ++ suffix re-joined IS the document: nothing
    // lost, nothing duplicated, order preserved (empty segments are
    // legal — skip them when gluing, or an empty middle doubles a space)
    val joined = out
      .join(docs.select(col("doc_id"), col("text")), "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val glued = Seq(r.getAs[String]("fim_prefix"),
        r.getAs[String]("fim_middle"), r.getAs[String]("fim_suffix"))
        .filter(_.nonEmpty).mkString(" ")
      assert(glued == r.getAs[String]("text").trim,
        s"doc ${r.getAs[Long]("doc_id")} lost tokens")
    }
    // cuts are in range and stable under repartitioning
    out.collect().foreach { r =>
      val (n, lo, hi) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cut_lo"), r.getAs[Long]("cut_hi"))
      assert(0 <= lo && lo <= hi && hi <= n, s"cuts $lo/$hi out of [0,$n]")
    }
    val again = SequenceQueries.sq4From(docs.repartition(7))
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(again ==
      out.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq)
    // scan-side only: no exchange anywhere
    val p = out.queryExecution.executedPlan.toString
    assert(algoExchangeLines(p).isEmpty, p)
  }

  test("plan shapes: sq1 shuffles once by user; sq2's event side never shuffles") {
    val d = graft.Tables(spark, sf(), "events")
    val p1 = SequenceQueries.sq1From(d).queryExecution.executedPlan.toString
    assert(p1.contains("hashpartitioning(user_id"), p1)
    assert("Exchange hashpartitioning".r.findAllIn(p1).size == 1, p1)
    val p2 = SequenceQueries.sq2From(d).queryExecution.executedPlan.toString
    // the only exchanges are the vocab reduction (single partition) and
    // its broadcast — no hash exchange of event rows
    assert(!p2.contains("Exchange hashpartitioning"), p2)
    assert(p2.contains("BroadcastNestedLoopJoin") || p2.contains("BroadcastExchange"), p2)
    // sq3 adds the session index and a (user, session)-partitioned
    // window, but hashpartitioning(user) already clusters sessions —
    // still exactly ONE exchange, three windows sharing it
    val p3 = SequenceQueries.sq3From(d).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p3).size == 1, p3)
  }
}
