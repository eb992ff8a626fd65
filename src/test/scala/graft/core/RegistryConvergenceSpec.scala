package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Two gateways, one metastore: the SCALE.md §multi-driver CRDT claim
  * made executable (the r14 verdict's ask). Union-only evolution
  * commutes, so two [[SchemaRegistry]] instances persisting into the
  * same directory must converge to the union of everything either saw,
  * with no lost field — the file-backed restatement of the reference's
  * concurrent-DDL test (TestMetastore.java:144-160, ten parallel
  * adders racing `getOrCreateCollectionFieldList`).
  *
  * Instances share nothing in-process (each has its own maps and
  * in-JVM lock — the RestartRecoverySpec isolation style), so every
  * interleaving here exercises the cross-instance commit protocol:
  * OS file lock → merge committed → write union → atomic rename. */
class RegistryConvergenceSpec extends AnyFunSuite {

  private val S = FieldType.STRING
  private val L = FieldType.LONG

  private def raceBoth(r1: SchemaRegistry, r2: SchemaRegistry)(
      a: Int => Unit, b: Int => Unit, n: Int): Unit = {
    val fail = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ta = new Thread(() => {
      try (0 until n).foreach(a)
      catch { case t: Throwable => fail.set(t) }
    }, "gateway-a")
    val tb = new Thread(() => {
      try (0 until n).foreach(b)
      catch { case t: Throwable => fail.set(t) }
    }, "gateway-b")
    ta.start(); tb.start(); ta.join(); tb.join()
    assert(fail.get() == null, s"racer failed: ${fail.get()}")
  }

  test("two registries racing union-only evolutions converge to the " +
    "union with no lost field") {
    val dir = graft.TempDirs.scratch("graft-reg-conv").toString
    val r1 = SchemaRegistry.persistent(dir)
    val r2 = SchemaRegistry.persistent(dir)
    val n = 40
    raceBoth(r1, r2)(
      i => r1.getOrCreate("p", "events", Seq(r1.Field(s"a_$i", S))),
      i => r2.getOrCreate("p", "events", Seq(r2.Field(s"b_$i", L))),
      n)
    // each instance re-reads the committed file (a restart, or a
    // serving-cache refresh) — both must hold the identical union
    r1.load("p"); r2.load("p")
    val s1 = r1.schema("p", "events").get.map(f => f.name -> f.tpe.name)
    val s2 = r2.schema("p", "events").get.map(f => f.name -> f.tpe.name)
    assert(s1 == s2, "instances diverged after load")
    val names = s1.map(_._1).toSet
    val expected = (0 until n).flatMap(i => Seq(s"a_$i", s"b_$i")).toSet
    assert(expected.subsetOf(names),
      s"lost fields: ${(expected -- names).toSeq.sorted.take(5)}")
    // and a THIRD, fresh instance recovers the same union from disk
    val r3 = SchemaRegistry.persistent(dir)
    r3.load("p")
    assert(r3.schema("p", "events").get.map(f => f.name -> f.tpe.name) == s1)
  }

  test("disjoint collections from different gateways both survive") {
    val dir = graft.TempDirs.scratch("graft-reg-conv2").toString
    val r1 = SchemaRegistry.persistent(dir)
    val r2 = SchemaRegistry.persistent(dir)
    raceBoth(r1, r2)(
      i => r1.getOrCreate("p", s"coll_a_$i", Seq(r1.Field("x", S))),
      i => r2.getOrCreate("p", s"coll_b_$i", Seq(r2.Field("y", L))),
      20)
    r1.load("p")
    assert(r1.collections("p").size == 40,
      s"collections lost: ${r1.collections("p").size} of 40")
  }

  test("same-name/different-type race resolves to ONE winner everywhere " +
    "(first committer), never a fork") {
    val dir = graft.TempDirs.scratch("graft-reg-conv3").toString
    val r1 = SchemaRegistry.persistent(dir)
    val r2 = SchemaRegistry.persistent(dir)
    raceBoth(r1, r2)(
      i => r1.getOrCreate("p", "c", Seq(r1.Field(s"f_$i", S))),
      i => r2.getOrCreate("p", "c", Seq(r2.Field(s"f_$i", L))),
      25)
    r1.load("p"); r2.load("p")
    val s1 = r1.schema("p", "c").get.map(f => f.name -> f.tpe.name)
    val s2 = r2.schema("p", "c").get.map(f => f.name -> f.tpe.name)
    assert(s1 == s2, "type fork survived convergence")
    assert(s1.map(_._1).toSet == (0 until 25).map(i => s"f_$i").toSet)
    // the winning type then REJECTS the loser on the next attempt —
    // the union-only contract, now enforced across gateways
    s1.foreach { case (name, winner) =>
      val loser = if (winner == "STRING") L else S
      val (_, rej) = r1.getOrCreate("p", "c", Seq(r1.Field(name, loser)))
      assert(rej.exists(_.field == name), s"$name lost its committed type")
    }
  }

  test("set-once config race converges to one committed winner") {
    val dir = graft.TempDirs.scratch("graft-reg-conv4").toString
    val r1 = SchemaRegistry.persistent(dir)
    val r2 = SchemaRegistry.persistent(dir)
    // each racer also rides a schema commit, as ingest does
    raceBoth(r1, r2)(
      _ => { r1.setOnce("p", "USER_TYPE", "STRING")
        r1.getOrCreate("p", "c", Seq(r1.Field("x", S))) },
      _ => { r2.setOnce("p", "USER_TYPE", "LONG")
        r2.getOrCreate("p", "c", Seq(r2.Field("x", S))) },
      10)
    r1.load("p"); r2.load("p")
    assert(r1.config("p", "USER_TYPE") == r2.config("p", "USER_TYPE"),
      "set-once config forked across gateways")
  }
}
