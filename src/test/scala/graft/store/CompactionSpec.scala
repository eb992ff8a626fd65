package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Small-files compaction: many micro-batch appends → one compaction →
  * fewer files, identical data, partition pruning intact. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compaction collapses micro-batch files and preserves data") {
    val warehouse = graft.TempDirs.scratch("graft-compact").toString
    // 12 micro-batches into the same month → ≥12 files in one partition
    (0 until 12).foreach { b =>
      val df = (0 until 50).map(i => (b * 50L + i, s"u${i % 7}"))
        .toDF("event_id", "_user")
        .withColumn("_time", lit(s"2026-01-${"%02d".format(b + 1)} 12:00:00").cast("timestamp"))
      EventStore.write(df, warehouse, "demo", "pageview")
    }
    val partDir = new java.io.File(s"$warehouse/demo/pageview/_month=2026-01")
    def parquetFiles() =
      partDir.listFiles().count(f => f.getName.endsWith(".parquet"))
    val before = parquetFiles()
    assert(before >= 12, s"expected ≥12 micro-batch files, saw $before")
    val expected = spark.read.parquet(partDir.getAbsolutePath)
      .select("event_id", "_user").collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val nFiles = EventStore.compactPartition(spark, warehouse, "demo", "pageview",
      month = "2026-01", rowsPerFile = 1_000_000L)
    // the commit is LOGICAL: superseded files linger on disk for
    // readers pinned to older manifests, and the manifest-pinned read
    // sees exactly one copy of every row while they do
    assert(nFiles == 1 && parquetFiles() > 1,
      "superseded files should await vacuum, not vanish at commit")
    val registry = graft.core.SchemaRegistry.inMemory()
    val viaManifest = EventStore.read(spark, registry, warehouse, "demo", "pageview")
      .select("event_id", "_user").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(viaManifest.toSet == expected && viaManifest.length == 600)

    // vacuum reaps them; then even a raw directory listing is clean
    val reaped = EventStore.vacuum(warehouse, "demo", "pageview", graceMs = 0L)
    assert(reaped >= 12, s"expected the micro-batch files reaped, got $reaped")
    assert(parquetFiles() == 1,
      s"expected a single compacted file after vacuum, saw ${parquetFiles()}")
    val after = spark.read.parquet(partDir.getAbsolutePath)
      .select("event_id", "_user").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == expected && after.size == 600)
  }

  test("z-ordered compaction: same data, and every file is narrow in BOTH " +
    "user and time — plain coalesce leaves the user axis unclustered") {
    val warehouse = graft.TempDirs.scratch("graft-zo").toString
    // 8 micro-batches, each carrying ALL 16 users across one day-slice —
    // the append layout is time-clustered but user-scattered
    (0 until 8).foreach { b =>
      val df = (0 until 128).map { i =>
        (b * 128L + i, s"user${i % 16}")
      }.toDF("event_id", "_user")
        .withColumn("_time",
          (lit(s"2026-02-${"%02d".format(b + 1)} 00:00:00").cast("timestamp")
            + expr("make_interval(0, 0, 0, 0, 0, 0, event_id % 128 * 600)")))
      EventStore.write(df, warehouse, "demo", "click")
    }
    val partDir = s"$warehouse/demo/click/_month=2026-02"
    val expected = spark.read.parquet(partDir)
      .select("event_id").collect().map(_.getLong(0)).toSet

    val nFiles = EventStore.compactPartition(spark, warehouse, "demo", "click",
      month = "2026-02", rowsPerFile = 64L,
      zorderBy = Some(("_user", "_time")))
    assert(nFiles == 16)
    EventStore.vacuum(warehouse, "demo", "click", graceMs = 0L)

    val back = spark.read.parquet(partDir)
    assert(back.select("event_id").collect().map(_.getLong(0)).toSet == expected)
    // per-file stats a pruning reader would use: distinct users and time
    // span. The append layout put all 16 users in every file; the
    // Z-order must bound both axes per file.
    val stats = back.withColumn("f", input_file_name())
      .groupBy($"f")
      .agg(countDistinct($"_user").as("users"),
        (unix_micros(max($"_time")) - unix_micros(min($"_time"))).as("tspan"))
      .agg(avg($"users"), max($"users"), avg($"tspan")).head()
    val fullSpan = back
      .agg(unix_micros(max($"_time")) - unix_micros(min($"_time")))
      .head().getLong(0)
    assert(stats.getDouble(0) <= 6.0,
      s"files not user-clustered: avg ${stats.getDouble(0)} of 16 users")
    assert(stats.getLong(1) < 16, "some file still holds every user")
    assert(stats.getDouble(2) < fullSpan / 2.0,
      s"files not time-clustered: avg span ${stats.getDouble(2)} of $fullSpan")
  }

  test("right-to-be-forgotten rewrites only the touched partitions") {
    val warehouse = graft.TempDirs.scratch("graft-rtbf").toString
    // u1 appears in Jan+Feb; u2 everywhere; March has no u1
    for ((month, users) <- Seq("01" -> Seq("u1", "u2"), "02" -> Seq("u1", "u2"),
        "03" -> Seq("u2", "u3"))) {
      val df = users.zipWithIndex.map { case (u, i) => (month.toLong * 10 + i, u) }
        .toDF("event_id", "_user")
        .withColumn("_time", lit(s"2026-$month-05 09:00:00").cast("timestamp"))
      EventStore.write(df, warehouse, "demo", "pageview")
    }
    val marchBefore = new java.io.File(s"$warehouse/demo/pageview/_month=2026-03")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.lastModified).max

    val (parts, rows) = EventStore.deleteUser(
      spark, warehouse, "demo", "pageview", "_user", "u1")
    assert(parts == 2 && rows == 2)

    val remaining = spark.read.parquet(s"$warehouse/demo/pageview")
      .select("_user").distinct().collect().map(_.getString(0)).toSet
    assert(remaining == Set("u2", "u3"))
    // untouched partition was not rewritten
    val marchAfter = new java.io.File(s"$warehouse/demo/pageview/_month=2026-03")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
    assert(marchAfter == marchBefore)
  }

  test("two concurrent writers converge: appender races compactor, " +
    "every row lands exactly once") {
    val warehouse = graft.TempDirs.scratch("graft-ccomp").toString
    val rowsPerBatch = 40
    val batches = 30
    def batch(b: Int) = (0 until rowsPerBatch)
      .map(i => (b.toLong * rowsPerBatch + i, s"u${i % 5}"))
      .toDF("event_id", "_user")
      // one fixed month so every append and every compaction contend
      // on the SAME partition directory
      .withColumn("_time", lit("2026-03-10 12:00:00").cast("timestamp"))
    (0 until 6).foreach(b => EventStore.write(batch(b), warehouse, "demo", "tap"))

    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val appender = new Thread(() => {
      try (6 until batches).foreach { b =>
        EventStore.write(batch(b), warehouse, "demo", "tap")
      } catch { case t: Throwable => failure.set(t) }
    }, "racing-appender")
    appender.start()
    // compact in a loop while appends land: each pass snapshots the
    // partition's current files, rewrites those, and must neither
    // delete nor duplicate a batch published mid-pass
    var compactions = 0
    while (appender.isAlive) {
      EventStore.compactPartition(spark, warehouse, "demo", "tap",
        month = "2026-03", rowsPerFile = 1_000_000L)
      compactions += 1
    }
    appender.join()
    assert(failure.get() == null, s"appender failed: ${failure.get()}")
    assert(compactions >= 2, s"race never materialized ($compactions passes)")

    // the manifest-pinned view is exact even before vacuum…
    val registry = graft.core.SchemaRegistry.inMemory()
    val pinnedIds = EventStore.read(spark, registry, warehouse, "demo", "tap")
      .select("event_id").collect().map(_.getLong(0))
    assert(pinnedIds.length == batches * rowsPerBatch &&
      pinnedIds.toSet.size == pinnedIds.length,
      s"manifest view not exact: ${pinnedIds.length} rows, " +
        s"${pinnedIds.length - pinnedIds.toSet.size} duplicated")
    // …and after vacuum even a raw directory listing is
    EventStore.vacuum(warehouse, "demo", "tap", graceMs = 0L)
    val ids = spark.read
      .parquet(s"$warehouse/demo/tap/_month=2026-03")
      .select("event_id").collect().map(_.getLong(0))
    val expected = (0L until batches.toLong * rowsPerBatch).toSet
    assert(ids.length == expected.size,
      s"expected ${expected.size} rows exactly once, saw ${ids.length} " +
        s"(${ids.length - ids.toSet.size} duplicated)")
    assert(ids.toSet == expected,
      s"lost rows: ${(expected -- ids.toSet).take(5)}...")
  }

  test("reader snapshot isolation: a scan pinned before compaction + " +
    "append sees each original row exactly once, never a mix") {
    val warehouse = graft.TempDirs.scratch("graft-snapiso").toString
    val registry = graft.core.SchemaRegistry.inMemory()
    def batch(b: Int) = (0 until 50)
      .map(i => (b.toLong * 50 + i, s"u${i % 5}"))
      .toDF("event_id", "_user")
      .withColumn("_time", lit("2026-05-01 12:00:00").cast("timestamp"))
    (0 until 4).foreach(b => EventStore.write(batch(b), warehouse, "demo", "view"))

    // pin the reader FIRST: its manifest resolves at DataFrame creation,
    // so everything committed after this line is invisible to it
    val pinned = EventStore.read(spark, registry, warehouse, "demo", "view")

    // …then rewrite the partition AND land two more batches
    EventStore.compactPartition(spark, warehouse, "demo", "view",
      month = "2026-05", rowsPerFile = 1_000_000L)
    (4 until 6).foreach(b => EventStore.write(batch(b), warehouse, "demo", "view"))

    // the pre-manifest reader at this point listed old AND new copies of
    // every rewritten row (the r14 gap); the pinned scan is exact
    val seen = pinned.select("event_id").collect().map(_.getLong(0))
    assert(seen.length == 200 && seen.toSet == (0L until 200L).toSet,
      s"pinned reader saw ${seen.length} rows " +
        s"(${seen.length - seen.toSet.size} duplicated)")

    // a fresh reader pins the newest manifest: rewrite + appends, exact
    val fresh = EventStore.read(spark, registry, warehouse, "demo", "view")
      .select("event_id").collect().map(_.getLong(0))
    assert(fresh.length == 300 && fresh.toSet == (0L until 300L).toSet)
  }

  test("time travel: a pinned version re-reads the identical corpus " +
    "across later appends AND a compaction rewrite") {
    val warehouse = graft.TempDirs.scratch("graft-tt").toString
    val registry = graft.core.SchemaRegistry.inMemory()
    def batch(b: Int) = (0 until 25).map(i => (b.toLong * 25 + i, s"u${i % 3}"))
      .toDF("event_id", "_user")
      .withColumn("_time", lit("2026-07-01 12:00:00").cast("timestamp"))
    (0 until 3).foreach(b => EventStore.write(batch(b), warehouse, "demo", "run"))
    // the reproducibility contract: pin THIS number in a training
    // run's metadata…
    val pinned = EventStore.currentVersion(warehouse, "demo", "run").get

    (3 until 5).foreach(b => EventStore.write(batch(b), warehouse, "demo", "run"))
    EventStore.compactPartition(spark, warehouse, "demo", "run",
      month = "2026-07", rowsPerFile = 1_000_000L)

    // …and every later re-read of that version is byte-for-byte the
    // same corpus, though the head moved and the files were rewritten
    val asOf = EventStore.readAt(spark, registry, warehouse, "demo", "run", pinned)
      .select("event_id").collect().map(_.getLong(0))
    assert(asOf.length == 75 && asOf.toSet == (0L until 75L).toSet)
    val head = EventStore.read(spark, registry, warehouse, "demo", "run")
    assert(head.count() == 125)

    // a vacuumed-away version fails FAST (missing files), never
    // silently serves a different corpus
    EventStore.vacuum(warehouse, "demo", "run", retainVersions = 1,
      graceMs = 0L)
    val gone = intercept[Exception] {
      EventStore.readAt(spark, registry, warehouse, "demo", "run", pinned)
        .count()
    }
    assert(gone != null)
  }

  test("crash mid-publish commits nothing: a batch with no manifest " +
    "entry is invisible, and vacuum reaps its orphans") {
    val warehouse = graft.TempDirs.scratch("graft-orphan").toString
    val registry = graft.core.SchemaRegistry.inMemory()
    val df = (0 until 30).map(i => (i.toLong, s"u${i % 3}"))
      .toDF("event_id", "_user")
      .withColumn("_time", lit("2026-06-01 12:00:00").cast("timestamp"))
    EventStore.write(df, warehouse, "demo", "view")
    val table = s"$warehouse/demo/view"
    val part = new java.io.File(s"$table/_month=2026-06")

    // simulate a writer that died between its file moves and its
    // manifest commit: a part file on disk with no manifest entry
    val orphanSrc = graft.TempDirs.scratch("graft-orphan-src").toFile
    df.limit(7).write.mode("overwrite").parquet(orphanSrc.getAbsolutePath)
    val src = orphanSrc.listFiles().filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(part, "part-orphan-crashed.parquet").toPath)

    val read = EventStore.read(spark, registry, warehouse, "demo", "view")
    assert(read.count() == 30, "uncommitted batch leaked into the read")

    // vacuum with zero grace reaps the orphan; the committed data stays
    val reaped = EventStore.vacuum(warehouse, "demo", "view", graceMs = 0L)
    assert(reaped == 1, s"expected exactly the orphan reaped, got $reaped")
    assert(!new java.io.File(part, "part-orphan-crashed.parquet").exists())
    assert(EventStore.read(spark, registry, warehouse, "demo", "view")
      .count() == 30)
  }

  test("publish stamps mtime at MOVE time, so vacuum's grace window " +
    "protects a slow-written batch's publish→commit gap") {
    val warehouse = graft.TempDirs.scratch("graft-pubstamp").toString
    val df = (0 until 10).map(i => (i.toLong, s"u$i")).toDF("event_id", "_user")
      .withColumn("_time", lit("2026-08-01 00:00:00").cast("timestamp"))
    EventStore.write(df, warehouse, "demo", "tap")
    val table = s"$warehouse/demo/tap"
    val part = new java.io.File(s"$table/_month=2026-08")

    // a staged part file whose parquet WRITE finished an hour ago (the
    // slow-batch case: write outlasted the grace window) …
    val staged = graft.TempDirs.scratch("graft-pubstamp-src").toFile
    df.limit(3).coalesce(1).write.mode("overwrite")
      .parquet(staged.getAbsolutePath)
    val src = staged.listFiles().filter(_.getName.startsWith("part-")).head
    assert(src.setLastModified(System.currentTimeMillis() - 3600_000L))
    // … is published (moved in) NOW, manifest commit still pending
    val target = new java.io.File(part, src.getName)
    EventStore.publishMove(src, target)
    assert(target.lastModified() > System.currentTimeMillis() - 60_000L,
      "publish must stamp mtime at move time — a bare Files.move " +
        "preserves the staging-write mtime and vacuum would reap the gap")

    // a concurrent vacuum with the default-style grace must NOT reap
    // the in-the-gap file; the appender then commits it safely
    val reaped = EventStore.vacuum(warehouse, "demo", "tap",
      graceMs = 10 * 60 * 1000L)
    assert(reaped == 0 && target.exists(),
      "vacuum reaped a just-published file inside the grace window")
    TableManifest.commit(table, Seq(s"_month=2026-08/${target.getName}"))
    val registry = graft.core.SchemaRegistry.inMemory()
    assert(EventStore.read(spark, registry, warehouse, "demo", "tap")
      .count() == 13)
  }

  test("an erasure that empties the table commits an EMPTY file set: " +
    "reads return zero rows, never fall back to the directory listing") {
    val warehouse = graft.TempDirs.scratch("graft-empty-commit").toString
    val registry = graft.core.SchemaRegistry.inMemory()
    val df = (0 until 20).map(i => (i.toLong, "doomed"))
      .toDF("event_id", "_user")
      .withColumn("_time", lit("2026-09-01 00:00:00").cast("timestamp"))
    EventStore.write(df, warehouse, "demo", "tap")
    val (parts, rows) = EventStore.deleteUser(
      spark, warehouse, "demo", "tap", "_user", "doomed")
    assert(parts == 1 && rows == 20)
    val table = s"$warehouse/demo/tap"
    // the erasure's rewrite may have committed a zero-row part file;
    // retire any such leftover so the committed set is DEFINITELY empty
    // (the Some(Nil) case the directory fallback must not swallow)
    val leftover = TableManifest.latest(table).get._2
    if (leftover.nonEmpty) TableManifest.commit(table, Nil, leftover)
    assert(TableManifest.latest(table).get._2.isEmpty)

    // plant an UNCOMMITTED part file (a mid-flight append from another
    // writer): the empty committed set must not fall back to the
    // directory and surface it
    val part = new java.io.File(s"$table/_month=2026-09")
    part.mkdirs()
    val orphanSrc = graft.TempDirs.scratch("graft-empty-orphan").toFile
    df.limit(5).write.mode("overwrite").parquet(orphanSrc.getAbsolutePath)
    val src = orphanSrc.listFiles().filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(part, "part-uncommitted.parquet").toPath)

    val read = EventStore.read(spark, registry, warehouse, "demo", "tap")
    assert(read.count() == 0,
      "empty committed set fell back to the raw directory listing")
  }

  test("deleteUser works under a RELATIVE warehouse path (one absolute " +
    "basis — no absolute-vs-relative relativize crash)") {
    // cwd-relative, like a config `warehouse=./data` — exactly the shape
    // that crashed when parts stayed relative while table went absolute
    val warehouse = s"target/graft-relwh-${java.util.UUID.randomUUID()}"
    try {
      val df = (0 until 12).map(i => (i.toLong, if (i % 2 == 0) "u1" else "u2"))
        .toDF("event_id", "_user")
        .withColumn("_time", lit("2026-10-01 00:00:00").cast("timestamp"))
      EventStore.write(df, warehouse, "demo", "tap")
      val (parts, rows) = EventStore.deleteUser(
        spark, warehouse, "demo", "tap", "_user", "u1")
      assert(parts == 1 && rows == 6)
      val registry = graft.core.SchemaRegistry.inMemory()
      val left = EventStore.read(spark, registry, warehouse, "demo", "tap")
        .select("_user").distinct().collect().map(_.getString(0)).toSet
      assert(left == Set("u2"))
    } finally graft.FileTree.delete(new java.io.File(warehouse))
  }

  test("vacuum vs pinned reader: a reader holding version N survives a " +
    "vacuum retaining N; one retaining only N+1 kills it loudly, never " +
    "serves a silent partial corpus") {
    val warehouse = graft.TempDirs.scratch("graft-vacrace").toString
    val registry = graft.core.SchemaRegistry.inMemory()
    def batch(b: Int) = (0 until 40).map(i => (b.toLong * 40 + i, s"u${i % 4}"))
      .toDF("event_id", "_user")
      .withColumn("_time", lit("2026-11-01 12:00:00").cast("timestamp"))
    (0 until 3).foreach(b => EventStore.write(batch(b), warehouse, "demo", "run"))
    val pinnedV = EventStore.currentVersion(warehouse, "demo", "run").get

    // resolve the reader BEFORE the rewrite — its file list is fixed now
    val reader = EventStore.readAt(spark, registry, warehouse, "demo", "run",
      pinnedV)
    EventStore.compactPartition(spark, warehouse, "demo", "run",
      month = "2026-11", rowsPerFile = 1_000_000L)

    // retention covering the pinned version: the long scan still
    // resolves every file it pinned (this is the ops contract —
    // retention must exceed the longest query's duration)
    EventStore.vacuum(warehouse, "demo", "run", retainVersions = 2,
      graceMs = 0L)
    assert(reader.select("event_id").collect().map(_.getLong(0)).toSet ==
      (0L until 120L).toSet,
      "a vacuum retaining the pinned version broke a live reader")

    // retention dropping it: the pinned files go, and a subsequent
    // execution FAILS (Spark's missing-file error) rather than
    // silently returning the surviving subset
    EventStore.vacuum(warehouse, "demo", "run", retainVersions = 1,
      graceMs = 0L)
    val e = intercept[Exception] {
      EventStore.readAt(spark, registry, warehouse, "demo", "run", pinnedV)
        .count()
    }
    assert(e != null)
    // the head read is of course unaffected
    assert(EventStore.read(spark, registry, warehouse, "demo", "run")
      .count() == 120)
  }

  test("O(delta) corpus diff: rows appended between two pins come from " +
    "append commits only; a rewrite in the window flips purely-additive") {
    val warehouse = graft.TempDirs.scratch("graft-diff").toString
    val registry = graft.core.SchemaRegistry.inMemory()
    def batch(b: Int) = (0 until 30).map(i => (b.toLong * 30 + i, s"u${i % 3}"))
      .toDF("event_id", "_user")
      .withColumn("_time", lit("2026-12-01 12:00:00").cast("timestamp"))
    (0 until 2).foreach(b => EventStore.write(batch(b), warehouse, "demo", "run"))
    val v1 = EventStore.currentVersion(warehouse, "demo", "run").get
    (2 until 4).foreach(b => EventStore.write(batch(b), warehouse, "demo", "run"))
    // a compaction in the window adds no rows and must not pollute the
    // diff (its commit carries removes → skipped)
    EventStore.compactPartition(spark, warehouse, "demo", "run",
      month = "2026-12", rowsPerFile = 1_000_000L)
    val v2 = EventStore.currentVersion(warehouse, "demo", "run").get

    val (added, removals) = EventStore.readAddedBetween(
      spark, registry, warehouse, "demo", "run", v1, v2)
    assert(!removals,
      "row-preserving compaction must NOT trip the rows-removed flag " +
        "(its commit is note-annotated 'compact')")
    val ids = added.select("event_id").collect().map(_.getLong(0))
    assert(ids.length == 60 && ids.toSet == (60L until 120L).toSet,
      s"diff served ${ids.length} rows: not exactly the appended batches")

    // an ERASURE in the window is a genuine removal — the governance
    // flag flips
    EventStore.deleteUser(spark, warehouse, "demo", "run", "_user", "u1")
    val v3 = EventStore.currentVersion(warehouse, "demo", "run").get
    val (_, erased) = EventStore.readAddedBetween(
      spark, registry, warehouse, "demo", "run", v2, v3)
    assert(erased, "erasure in the window must flip the rows-removed flag")

    // empty window → zero rows; bad windows are caller errors
    val (none, _) = EventStore.readAddedBetween(
      spark, registry, warehouse, "demo", "run", v3, v3)
    assert(none.count() == 0)
    intercept[IllegalArgumentException] {
      EventStore.readAddedBetween(
        spark, registry, warehouse, "demo", "run", v3, v3 + 99)
    }
  }

  test("second rewriter on a locked partition fails fast; lock releases") {
    val warehouse = graft.TempDirs.scratch("graft-lock").toString
    val df = (0 until 20).map(i => (i.toLong, s"u$i")).toDF("event_id", "_user")
      .withColumn("_time", lit("2026-04-01 00:00:00").cast("timestamp"))
    EventStore.write(df, warehouse, "demo", "tap")
    val part = new java.io.File(s"$warehouse/demo/tap/_month=2026-04")
    val marker = new java.io.File(part, "_rewrite.lock")
    assert(marker.createNewFile(), "fixture could not place the lock")
    val e = intercept[IllegalStateException] {
      EventStore.compactPartition(spark, warehouse, "demo", "tap", "2026-04")
    }
    assert(e.getMessage.contains("concurrent rewrite"))
    assert(marker.delete())
    // holder gone: compaction proceeds and releases its own lock
    assert(EventStore.compactPartition(
      spark, warehouse, "demo", "tap", "2026-04") == 1)
    assert(!marker.exists(), "lock leaked after successful rewrite")
  }
}
