package graft.store

import graft.FileTree
import graft.core.SchemaRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Columnar event store (S8's Spark restatement): append-only parquet
  * partitioned by `_month` derived from `_time` — the reference's
  * monthly range partitions (PostgresqlEventStore.java:149-158,
  * PostgresqlMetastore.java:310-311) become directory partitions, so
  * time-range queries prune at the source (dynamic partition pruning).
  * Partition creation is implicit in Spark — the retry dance the
  * reference does on constraint violations disappears.
  *
  * Source-only trigger fields (`_ip`, `_user_agent`, …) are dropped
  * before persist (P1, PostgresqlEventStore.java:362-373).
  *
  * Reads align files written under older schemas to the current
  * registry schema (missing columns null-filled — the unionByName
  * semantics of additive evolution).
  */
object EventStore {

  /** Magic source fields excluded from the persisted row (P1). */
  val sourceOnlyFields: Seq[String] = Seq("_ip", "_user_agent", "_referrer")

  /** The collection's table directory — the streaming tail
    * ([[graft.streaming.Subscriptions.manifestStream]]) spools its
    * append commits: every appended batch's files become a micro-batch,
    * rewrites never re-enter the tail. */
  def tablePath(warehouse: String, project: String, collection: String): String =
    s"$warehouse/$project/$collection"

  /** Append a typed batch; `_month` derived from `_time` when present. */
  def write(df: DataFrame, warehouse: String, project: String,
      collection: String): Unit = {
    val dropped = df.drop(sourceOnlyFields: _*)
    // a batch whose events carry no fields at all has nothing storable:
    // partitioning by _month alone would make EVERY column a partition
    // column, which Spark rejects with an AnalysisException that would
    // surface as a 500 from the collect door
    if (dropped.columns.isEmpty) return
    val withMonth =
      if (dropped.columns.contains("_time"))
        dropped.withColumn("_month", date_format(col("_time"), "yyyy-MM"))
      else dropped.withColumn("_month", lit("unknown"))
    stagedAppend(withMonth, tablePath(warehouse, project, collection),
      Seq("_month"))
  }

  /** Staged-move append — the multi-driver-safe commit for appends.
    *
    * A vanilla `write.mode("append").parquet(table)` stages under the
    * TABLE's own `<table>/_temporary`, which concurrent jobs writing
    * the same path SHARE: each job's cleanup deletes the other's
    * staged files (the reason the gateway serializes store writes on
    * one JVM's writeLock, and the reference leans on Postgres
    * transactions — PostgresqlEventStore.java:83-101). Here each batch
    * instead writes to a PRIVATE hidden staging dir inside the table
    * (its own `_temporary`, no sharing), then publishes by moving the
    * completed part files into the real partition dirs. Part-file
    * names embed the writing job's UUID, so concurrent publishers
    * never collide, and each `Files.move` is an atomic same-filesystem
    * rename — a reader (batch scan or the streaming tail's file
    * source) sees a complete file or no file, never a partial one.
    * Crash mid-publish leaves a prefix of the batch's files on disk but
    * COMMITS nothing: the batch becomes visible only when its
    * [[TableManifest]] commit lands (the r15 upgrade — batch-level
    * atomicity fell out of the manifest for free; orphaned part files
    * age out via [[TableManifest.vacuum]]). */
  private def stagedAppend(df: DataFrame, table: String,
      partitionCols: Seq[String]): Unit = {
    val tableDir = new java.io.File(table)
    tableDir.mkdirs()
    // dot-prefixed: partition discovery and file-source listings skip it
    val staging = new java.io.File(tableDir,
      s".staging-${java.util.UUID.randomUUID()}")
    try {
      df.write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(staging.getAbsolutePath)
      val files = publishDir(staging, tableDir)
      // an all-empty batch publishes no files — don't burn a version
      if (files.nonEmpty) TableManifest.commit(table, files)
    } finally FileTree.delete(staging)
  }

  /** Move a completed staging dir's part files into the table,
    * preserving partition-relative paths; returns the published rels
    * (the manifest delta). Partition dirs (`key=value`) carry the
    * underscore prefix too — recurse on them, skip only Spark's
    * `_temporary`/hidden dirs. */
  private def publishDir(staging: java.io.File,
      tableDir: java.io.File): Seq[String] = {
    val published = Seq.newBuilder[String]
    def publish(src: java.io.File, dst: java.io.File, rel: String): Unit =
      src.listFiles().foreach { f =>
        if (f.isDirectory &&
          (f.getName.contains("=") || (!f.getName.startsWith("_") &&
            !f.getName.startsWith("."))))
          publish(f, new java.io.File(dst, f.getName), s"$rel${f.getName}/")
        else if (f.isFile && f.getName.startsWith("part-")) {
          dst.mkdirs()
          publishMove(f, new java.io.File(dst, f.getName))
          published += s"$rel${f.getName}"
        }
      }
    publish(staging, tableDir, "")
    published.result()
  }

  /** Pinned-snapshot scan of a table: resolve the newest
    * [[TableManifest]] once and read exactly its file list (basePath
    * keeps partition-column inference and pruning identical to a
    * directory scan), so a query races neither a concurrent append
    * (uncommitted files are invisible) nor a compaction (the rewritten
    * files it pinned stay on disk until [[vacuum]]) — each row is seen
    * exactly once, the snapshot isolation the reference buys from
    * Postgres MVCC (PostgresqlEventStore.java:83-101). Pre-manifest
    * tables fall back to the directory listing; a table whose committed
    * file set is legitimately EMPTY (an erasure rewrite that removed
    * every remaining row commits adds=Nil) must NOT fall back — the
    * directory can still hold uncommitted in-flight appends and
    * vacuum-pending superseded files, exactly the non-isolated view the
    * manifest exists to prevent — so it reads as an empty frame carrying
    * the structural columns (`emptyCols`) downstream code filters or
    * selects on; the registry align null-fills the rest. */
  private def scanTable(spark: SparkSession, table: String,
      emptyCols: Seq[String]): DataFrame =
    TableManifest.snapshot(table) match {
      case Some(files) if files.nonEmpty => spark.read
        .option("basePath", table).option("mergeSchema", "true")
        .parquet(files: _*)
      case Some(_) => emptyFrame(spark, emptyCols)
      case None =>
        // pre-manifest fallback — but a table dir holding no VISIBLE
        // entries (only hidden dirs: a subscription spool, a crashed
        // staging dir) would make spark.read throw "unable to infer
        // schema"; one root listing distinguishes it
        val entries = Option(new java.io.File(table).listFiles())
          .getOrElse(Array.empty)
        val hasData = entries.exists(f =>
          f.getName.contains("=") || f.getName.startsWith("part-"))
        if (!hasData) emptyFrame(spark, emptyCols)
        else spark.read.option("mergeSchema", "true").parquet(table)
    }

  private def emptyFrame(spark: SparkSession, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(cols.map(c => StructField(c, StringType))))
  }

  /** Time travel: the table as of one committed log version — the
    * capability a training pipeline needs for REPRODUCIBLE runs: pin
    * `(collection, version)` in the run's metadata and every re-read
    * resolves the identical file set, whatever has been appended or
    * compacted since (Delta/Iceberg's `VERSION AS OF`, restated on the
    * commit log). Only versions a [[vacuum]] retention window still
    * covers resolve; older ones fail fast on the missing files rather
    * than silently reading a different corpus. `currentVersion` is the
    * number to pin. */
  def currentVersion(warehouse: String, project: String,
      collection: String): Option[Long] =
    TableManifest.latestVersion(tablePath(warehouse, project, collection))

  def readAt(spark: SparkSession, registry: SchemaRegistry, warehouse: String,
      project: String, collection: String, version: Long): DataFrame = {
    val table = tablePath(warehouse, project, collection)
    val head = TableManifest.latestVersion(table).getOrElse(
      throw new IllegalArgumentException(
        s"$project/$collection has no committed versions"))
    if (version < 1 || version > head) throw new IllegalArgumentException(
      s"version $version of $project/$collection out of range 1..$head")
    val files =
      try TableManifest.filesAt(table, version).toSeq.sorted
        .map(rel => new java.io.File(table, rel).getAbsolutePath)
      catch {
        // the log tail behind a vacuumed checkpoint is gone — a caller
        // error (stale pin), not an engine fault
        case _: java.nio.file.NoSuchFileException =>
          throw new IllegalArgumentException(
            s"version $version of $project/$collection is no longer " +
              "resolvable (behind the vacuum retention window)")
      }
    // the log can outlive the data: vacuum (or an erasure's prompt
    // deleteNow) removes superseded files while their commits remain
    // foldable — the stale pin must fail FAST as the caller's error
    // (doors map this to a 400), never as a mid-scan missing-file crash
    files.find(p => !new java.io.File(p).isFile).foreach { missing =>
      throw new IllegalArgumentException(
        s"version $version of $project/$collection is no longer " +
          s"resolvable (${new java.io.File(missing).getName} was " +
          "vacuumed or erased)")
    }
    // an EMPTY committed set is a legitimate pinnable state (an erasure
    // that removed every remaining row commits adds=Nil) — the pin
    // resolves to an empty frame, same rule as scanTable's head read
    val df =
      if (files.isEmpty) emptyFrame(spark, Seq("_month"))
      else spark.read.option("basePath", table).option("mergeSchema", "true")
        .parquet(files: _*)
    alignToRegistry(df, registry, project, collection)
  }

  /** O(delta) corpus diff: the rows APPENDED between two committed
    * versions, read from exactly the files append-only commits in
    * `(fromV, toV]` added — never a scan of either full corpus (at
    * 100 TB, diffing two pins by reading both sides is a non-starter;
    * the commit log already knows the delta). Rewrite commits add no
    * rows and contribute nothing to the frame; the second return value
    * flags whether any ROW-REMOVING rewrite landed in the window —
    * i.e. whether some `fromV` rows are gone at `toV` (training-data
    * governance: "did anything LEAVE the corpus since the pinned
    * run?"). Commits note WHY they rewrote ([[TableManifest.commit]]'s
    * `#note=` annotation): a `compact` rewrite is row-preserving and
    * does NOT trip the flag; an `erasure` — or any unannotated rewrite,
    * conservatively — does. Fails fast when the window is behind the
    * vacuum retention horizon, like [[readAt]]. */
  def readAddedBetween(spark: SparkSession, registry: SchemaRegistry,
      warehouse: String, project: String, collection: String,
      fromV: Long, toV: Long): (DataFrame, Boolean) = {
    val table = tablePath(warehouse, project, collection)
    val head = TableManifest.latestVersion(table).getOrElse(
      throw new IllegalArgumentException(
        s"$project/$collection has no committed versions"))
    if (fromV < 0 || toV < fromV || toV > head)
      throw new IllegalArgumentException(
        s"bad version window $fromV..$toV for $project/$collection (head $head)")
    var rewrites = false
    val added = Seq.newBuilder[String]
    ((fromV + 1) to toV).foreach { v =>
      val (adds, removes) =
        try TableManifest.commitDelta(table, v)
        catch {
          case _: java.nio.file.NoSuchFileException =>
            throw new IllegalArgumentException(
              s"version window $fromV..$toV of $project/$collection is no " +
                "longer resolvable (behind the vacuum retention window)")
        }
      if (removes.nonEmpty) {
        // row-preserving compaction never removes rows; anything else
        // (erasure, or a rewrite predating the annotation) may have
        if (!TableManifest.commitNote(table, v).contains("compact"))
          rewrites = true
      } else added ++= adds
    }
    val files = added.result().sorted
      .map(rel => new java.io.File(table, rel).getAbsolutePath)
      // a file appended in the window may have been compacted away and
      // vacuumed since; its ROWS live on in the rewrite output, but the
      // additive diff can no longer serve them — fail fast, same
      // contract as a vacuumed readAt pin
      .map { p =>
        if (!new java.io.File(p).isFile) throw new IllegalArgumentException(
          s"version window $fromV..$toV of $project/$collection is no " +
            "longer resolvable (an appended file was rewritten and vacuumed)")
        p
      }
    val df =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("_month",
              org.apache.spark.sql.types.StringType))))
      else spark.read.option("basePath", table).option("mergeSchema", "true")
        .parquet(files: _*)
    (alignToRegistry(df, registry, project, collection), rewrites)
  }

  /** Physically remove files superseded by compaction/erasure commits
    * (and aged-out crashed staging dirs) once no retained manifest
    * references them — see [[TableManifest.vacuum]]. */
  def vacuum(warehouse: String, project: String, collection: String,
      retainVersions: Int = 1, graceMs: Long = 10 * 60 * 1000L): Int =
    TableManifest.vacuum(tablePath(warehouse, project, collection),
      retainVersions, graceMs)

  /** Read back aligned to the registry's current schema: files written
    * before an evolution lack the new columns; mergeSchema unions file
    * footers and the final select null-fills anything still missing
    * and fixes column order. */
  def read(spark: SparkSession, registry: SchemaRegistry, warehouse: String,
      project: String, collection: String): DataFrame =
    alignToRegistry(
      scanTable(spark, tablePath(warehouse, project, collection),
        emptyCols = Seq("_month")),
      registry, project, collection)

  private def alignToRegistry(df: DataFrame, registry: SchemaRegistry,
      project: String, collection: String): DataFrame =
    registry.schema(project, collection) match {
      case None => df
      case Some(fields) =>
        val cols = fields.map { f =>
          if (df.columns.contains(f.name)) col(f.name).cast(f.tpe.spark).as(f.name)
          else lit(null).cast(f.tpe.spark).as(f.name)
        } :+ col("_month") // partition column rides along for pruning
        df.select(cols: _*)
    }

  /** Dead-letter append (S14): `$invalid_schema` table per project. */
  def writeDeadLetter(dead: DataFrame, warehouse: String, project: String): Unit =
    stagedAppend(dead, s"$warehouse/$project/invalid_schema", Seq.empty)

  /** Manifest-committed append to an auxiliary table with directory
    * partitions — the bucketed ops-log layout (`_bucket=k/`): the same
    * staged-move + [[TableManifest]] commit the event tables get —
    * batch atomicity, snapshot-isolated readers, pins/time travel,
    * vacuum. */
  private[graft] def appendPartitioned(df: DataFrame, table: String,
      partitionCols: Seq[String]): Unit =
    stagedAppend(df, table, partitionCols)

  /** Id-hash bucket count for the profile ops log, and the partition
    * column carrying it. At 100 TB of events the ops log is ~10⁹ rows:
    * unbucketed, every `/user/get` point lookup scans the WHOLE log
    * (the reference answers from a Postgres index,
    * PostgresqlUserStorage.java:604-667); with `_bucket =
    * pmod(hash(id), 64)` as a directory partition, the lookup's
    * foldable bucket predicate partition-prunes to 1/64 of the files,
    * and an erasure rewrites ONE bucket instead of the log. The hash is
    * Spark's `hash()` (Murmur3, seed 42 — the same function its own
    * bucketing relies on), so writer and reader can never disagree. */
  private[graft] val OpsBuckets = 64
  private[graft] val OpsBucketCol = "_bucket"

  /** The bucket expression for `idCol` — ONE formula shared by the
    * append path, the point-lookup filter, erasure scoping, and the
    * bucketize migration, so the mapping cannot drift. */
  private[graft] def opsBucket(idCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    pmod(hash(idCol), lit(OpsBuckets)).cast("int")

  /** Every committed data file of `table` (any partition depth) —
    * manifest snapshot, or the directory listing for a pre-manifest
    * table (where only completed part files exist). */
  private def allCommittedRels(table: String): Seq[String] =
    TableManifest.latest(table).map(_._2.toSeq.sorted)
      .getOrElse(TableManifest.diskFiles(table).toSeq.sorted)

  /** One-time layout migration for a pre-bucketed ops log: rewrite the
    * committed ROOT-LEVEL files (the unbucketed layout) into
    * `_bucket=k/` partitions in a single row-preserving commit
    * (`#note=compact` — the corpus-diff governance flag must not trip).
    * Files already under bucket dirs are left untouched, so an
    * interrupted migration resumes cleanly. Readers never see a mixed
    * committed state: the swap is one manifest version. */
  private[graft] def bucketizeTable(spark: SparkSession, table: String,
      idCol: String): Boolean = {
    val dir = new java.io.File(table).getAbsoluteFile
    if (!dir.isDirectory) return false
    withPartitionLock(dir) {
      val legacy = allCommittedRels(table).filter(!_.contains("/"))
      if (legacy.isEmpty) false
      else {
        // no basePath: nothing to infer on root-level files; the bucket
        // is (re)computed from the id, same formula as everywhere
        val df = spark.read.option("mergeSchema", "true")
          .parquet(legacy.map(rel =>
            new java.io.File(dir, rel).getAbsolutePath): _*)
          .withColumn(OpsBucketCol, opsBucket(col(idCol)))
        val tmp = new java.io.File(
          s"${dir.getAbsolutePath}.rewriting-${java.util.UUID.randomUUID()}")
        try {
          df.write.mode("overwrite").partitionBy(OpsBucketCol)
            .parquet(tmp.getAbsolutePath)
          val moved = publishDir(tmp, dir)
          TableManifest.commit(table, moved, legacy, note = Some("compact")): Unit
        } finally FileTree.delete(tmp)
        true
      }
    }
  }

  /** [[scanTable]] for callers outside the store (the gateway's ops-log
    * reads): ONE copy of the snapshot-isolation rules — manifest
    * snapshot, legitimately-empty committed set (never a directory
    * fallback), pre-manifest directory listing. The empty cases return
    * a frame of string-typed `emptyCols` only; callers detect "no real
    * columns" rather than re-deriving the three-way split. */
  private[graft] def scanRaw(spark: SparkSession, table: String,
      emptyCols: Seq[String]): DataFrame =
    scanTable(spark, table, emptyCols)

  /** Right-to-be-forgotten on the (bucketed) profile ops log: rewrite
    * the committed files of `value`'s BUCKET minus its rows — never the
    * whole log; at 10⁹ ops that is 1/[[OpsBuckets]] of the work — and
    * commit the swap as ONE manifest version annotated `erasure`,
    * deleting the superseded files immediately (prompt physical removal
    * outranks readers pinned to pre-erasure versions — their pins fail
    * fast rather than resurrect the erased user, the same contract
    * [[deleteUser]] gives event partitions). Files from the
    * pre-bucketed layout (root-level rels — a log whose bucketize
    * migration hasn't landed) are conservatively included in the scope.
    * The `_rewrite.lock` atomic create serializes rewriters ACROSS
    * JVMs, and the tmp dir is per-attempt unique, so two gateways
    * erasing concurrently can never clobber each other's staging (the
    * failure mode of the pre-manifest fixed-path two-rename swap).
    * Returns rows removed. */
  def eraseRows(spark: SparkSession, table: String, column: String,
      value: Any, vacuumGraceMs: Long = 10 * 60 * 1000L): Long = {
    val dir = new java.io.File(table).getAbsoluteFile
    if (!dir.isDirectory) return 0L
    val removed = withPartitionLock(dir) {
      val all = allCommittedRels(table)
      // the value's rows can only live in its bucket — or in legacy
      // root-level files that predate the bucketed layout
      val bucket = spark.range(1)
        .select(opsBucket(lit(value).cast("string"))).head.getInt(0)
      val scope = all.filter(rel =>
        !rel.contains("/") || rel.startsWith(s"$OpsBucketCol=$bucket/"))
      if (scope.isEmpty) 0L
      else {
        // no basePath (scope can mix root-level and bucket-dir depths):
        // partition columns aren't inferred; the kept rows' bucket is
        // recomputed below with the shared formula
        val df = spark.read.option("mergeSchema", "true")
          .parquet(scope.map(rel =>
            new java.io.File(dir, rel).getAbsolutePath): _*)
        val hits = df.filter(col(column) === lit(value)).count()
        if (hits == 0) 0L
        else {
          val keep = df.filter(!(col(column) <=> lit(value)))
            .drop(OpsBucketCol)
            .withColumn(OpsBucketCol, opsBucket(col(column)))
          val tmp = new java.io.File(
            s"${dir.getAbsolutePath}.rewriting-${java.util.UUID.randomUUID()}")
          try {
            keep.write.mode("overwrite").partitionBy(OpsBucketCol)
              .parquet(tmp.getAbsolutePath)
            val moved = publishDir(tmp, dir)
            TableManifest.commit(table, moved, scope,
              note = Some("erasure")): Unit
          } finally FileTree.delete(tmp)
          scope.foreach { rel =>
            val f = new java.io.File(dir, rel)
            require(f.delete() || !f.exists(), s"could not delete $f")
            new java.io.File(f.getParentFile, s".${f.getName}.crc")
              .delete(): Unit
          }
          hits
        }
      }
    }
    // reap leftovers of EARLIER rewrites (a crash between a commit and
    // its deleteNow pass leaves superseded files on disk) — they may
    // still hold erased rows. The grace window protects in-flight
    // appends from any JVM, same reasoning as deleteUser's vacuum.
    if (removed > 0)
      TableManifest.vacuum(dir.getAbsolutePath, retainVersions = 1,
        graceMs = vacuumGraceMs): Unit
    removed
  }

  /** Sweep crashed erasure attempts' staging dirs (`<table>.rewriting-*`
    * next to the table) older than the grace window — a live attempt's
    * dir is younger than it. Run at gateway start, like the staged
    * appends' `.staging-*` sweep runs inside [[TableManifest.vacuum]]. */
  def sweepRewriteTmp(table: String,
      graceMs: Long = 10 * 60 * 1000L): Unit = {
    val dir = new java.io.File(table).getAbsoluteFile
    val parent = dir.getParentFile
    val prefix = s"${dir.getName}.rewriting-"
    val cutoff = System.currentTimeMillis() - graceMs
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
        f.lastModified() < cutoff)
      .foreach(FileTree.delete)
  }

  /** Small-files compaction — the maintenance job an append-only
    * micro-batch store needs at scale: every ingest batch appends at
    * least one file per touched partition, so a month accumulates
    * thousands of KB-sized files and scan task scheduling (plus
    * footer reads) comes to dominate query time. Rewrites one
    * partition's files into `ceil(rows / rowsPerFile)` files via an
    * optimistic FILE-SCOPED commit: snapshot the partition's committed
    * part files, rewrite THOSE into a hidden aside dir, then publish —
    * move the new files in, delete exactly the snapshot. A batch
    * appended mid-compaction is not in the snapshot and survives
    * untouched (the earlier whole-directory swap would have deleted
    * it), so compaction is safe against concurrent appenders from any
    * driver. One REWRITER per partition is enforced by an atomic
    * `_rewrite.lock` create ([[withPartitionLock]]). Runs
    * per-partition so a 100 TB table compacts incrementally, month by
    * month, without a full rewrite.
    *
    * Live tails are SAFE against compaction since r16: subscriptions
    * tail a [[ManifestTail]] spool that reflects only append commits,
    * so this rewrite's files never re-enter a live tail (the old
    * direct-directory tail re-delivered them as fresh rows). Only a
    * raw [[graft.streaming.Subscriptions.fileStream]] pointed straight
    * at the table directory retains the old hazard.
    *
    * `zorderBy = Some((userCol, timeCol))` makes the rewrite also
    * RE-CLUSTER the partition on the Morton interleave of the two
    * columns ([[graft.analytics.LayoutQueries.zorderWrite]]): each
    * output file then covers a narrow rectangle in BOTH dimensions, so
    * parquet row-group min/max statistics prune scans for predicates on
    * either — compaction is the natural (and only) moment the store
    * pays that sort. zo1 is the audit of the layout this produces. */
  def compactPartition(spark: SparkSession, warehouse: String,
      project: String, collection: String, month: String,
      rowsPerFile: Long = 1_000_000L,
      zorderBy: Option[(String, String)] = None): Int = {
    val table = tablePath(warehouse, project, collection)
    val dir = s"$table/_month=$month"
    val src = new java.io.File(dir)
    require(src.isDirectory, s"no such partition: $dir")
    withPartitionLock(src) {
      val snapshot = committedFiles(table, src)
      if (snapshot.isEmpty) 0
      else {
        // explicit file list, NOT the directory: files appended after
        // this snapshot must be neither rewritten nor deleted.
        // mergeSchema because a partition can span a schema evolution
        val df = spark.read.option("mergeSchema", "true")
          .parquet(snapshot.map(_.getAbsolutePath): _*)
        val n = df.count()
        val files = math.max(1, math.ceil(n.toDouble / rowsPerFile).toInt)
        val compacted = zorderBy match {
          case Some((userCol, timeCol)) =>
            graft.analytics.LayoutQueries.zorderWrite(df, files, userCol, timeCol)
          case None => df.coalesce(files)
        }
        val tmp = new java.io.File(s"$dir.compacting")
        compacted.write.mode("overwrite").parquet(tmp.getAbsolutePath)
        // logical commit only: superseded files stay on disk for
        // readers pinned to older manifests — vacuum() reaps them
        commitRewrite(table, src, snapshot, tmp, deleteNow = false,
          note = "compact")
        files
      }
    }
  }

  /** A partition's committed data files — the snapshot a rewrite is
    * scoped to. Manifest tables answer from the NEWEST manifest (a file
    * on disk but not committed — a mid-flight append, or a
    * vacuum-pending leftover of an older rewrite — must be neither
    * rewritten, deleted, nor resurrected); pre-manifest tables fall
    * back to the directory listing, where only completed `part-*`
    * files exist. */
  private def committedFiles(table: String,
      dir: java.io.File): Array[java.io.File] =
    TableManifest.latest(table) match {
      case Some((_, files)) =>
        val tableDir = new java.io.File(table)
        val prefix = tableDir.toPath.relativize(dir.toPath).toString match {
          case "" => ""
          case p => s"$p/"
        }
        files.filter(rel => rel.startsWith(prefix) &&
            !rel.stripPrefix(prefix).contains("/"))
          .map(rel => new java.io.File(tableDir, rel)).toArray
      case None =>
        dir.listFiles().filter(f => f.isFile && f.getName.startsWith("part-"))
    }

  /** One rewriter per partition, across JVMs: an atomic marker-file
    * create (the same fence on any filesystem with atomic create —
    * local, HDFS; S3 lacks it, so object-store deployments run
    * rewrites from a single maintenance scheduler, see SCALE.md). The
    * underscore prefix keeps scans from reading the marker. A crashed
    * holder leaves the marker behind — deliberate: a stale lock is a
    * crashed REWRITE, and an operator should look before more
    * rewriters pile in (the aside dir tells the story). */
  private def withPartitionLock[T](dir: java.io.File)(body: => T): T = {
    val lock = new java.io.File(dir, "_rewrite.lock")
    if (!lock.createNewFile())
      throw new IllegalStateException(
        s"concurrent rewrite on $dir: ${lock.getName} exists (holder " +
          "running or crashed mid-rewrite; remove the marker after " +
          "inspecting the partition's aside dir)")
    try body
    finally { lock.delete(): Unit }
  }

  /** Publish a rewrite: move the aside dir's part files in (names are
    * job-UUID-unique — never collide with live files), then commit the
    * swap in ONE manifest version (new files in, snapshot out) — a
    * reader pins either the pre-rewrite or the post-rewrite list, never
    * a mix, so it sees each row exactly once. Physical deletion of the
    * snapshot is deferred to [[vacuum]] unless `deleteNow` (erasure
    * jobs, where prompt removal outranks readers pinned to history). */
  private def commitRewrite(table: String, dir: java.io.File,
      snapshot: Array[java.io.File], tmp: java.io.File,
      deleteNow: Boolean, note: String): Unit = {
    val tablePath = new java.io.File(table).toPath
    def rel(f: java.io.File) = tablePath.relativize(f.toPath).toString
    val moved = tmp.listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .map { f =>
        val target = new java.io.File(dir, f.getName)
        publishMove(f, target)
        rel(target)
      }
    TableManifest.commit(table, moved.toSeq, snapshot.map(rel).toSeq,
      note = Some(note))
    if (deleteNow) snapshot.foreach { f =>
      require(f.delete() || !f.exists(), s"could not delete $f")
      // local-fs checksum shadow, if any
      new java.io.File(dir, s".${f.getName}.crc").delete(): Unit
    }
    FileTree.delete(tmp)
  }

  /** Atomic same-filesystem rename that also stamps the target's mtime
    * to NOW — publish time, not staging-write time. [[TableManifest
    * .vacuum]]'s grace window keys on mtime to protect the
    * moved-but-not-yet-committed gap of an in-flight batch; a bare
    * `Files.move` preserves the mtime the parquet writer set, so a
    * batch whose write ran longer than the grace window would land
    * already past the cutoff and a concurrent vacuum (from ANY JVM —
    * the single-gateway writeLock doesn't reach cross-process writers)
    * could reap it before its manifest commit: silent data loss. */
  private[store] def publishMove(src: java.io.File,
      target: java.io.File): Unit = {
    java.nio.file.Files.move(src.toPath, target.toPath)
    target.setLastModified(System.currentTimeMillis()): Unit
  }

  /** Right-to-be-forgotten: physically remove one user's events from a
    * collection. Partitions are surveyed first and only those actually
    * containing the user are rewritten (for most users that is a
    * handful of months, not the table); each rewrite is the same
    * lock-guarded file-scoped commit as compaction, so concurrent
    * appends survive. A batch of the user's events appended AFTER a
    * partition's snapshot is not deleted by that pass — quiesce the
    * user's ingest before the erasure job, or run it twice. Returns
    * (partitions rewritten, rows deleted). The profile side is the
    * op-log's job: append an unset-all tombstone and the merge folds
    * the profile away. */
  def deleteUser(spark: SparkSession, warehouse: String, project: String,
      collection: String, userCol: String, userId: Any,
      vacuumGraceMs: Long = 10 * 60 * 1000L): (Int, Long) = {
    // one ABSOLUTE basis throughout: `parts` below inherit this root's
    // absoluteness, so committedFiles/commitRewrite's Path.relativize
    // never mixes absolute and relative (which throws) under a
    // relative warehouse path
    val root = new java.io.File(tablePath(warehouse, project, collection))
      .getAbsoluteFile
    // a collection declared (schema/add) but never stored has no table
    // dir — and trivially zero rows of the user to delete
    if (!root.isDirectory) return (0, 0L)
    val parts = root.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("_month="))
    var rewritten = 0
    var deleted = 0L
    parts.foreach { part =>
      withPartitionLock(part) {
        val snapshot = committedFiles(root.getAbsolutePath, part)
        if (snapshot.nonEmpty) {
          val df = spark.read.option("mergeSchema", "true")
            .parquet(snapshot.map(_.getAbsolutePath): _*)
          val hits = df.filter(col(userCol) === lit(userId)).count()
          if (hits > 0) {
            val keep = df.filter(!(col(userCol) <=> lit(userId)))
            val tmp = new java.io.File(s"${part.getAbsolutePath}.deleting")
            keep.write.mode("overwrite").parquet(tmp.getAbsolutePath)
            // erasure: physical deletion is immediate, and superseded
            // history versions must not survive either
            commitRewrite(root.getAbsolutePath, part, snapshot, tmp,
              deleteNow = true, note = "erasure")
            // a subscription spool's hard links would keep the erased
            // rows' inodes alive — purge the same files from every tail
            val rootPath = root.toPath
            ManifestTail.purgeFromSpools(root,
              snapshot.map(f => rootPath.relativize(f.toPath).toString).toSeq)
            rewritten += 1
            deleted += hits
          }
        }
      }
    }
    // purge vacuum-pending leftovers of EARLIER rewrites too — they may
    // still hold the user's rows. The grace window protects files in the
    // move-then-commit window of a live append from ANY writer JVM (part
    // files are publish-stamped, but the publish→commit gap can span a
    // slow multi-file move), so it stays at the full default rather than
    // a short erasure-special value; leftovers younger than the window
    // are reaped by the next vacuum or erasure run.
    if (rewritten > 0)
      TableManifest.vacuum(root.getAbsolutePath, retainVersions = 1,
        graceMs = vacuumGraceMs)
    (rewritten, deleted)
  }
}
