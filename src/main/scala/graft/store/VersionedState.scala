package graft.store

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

/** Versioned parquet state with an atomically-flipped `_CURRENT`
  * pointer — the persistence layout of every maintained store
  * ([[MaintainedStore]]). Parquet cannot be read and overwritten in
  * place, so each refresh writes the NEXT `v=N` directory and renames
  * `_CURRENT.tmp` over `_CURRENT`: a concurrent reader resolves the old
  * or the new version, never a torn one.
  *
  * All IO goes through the Hadoop FileSystem/FileContext API resolved
  * from the path's scheme, so the same layout works on local disk,
  * HDFS, and object stores with a Hadoop connector. The pointer flip
  * uses `FileContext.rename(OVERWRITE)` — atomic on POSIX filesystems
  * and HDFS. Object stores without atomic rename (e.g. S3A) get
  * non-atomic last-writer-wins pointer replacement: still safe for the
  * single-writer maintenance model (one refresh job per store), which
  * is the documented deployment contract; concurrent UNCOORDINATED
  * writers would need a lock service on such stores.
  *
  * The pointer records `version:lastBatchId`: the streaming high-water
  * mark [[MaintainedStore.maintainBatch]] fences on. Batch-API writes
  * record -1 (no stream). A bare `v` with no `:batch` suffix parses as
  * `(v, -1)` so pre-existing state directories keep working.
  */
private[graft] object VersionedState {

  def versionDir(path: String, v: Long): String = s"$path/v=$v"

  private def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private def pointerPath(path: String) = new Path(path, "_CURRENT")

  def exists(path: String): Boolean = {
    val p = pointerPath(path)
    fsOf(p).exists(p)
  }

  /** `_CURRENT` content `v[:lastBatchId]` → (version, lastBatchId). */
  private def readPointer(path: String): (Long, Long) = {
    val p = pointerPath(path)
    val in = fsOf(p).open(p)
    val s =
      try new String(in.readAllBytes(), UTF_8).trim
      finally in.close()
    s.split(':') match {
      case Array(v, b) => (v.toLong, b.toLong)
      case _           => (s.toLong, -1L)
    }
  }

  def currentVersion(path: String): Long = readPointer(path)._1

  /** High-water micro-batch id recorded at the last pointer flip; -1 if
    * the store has only ever been written through the batch API. */
  def lastBatchId(path: String): Long = readPointer(path)._2

  def readCurrent(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(versionDir(path, currentVersion(path)))

  /** Whether version `v`'s directory is still on disk (compaction
    * removes superseded versions past its grace). */
  def versionExists(path: String, v: Long): Boolean = {
    val p = new Path(versionDir(path, v))
    fsOf(p).exists(p)
  }

  /** Read a specific (possibly superseded) version — callers must
    * check [[versionExists]] first. */
  def readVersion(spark: SparkSession, path: String, v: Long): DataFrame =
    spark.read.parquet(versionDir(path, v))

  def writeVersion(state: DataFrame, path: String, v: Long,
      batchId: Long = -1L): Unit = {
    state.write.mode("overwrite").parquet(versionDir(path, v))
    writePointer(path, v, batchId)
  }

  /** Flip `_CURRENT` to `v` (recording the streaming high-water
    * `batchId`): write `_CURRENT.tmp`, rename with OVERWRITE. The
    * version directory must be complete before calling. */
  def writePointer(path: String, v: Long, batchId: Long = -1L): Unit = {
    val tmp = new Path(path, "_CURRENT.tmp")
    val dst = pointerPath(path)
    val fs = fsOf(dst)
    val out = fs.create(tmp, true)
    try out.write(s"$v:$batchId".getBytes(UTF_8))
    finally out.close()
    val fc = FileContext.getFileContext(fs.getUri, hadoopConf)
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
  }

  /** Read a small sidecar marker file (e.g. a compaction base), None if
    * absent. */
  def readMarker(path: String, name: String): Option[String] = {
    val p = new Path(path, name)
    val fs = fsOf(p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8).trim)
      finally in.close()
    }
  }

  /** Write a sidecar marker atomically (tmp + rename-overwrite, the
    * pointer-flip discipline). */
  def writeMarker(path: String, name: String, value: String): Unit = {
    val tmp = new Path(path, s"$name.tmp")
    val dst = new Path(path, name)
    val fs = fsOf(dst)
    val out = fs.create(tmp, true)
    try out.write(value.getBytes(UTF_8))
    finally out.close()
    val fc = FileContext.getFileContext(fs.getUri, hadoopConf)
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
  }

  /** Remove superseded versions; `grace` keeps that many below current
    * so a reader that resolved the pointer just before a flip still
    * finds its files. */
  def compact(path: String, grace: Int = 1): Unit =
    deleteVersionsBelow(path, currentVersion(path) - grace)

  /** Delete every `v=N` directory with N < `cutoff`. */
  def deleteVersionsBelow(path: String, cutoff: Long): Unit = {
    val dir = new Path(path)
    val fs = fsOf(dir)
    fs.listStatus(dir).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .filter(st => st.getPath.getName.drop(2).toLong < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
  }
}

/** The lifecycle every maintained store shares: versioned state behind
  * [[VersionedState]]'s pointer, kept current by a stream of
  * micro-batches (Structured Streaming's `foreachBatch`, whose delivery
  * is at-least-once after crash recovery). A store supplies only what
  * differs: its first version ([[initialize]]) and its fold of a delta
  * into the next one ([[fold]]).
  *
  * The batch fence makes maintenance exactly-once. For a batch id:
  *  - with no state, the first non-empty batch initializes version 1;
  *  - an id at or below the recorded `lastBatchId` is a replay and is
  *    skipped;
  *  - an empty batch only flips the pointer to record its id, so it
  *    burns no version and leaves no gap;
  *  - otherwise the store folds the delta in at `currentVersion + 1`.
  *
  * The version written is always `currentVersion + 1`, never derived
  * from the batch id, and the pointer flips only after the version
  * directory is complete: a crash before the flip leaves the old
  * version current, and the replayed batch overwrites the leftover
  * directory. */
trait MaintainedStore {

  /** Write version 1 from the first batch (recording `batchId`). */
  def initialize(batch: DataFrame, path: String, batchId: Long = -1L): Unit

  /** Fold a non-empty delta into existing state as version
    * `currentVersion + 1`, recording `batchId` at the flip. */
  protected def fold(delta: DataFrame, path: String, batchId: Long): Unit

  /** The fence: whether micro-batch `batchId` is new to the store at
    * `path` (no state yet, or past the recorded high-water mark). */
  final def admits(path: String, batchId: Long): Boolean =
    !VersionedState.exists(path) || batchId > VersionedState.lastBatchId(path)

  /** One micro-batch of [[maintain]], behind the fence. */
  final def maintainBatch(delta: DataFrame, path: String, batchId: Long): Unit =
    if (admits(path, batchId)) {
      val bootstrap = !VersionedState.exists(path)
      if (!delta.isEmpty) {
        if (bootstrap) initialize(delta, path, batchId)
        else fold(delta, path, batchId)
      } else if (!bootstrap)
        VersionedState.writePointer(path,
          VersionedState.currentVersion(path), batchId)
    }

  /** Maintain the store continuously from a stream: each micro-batch is
    * one [[maintainBatch]]. */
  final def maintain(stream: DataFrame, path: String): DataStreamWriter[Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (delta: DataFrame, batchId: Long) => maintainBatch(delta, path, batchId)
    }
}

/** A store whose state is one algebraic frame: each batch reduces to a
  * [[partial]], and partials [[merge]] in any batch layout. Every
  * version is the whole merged state, so superseded versions can be
  * dropped by [[compact]]. */
trait MergedState extends MaintainedStore {

  /** Partial state of one batch. */
  def partial(batch: DataFrame): DataFrame

  /** Merge any number of state frames. */
  def merge(states: DataFrame*): DataFrame

  final def initialize(batch: DataFrame, path: String, batchId: Long): Unit =
    VersionedState.writeVersion(partial(batch), path, 1, batchId)

  /** Fold `delta` into the persisted state: read current, merge the
    * delta's partial, write the next version, flip the pointer. No
    * fence: for a caller that is the single writer. */
  final def refresh(spark: SparkSession, delta: DataFrame, path: String,
      batchId: Long = -1L): Unit = {
    val v = VersionedState.currentVersion(path)
    VersionedState.writeVersion(
      merge(VersionedState.readVersion(spark, path, v), partial(delta)),
      path, v + 1, batchId)
  }

  protected final def fold(delta: DataFrame, path: String, batchId: Long): Unit =
    refresh(delta.sparkSession, delta, path, batchId)

  /** [[initialize]] when there is no state yet, else [[refresh]] —
    * unfenced, for a single writer that holds its own lock. */
  final def initializeOrRefresh(spark: SparkSession, delta: DataFrame,
      path: String): Unit =
    if (VersionedState.exists(path)) refresh(spark, delta, path)
    else initialize(delta, path)

  /** Drop superseded state versions past `grace`. */
  final def compact(path: String, grace: Int = 1): Unit =
    VersionedState.compact(path, grace)
}

/** An append-only store: each batch lands as its own immutable `v=N`
  * directory, partitioned by [[partitionColumn]], and readers union
  * the live directories from the `_BASE` marker up to `_CURRENT`.
  * New rows never need merging with old ones, so union is the merge. */
trait PostingsStore extends MaintainedStore {

  /** The partition column of a postings directory: the probe's pruning
    * grain. */
  protected def partitionColumn: String

  /** Append a delta as version `expected`. Returns false (no-op) if that
    * version is already written — the append API's replay fence.
    * `batchId` records the streaming high-water mark (-1 for batch-API
    * appends). */
  def append(spark: SparkSession, delta: DataFrame, path: String,
      expected: Long, batchId: Long = -1L): Boolean

  protected final def fold(delta: DataFrame, path: String, batchId: Long): Unit = {
    append(delta.sparkSession, delta, path,
      VersionedState.currentVersion(path) + 1, batchId)
    ()
  }

  /** Sidecar markers a consolidated version carries over from the
    * version it replaces; none by default. */
  protected def carrySidecars(path: String, from: Long, to: Long): Unit = ()

  /** Whether `expected` is the next version to append; false if it is
    * already written (a replay). Any other gap is a caller error. */
  protected final def isNextVersion(path: String, expected: Long): Boolean = {
    val cur = VersionedState.currentVersion(path)
    require(expected <= cur + 1, s"append $expected against current $cur")
    expected == cur + 1
  }

  /** Write `p` as version `v`'s directory, one file set per partition
    * value (co-located first: without the exchange each input
    * partition opens a file in every partition dir it touches). The
    * caller flips the pointer. */
  protected final def writePostingsDir(p: DataFrame, path: String, v: Long): Unit =
    p.repartition(col(partitionColumn))
      .write.mode("overwrite").partitionBy(partitionColumn)
      .parquet(VersionedState.versionDir(path, v))

  /** First version directory still carrying live postings: versions
    * below the `_BASE` marker were folded into it by [[rebase]]. The
    * marker carries `base:previousBase` — a base beyond `_CURRENT` is an
    * in-flight rewrite that never flipped the pointer, so readers fall
    * back to the PREVIOUS base (whose dirs still exist; falling back to
    * 1 would point at dirs an earlier compaction already deleted). */
  protected final def baseVersion(path: String): Long = {
    val cur = VersionedState.currentVersion(path)
    VersionedState.readMarker(path, "_BASE").map { s =>
      val parts = s.split(':')
      val b = parts(0).toLong
      if (b <= cur) b
      else if (parts.length > 1) parts(1).toLong
      else 1L
    }.getOrElse(1L)
  }

  /** All live postings: the union of the immutable version dirs from the
    * base up to `_CURRENT`. `basePath` makes them one partitioned layout,
    * so a filter on the partition column still prunes files. */
  final def postings(spark: SparkSession, path: String): DataFrame = {
    val cur = VersionedState.currentVersion(path)
    val dirs = (baseVersion(path) to cur).map(VersionedState.versionDir(path, _))
    spark.read.option("basePath", path).parquet(dirs: _*).drop("v")
  }

  /** The `_BASE` protocol: `write(v)` writes the consolidated version
    * `v = cur + 1` (and its sidecars); then the base marker, then the
    * pointer flip (keeping the batch fence), then the superseded dirs
    * are deleted. Crash-safe at every step: the marker only takes effect
    * once `_CURRENT` reaches it, and a reader that resolved the old
    * pointer finds its dirs until the delete. `deferDeletion` keeps the
    * ENTIRE just-superseded set until the next rebase: a concurrent
    * reader resolves the full live set [base..cur] and a rebase
    * supersedes exactly that set, so keeping any smaller suffix protects
    * nothing; the next cycle removes everything below the old base. */
  protected final def rebase(path: String, deferDeletion: Boolean)(
      write: Long => Unit): Unit = {
    val oldBase = baseVersion(path)
    val v = VersionedState.currentVersion(path) + 1
    write(v)
    VersionedState.writeMarker(path, "_BASE", s"$v:$oldBase")
    VersionedState.writePointer(path, v, VersionedState.lastBatchId(path))
    VersionedState.deleteVersionsBelow(path, if (deferDeletion) oldBase else v)
  }

  /** Consolidate all live postings into ONE version directory — the
    * small-files maintenance an append-only store needs at scale: every
    * append lands a file set per touched partition, and probe-time
    * footer reads come to dominate scan cost. Appends then continue
    * from the consolidated version + 1. `deferDeletion=false` deletes
    * at once: the single-maintainer, no-concurrent-reader semantics. */
  final def compactPostings(spark: SparkSession, path: String,
      deferDeletion: Boolean = false): Unit = {
    val cur = VersionedState.currentVersion(path)
    if (baseVersion(path) != cur) // else already one live dir
      rebase(path, deferDeletion) { v =>
        writePostingsDir(postings(spark, path), path, v)
        carrySidecars(path, cur, v)
      }
  }
}
