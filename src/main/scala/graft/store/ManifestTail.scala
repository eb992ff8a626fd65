package graft.store

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** Manifest-aware streaming tail (closes the r15 "what's missing #2"):
  * the file-source subscription used to tail the TABLE directory, so a
  * compaction's rewritten part files re-entered a live tail as fresh
  * rows — silent duplicates. The reference never has this problem
  * because its tail is Kafka offsets (KafkaOffsetManager.java:24-90);
  * this is the same idea restated on the [[TableManifest]] commit log:
  * the tail advances through COMMIT VERSIONS, and only the files an
  * append-only commit ADDED become visible to the stream. A rewrite
  * commit — adds and removes in one version (compaction, erasure) — is
  * recognized as a rewrite and contributes nothing: its added files
  * are rewritten copies of rows the tail already delivered.
  *
  * Mechanically, each subscription owns a hidden SPOOL directory inside
  * the table (`.tail-<subId>/`, invisible to batch scans, manifest
  * adoption and vacuum alike), and [[advance]] hard-links committed
  * files into it preserving their partition-relative paths. The
  * Structured Streaming file source then tails the spool — Spark's own
  * checkpoint provides the per-file exactly-once bookkeeping, and this
  * layer controls WHICH files ever become visible. Hard links cost no
  * data copy and keep the spooled batch readable even after a vacuum
  * reaps the original (a tail that lags a compaction never loses rows);
  * on a filesystem without link support the advance degrades to a copy.
  *
  * Crash-safety: the spool's `_version` marker is written (atomically,
  * temp + move) only AFTER a version's links land, and re-linking an
  * existing link is a no-op — a crash mid-advance replays idempotently.
  */
object ManifestTail {

  private val Marker = "_version"

  /** The spool directory for one subscription — dot-prefixed inside the
    * table so every directory walker (partition discovery, manifest
    * adoption via [[TableManifest.diskFiles]], vacuum's staging sweep)
    * skips it. `subId` must be a path-safe token (the gateway enforces
    * alphanumeric ids). */
  def spoolDir(table: String, subId: String): File =
    new File(table, s".tail-$subId")

  private def readVersion(spool: File): Long = {
    val m = new File(spool, Marker)
    if (!m.isFile) -1L
    else new String(Files.readAllBytes(m.toPath), "UTF-8").trim.toLong
  }

  private def writeVersion(spool: File, v: Long): Unit = {
    val tmp = File.createTempFile(".version-", ".tmp", spool)
    Files.write(tmp.toPath, v.toString.getBytes("UTF-8"))
    Files.move(tmp.toPath, new File(spool, Marker).toPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private def linkIn(table: String, spool: File, rel: String): Boolean = {
    val dst = new File(spool, rel)
    if (dst.isFile) return false // idempotent replay of a crashed advance
    val src = new File(table, rel)
    // an append-committed file the tail never spooled but vacuum already
    // reaped (the rows live on only in a rewrite this tail skips): the
    // tail has LOST data — fail loudly, exactly like the vacuumed-log
    // case below; silent skip here would be the one silent gap in the
    // failOnDataLoss contract
    if (!src.isFile) throw new IllegalStateException(
      s"tail on $table fell behind the vacuum retention window " +
        s"($rel was superseded and reaped before the tail spooled it) — " +
        "recreate the subscription; raise vacuum retention to cover tail lag")
    dst.getParentFile.mkdirs()
    try { Files.createLink(dst.toPath, src.toPath); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false // racing advancers
      case _: UnsupportedOperationException =>
        Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
        true
    }
  }

  /** Per-spool insertion index: `version<TAB>insertMs<TAB>rel` appended
    * BEFORE the links land (record-then-link: a crash between the two
    * leaves an index entry whose file never arrived — harmless, the
    * next prune drops it — while link-then-record would leave LINKS
    * with no entry, which prune refuses forever: an unboundedly
    * growing spool). [[prune]] ages links by THIS record, never by
    * `File.lastModified` — a hard link shares the SOURCE inode's mtime
    * (publish time), so a head-snapshot fill over an old table would
    * otherwise make every link look ancient and a poll-lag-sized window
    * would delete unprocessed rows. Crash replay of an advance can
    * append duplicate lines; readers keep the first entry per rel. */
  private val LinkedIndex = "_linked"

  /** JVM-local per-spool mutex: [[advance]]'s index appends and
    * [[prune]]'s read-rewrite of the same file must not interleave (a
    * lost append makes its links permanently unprunable). JVM-local is
    * enough — spools are per-gateway-instance since r17, and the one
    * cross-JVM writer ([[purgeFromSpools]]) only deletes links and
    * poisons: a stale index entry for a deleted link is dropped by the
    * next prune without effect. */
  private val spoolLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def spoolLock(spool: File): Object =
    spoolLocks.computeIfAbsent(spool.getAbsolutePath, _ => new Object)

  private def recordLinks(spool: File, v: Long, rels: Seq[String]): Unit =
    if (rels.nonEmpty) {
      val now = System.currentTimeMillis()
      Files.write(new File(spool, LinkedIndex).toPath,
        rels.map(r => s"$v\t$now\t$r\n").mkString.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND): Unit
    }

  private val Poisoned = "_poisoned"

  /** Reflect the commit log into the spool up to the current head.
    * First call fills from the head SNAPSHOT (the exactly-once view of
    * history — per-commit replay would both resurrect compacted-away
    * duplicates and trip over vacuumed originals); subsequent calls walk
    * `(spoolVersion, head]` and link only append-only commits' adds.
    * Returns the new spool version. Throws if the spool has fallen
    * behind the vacuum retention window (the needed commit files are
    * gone) — the failOnDataLoss contract: a silent gap in a tail feeding
    * incremental consumers is corruption, so the caller must recreate
    * the subscription instead. */
  def advance(table: String, spool: File): Long =
    advance(table, spool, expectAdvanced = None)

  /** As [[advance]], with the caller's last-known spool version:
    * `expectAdvanced = Some(v)` detects a spool that VANISHED under a
    * live subscription (swept as stale by another gateway's
    * [[sweepStale]], or deleted out-of-band). A silent head-snapshot
    * refill there would re-deliver every file compacted since `v`
    * under new paths — exactly the duplicate delivery the manifest
    * tail exists to prevent — so the refilled-from-nothing case is
    * poisoned instead (ADVICE r16). */
  def advance(table: String, spool: File,
      expectAdvanced: Option[Long]): Long = spoolLock(spool).synchronized {
    spool.mkdirs()
    val poison = new File(spool, Poisoned)
    if (poison.isFile) {
      // RTBF promptness: a poisoned spool's hard links may pin erased
      // inodes until the client recreates the subscription — drop the
      // data links NOW (the tail is unusable either way; the stream's
      // in-flight read, if any, fails loudly rather than silently)
      dropDataLinks(spool)
      throw new IllegalStateException(
        new String(Files.readAllBytes(poison.toPath), "UTF-8"))
    }
    val head = TableManifest.latestVersion(table).getOrElse(0L)
    val cur = readVersion(spool)
    // liveness heartbeat: sweepStale reaps spools whose marker went
    // cold, so an idle-but-polled tail must refresh it even with no
    // new commits to reflect
    val marker = new File(spool, Marker)
    if (marker.isFile) marker.setLastModified(System.currentTimeMillis()): Unit
    if (cur < 0L) {
      // a vanished spool that had delivered NOTHING (version 0) refills
      // safely — nothing existed to re-deliver — hence the strict > 0
      expectAdvanced.filter(_ > 0L).foreach { prev =>
        val msg = s"tail spool on $table vanished under a live " +
          s"subscription (last delivered version $prev; swept as stale " +
          "or deleted out-of-band) — a silent refill would re-deliver " +
          "compacted rows under new paths; recreate the subscription"
        Files.write(poison.toPath, msg.getBytes("UTF-8")): Unit
        throw new IllegalStateException(msg)
      }
      if (head > 0L) {
        val snap = TableManifest.filesAt(table, head).toSeq.sorted
        recordLinks(spool, head, snap)
        snap.foreach(linkIn(table, spool, _))
      }
      writeVersion(spool, head)
      return head
    }
    if (head <= cur) return cur
    ((cur + 1) to head).foreach { v =>
      val (adds, removes) =
        try TableManifest.commitDelta(table, v)
        catch {
          case _: java.nio.file.NoSuchFileException =>
            throw new IllegalStateException(
              s"tail on $table fell behind the vacuum retention window " +
                s"(commit v$v no longer resolvable) — recreate the " +
                "subscription; raise vacuum retention to cover tail lag")
        }
      // a commit carrying removes is a REWRITE (compaction/erasure):
      // its adds are rewritten copies of rows this tail already served
      if (removes.isEmpty) {
        recordLinks(spool, v, adds) // record-then-link (see LinkedIndex)
        adds.foreach(linkIn(table, spool, _))
      }
      writeVersion(spool, v)
    }
    head
  }

  /** Delete the spool's data links (and the insertion index), keeping
    * the `_version`/`_poisoned` markers — the poisoned-spool cleanup. */
  private def dropDataLinks(spool: File): Unit = {
    def walk(d: File): Unit =
      Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.isDirectory) { walk(f); f.delete(): Unit }
        else if (f.getName.startsWith("part-")) f.delete(): Unit
      }
    walk(spool)
    new File(spool, LinkedIndex).delete(): Unit
  }

  /** Drop spool links older than `olderThanMs` — disk hygiene for
    * long-lived ACTIVE tails (a spooled link pins its inode past
    * vacuum; [[sweepStale]] only reaps COLD spools). Two fences make
    * this safe rather than merely convenient:
    *
    *  - links age by their [[LinkedIndex]] INSERTION time, never by
    *    `File.lastModified` — a hard link shares the source inode's
    *    publish-time mtime, so mtime-aging would see a head-snapshot
    *    fill over an old table as instantly prunable and delete
    *    unprocessed rows (the r16 ADVICE trap);
    *  - only links inserted at spool version ≤ `upToVersion` are
    *    eligible — the caller passes the version whose rows it has
    *    PROCESSED (the poll door prunes after a drained sync pull, so
    *    everything up to that advance's version is through the sink);
    *    younger links are refused no matter how old the clock says
    *    they are. Links with no index entry (pre-r17 spool) are
    *    likewise refused.
    *
    * Returns links deleted. Spark's file-source checkpoint tracks
    * processed files by path, so deleting a processed link never
    * re-delivers. */
  def prune(spool: File, olderThanMs: Long,
      upToVersion: Long): Int = spoolLock(spool).synchronized {
    val idx = new File(spool, LinkedIndex)
    if (!idx.isFile) return 0
    val cutoff = System.currentTimeMillis() - olderThanMs
    // first entry per rel wins (crash-replayed advances append dupes)
    val entries = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    new String(Files.readAllBytes(idx.toPath), "UTF-8").linesIterator
      .foreach { line =>
        line.split("\t", 3) match {
          case Array(v, ms, rel) if rel.nonEmpty =>
            (v.toLongOption, ms.toLongOption) match {
              case (Some(vv), Some(mss)) =>
                if (!entries.contains(rel)) entries(rel) = (vv, mss)
              case _ => // torn append tail — refuse, never guess
            }
          case _ => ()
        }
      }
    var n = 0
    val keep = entries.filter { case (rel, (v, ms)) =>
      val prunable = v <= upToVersion && ms < cutoff
      if (prunable && Files.deleteIfExists(new File(spool, rel).toPath)) n += 1
      !prunable
    }
    // atomic index rewrite with the survivors; a crash before the move
    // leaves stale entries whose files are gone — the next prune drops
    // them (deleteIfExists=false) without recounting
    val tmp = File.createTempFile(".linked-", ".tmp", spool)
    Files.write(tmp.toPath, keep
      .map { case (rel, (v, ms)) => s"$v\t$ms\t$rel\n" }.mkString
      .getBytes("UTF-8"))
    Files.move(tmp.toPath, idx.toPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    n
  }

  /** Remove the spool entirely (subscription deleted). */
  def drop(spool: File): Unit = graft.FileTree.delete(spool)

  /** Erasure support: physically remove the given table-relative paths
    * from EVERY spool under the table — a hard link would otherwise keep
    * a forgotten user's rows alive past [[EventStore.deleteUser]] — and
    * poison EVERY spool of the erased table, not only those where a
    * link was actually deleted (r16 ADVICE): a poll's advance runs
    * outside the erasure's lock, so it can re-link a superseded file
    * into a spool moments after this sweep passed it; the
    * unconditional poison means that racing spool is already marked,
    * its next poll fails, and the poisoned-advance cleanup drops the
    * re-linked file — the RTBF guarantee holds without cross-JVM
    * advance/erasure locking. The stream may not yet have read the
    * purged links (rows of OTHER users in those files would then
    * silently vanish from the tail) and there is no way to know from
    * outside Spark's source log — so failing the next poll with a
    * recreate-the-subscription error is also the failOnDataLoss
    * posture, same as the vacuum cases. The recreated tail fills from
    * the post-erasure head snapshot. */
  private[store] def purgeFromSpools(table: File, rels: Seq[String]): Unit =
    Option(table.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".tail-"))
      .foreach { sp =>
        rels.foreach { rel =>
          Files.deleteIfExists(new File(sp, rel).toPath): Unit
        }
        Files.write(new File(sp, Poisoned).toPath,
          ("erasure rewrote files under this tail — recreate the " +
            "subscription (it will refill from the post-erasure snapshot)")
            .getBytes("UTF-8")): Unit
      }

  /** Reap spools whose liveness marker went cold (default: a day) —
    * subscriptions are session-scoped, so a crashed/restarted gateway's
    * spools would otherwise pin their vacuumed inodes forever. A LIVE
    * tail's marker is touched on every [[advance]], so active spools of
    * OTHER gateways sharing the warehouse survive the sweep. Returns
    * the number of spools dropped. */
  def sweepStale(projectDir: String, olderThanMs: Long = 24 * 3600 * 1000L): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    var n = 0
    Option(new File(projectDir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).foreach { table =>
        Option(table.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith(".tail-"))
          .foreach { sp =>
            val m = new File(sp, Marker)
            val mtime = if (m.isFile) m.lastModified() else sp.lastModified()
            if (mtime < cutoff) { drop(sp); n += 1 }
          }
      }
    n
  }
}
