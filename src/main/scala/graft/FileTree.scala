package graft

import java.io.File
import java.nio.file.{FileAlreadyExistsException, Files}

/** The one recursive delete: staging dirs, spools, scratch trees,
  * dropped projects. A plain `java.io.File` walk, because a store
  * append runs it in its `finally` on every commit. `listFiles()` is
  * null when a concurrent delete got there first, or on an I/O error:
  * that subtree is skipped, not thrown on. */
object FileTree {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete(): Unit
  }

  /** Create `target` holding `bytes` if it does not exist yet: true when
    * this call created it, false when it was already there. The bytes
    * go to a temp file beside the target, which is then hard-linked to
    * it; the link fails if the target exists, so of racing creators —
    * threads or JVMs sharing the directory — exactly one wins, and no
    * reader ever sees a partly written target. The store's manifest
    * commits and maintenance claims are both this primitive. */
  def createExclusive(target: File, bytes: Array[Byte]): Boolean = {
    val tmp = File.createTempFile(".cas-", ".tmp", target.getParentFile)
    try {
      Files.write(tmp.toPath, bytes)
      try { Files.createLink(target.toPath, tmp.toPath); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally { tmp.delete(): Unit }
  }
}
