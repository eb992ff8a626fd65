package graft

/** The one recursive delete: staging dirs, spools, scratch trees,
  * dropped projects. A plain `java.io.File` walk, because a store
  * append runs it in its `finally` on every commit. `listFiles()` is
  * null when a concurrent delete got there first, or on an I/O error:
  * that subtree is skipped, not thrown on. */
object FileTree {
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete(): Unit
  }
}
