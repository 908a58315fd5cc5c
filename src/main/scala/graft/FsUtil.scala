package graft

/** Local-filesystem helpers shared by the bench/diagnostic mains and the
  * stores (one recursive walker instead of a copy per call site; null-safe
  * against racing deletes). */
object FsUtil {
  def dirSize(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirSize).sum).getOrElse(0L)
    else f.length()

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
