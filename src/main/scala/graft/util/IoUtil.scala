package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** Tiny shared IO/text helpers — single definitions for logic that was
  * previously duplicated across mains and sources (a fix applied to one
  * copy silently missed the other).
  */
object IoUtil {

  /** Escape `s` as the CONTENT of a JSON string literal (quotes included):
    * backslash, quote, and ALL control chars below 0x20 — a stray tab or
    * CR would otherwise make a driver-side `json.load` fail.
    */
  def jsonString(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Recursive delete; missing paths are a no-op. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Write a directory under a hidden temp name next to `finalDir`, then
    * rename it into place: a reader lists either nothing or the finished
    * directory, and a crash strands only the temp directory, which the
    * next publish of the same `finalDir` clears. An existing `finalDir`
    * is replaced.
    *
    * The temp name starts with `.`, which Spark's file listing always
    * skips. A `_`-prefixed name is skipped only when it holds no `=`, so
    * `_tmp-seg=3` would be listed as a partition directory and fail
    * partition discovery of the whole parent.
    */
  def publishDir(fs: FileSystem, finalDir: Path)(write: Path => Unit): Unit = {
    val tmp = new Path(finalDir.getParent, s".tmp-${finalDir.getName}")
    fs.delete(tmp, true)
    fs.mkdirs(tmp)
    write(tmp)
    fs.delete(finalDir, true)
    if (!fs.rename(tmp, finalDir))
      throw new java.io.IOException(s"rename failed: $tmp -> $finalDir")
  }
}
