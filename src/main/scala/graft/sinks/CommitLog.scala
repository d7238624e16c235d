package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** The ONE commit protocol under a store root — every list, publish
  * and read of a commit file by [[ParquetUpsertStore]], its sidecars
  * ([[SecondaryIndex]], [[KeyBloom]]) and
  * [[graft.streaming.DriftMonitor]] goes through here. The discipline
  * is the log-then-pointer one Delta/Iceberg use: a commit file is
  * written whole to a hidden `.<name>.tmp` and made visible by ONE
  * rename, so a reader sees all of it or none of it.
  *
  *   - [[list]]: one directory listing → an immutable [[View]]. A
  *     caller takes one view per directory per call and answers every
  *     question of that call (latest id, coverage, which files to
  *     read) from it, instead of re-listing per question.
  *   - [[publish]] create-once: rename the tmp to a NEW name. A lost
  *     rename means the name is already committed — a replay, whose
  *     content is identical by construction — and is dropped.
  *   - [[publish]] `replace`: re-commit an existing name. The live
  *     file moves aside to `<name>.old`, the tmp renames in, the
  *     sidecar is deleted; a failed rename puts the sidecar back.
  *   - [[mark]]: an empty marker file (its existence is the fact).
  *   - [[read]]: header-checked lines, owning both crash recoveries: a
  *     replace that died between its two renames leaves only
  *     `<name>.old`, which IS the committed content and is restored to
  *     its name; and (opt-in, for values that are sound to over-state)
  *     a `.<name>.tmp` whose rename never landed is read when neither
  *     the name nor its sidecar exists.
  */
private[graft] object CommitLog {

  /** One listing of `dir`: the child names (empty, `exists = false`,
    * when the directory is missing) plus the filesystem to read them
    * through. Immutable — later commits are not reflected. */
  final class View(val fs: FileSystem, val dir: String, val exists: Boolean,
                   val names: Set[String]) {
    def has(name: String): Boolean = names.contains(name)
    def path(name: String): Path = new Path(dir, name)

    /** Ids of the children named `<prefix><digits><suffix>`, ascending. */
    def ids(prefix: String, suffix: String = ""): Seq[Long] =
      names.iterator.filter(n => n.startsWith(prefix) && n.endsWith(suffix) &&
          n.length > prefix.length + suffix.length)
        .map(n => n.substring(prefix.length, n.length - suffix.length))
        .filter(_.forall(c => c >= '0' && c <= '9'))
        .map(_.toLong).toSeq.sorted
  }

  def list(fs: FileSystem, dir: String): View =
    try new View(fs, dir, true,
      fs.listStatus(new Path(dir)).iterator.map(_.getPath.getName).toSet)
    catch { case _: java.io.FileNotFoundException => new View(fs, dir, false, Set.empty) }

  /** Commit `dir/name` from `write`'s bytes via tmp + rename. Returns
    * whether this call's bytes landed (always true for `replace`). */
  def publish(fs: FileSystem, dir: String, name: String, replace: Boolean = false)
             (write: OutputStream => Unit): Boolean = {
    val tmp = new Path(dir, s".$name.tmp")
    val target = new Path(dir, name)
    val out = fs.create(tmp, true)
    try write(out) finally out.close()
    if (replace) {
      val sidecar = new Path(dir, s"$name.old")
      fs.delete(sidecar, false) // stale sidecar from an earlier crashed swap
      if (fs.exists(target)) fs.rename(target, sidecar)
      if (fs.rename(tmp, target)) fs.delete(sidecar, false)
      else { fs.delete(tmp, false); fs.rename(sidecar, target) }
      true
    } else fs.rename(tmp, target) || { fs.delete(tmp, false); false }
  }

  def publishText(fs: FileSystem, dir: String, name: String, text: String,
                  replace: Boolean = false): Boolean =
    publish(fs, dir, name, replace)(_.write(text.getBytes(UTF_8)))

  def mark(fs: FileSystem, dir: String, name: String): Unit =
    fs.create(new Path(dir, name), true).close()

  /** Open `name` as the view saw it, restoring an orphaned `<name>.old`
    * first. None when the view holds neither, or the file vanished
    * since the listing. */
  def open[T](v: View, name: String, tmpFallback: Boolean = false)
             (body: InputStream => T): Option[T] = {
    val sidecar = s"$name.old"
    val file =
      if (v.has(name)) Some(name)
      else if (v.has(sidecar)) {
        // a concurrent reader may win this rename; the name exists either way
        v.fs.rename(v.path(sidecar), v.path(name))
        Some(name)
      } else Some(s".$name.tmp").filter(n => tmpFallback && v.has(n))
    file.flatMap { n =>
      try {
        val in = v.fs.open(v.path(n))
        try Some(body(in)) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    }
  }

  /** The lines of `name` (header line first), or None when absent. A
    * first line not starting with `header` fails loudly. */
  def read(v: View, name: String, header: String,
           tmpFallback: Boolean = false): Option[Vector[String]] =
    open(v, name, tmpFallback) { in =>
      val lines = scala.io.Source.fromInputStream(in, UTF_8.name).getLines().toVector
      require(lines.headOption.exists(_.startsWith(header)),
        s"bad commit-file header in ${v.dir}/$name (expected '$header')")
      lines
    }
}
