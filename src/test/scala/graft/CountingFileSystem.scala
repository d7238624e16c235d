package graft

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Test-only: the local filesystem under its own scheme (`cntfs://`),
  * counting `listStatus` calls per directory. A spec registers it with
  * `fs.cntfs.impl` on the session's Hadoop configuration and points a
  * store root at `cntfs:///<abs path>`; nothing in the program changes.
  * Checksums stay on (a [[LocalFileSystem]] over a raw local FS that
  * answers to `cntfs`), so the files match a plain local run; the
  * checksum layer lists through the raw FS, so one call counts once.
  */
final class CountingFileSystem extends LocalFileSystem(new CountingFileSystem.Raw) {
  import CountingFileSystem._

  override def getScheme: String = Scheme

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.computeIfAbsent(key(f), _ => new AtomicLong()).incrementAndGet()
    super.listStatus(f)
  }
}

object CountingFileSystem {
  val Scheme = "cntfs"
  private val lists = new ConcurrentHashMap[String, AtomicLong]()

  private def key(p: Path): String =
    Path.getPathWithoutSchemeAndAuthority(p).toString.stripSuffix("/")

  /** Register the scheme with the session's Hadoop configuration. */
  def register(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)

  /** `abs` (a local absolute path) under the counting scheme. */
  def uri(abs: String): String = s"$Scheme://$abs"

  def reset(): Unit = lists.clear()

  /** Listings of exactly `dir` since the last [[reset]]. */
  def listCalls(dir: String): Long =
    Option(lists.get(key(new Path(dir)))).fold(0L)(_.get)

  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }
}
