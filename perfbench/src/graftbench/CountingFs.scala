package graftbench

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

import java.net.URI

/** The local filesystem under its own scheme (`cfs://`), recording
  * every metadata and open/create call as a span of the [[Tracer]]. The
  * traced run points the store root at `cfs:///<abs path>` and registers
  * this class with `spark.hadoop.fs.cfs.impl`; nothing in the program
  * changes. Checksums stay on (a [[LocalFileSystem]] over a raw local FS
  * that answers to `cfs`), so the files written match the untraced run.
  *
  * Only the outermost call is counted: the checksum layer's own nested
  * calls (a `.crc` sidecar per data file) are part of the caller's one
  * operation.
  */
final class CountingFs extends LocalFileSystem(new CountingFs.Raw) {
  import CountingFs._

  private def counted[T](op: Int)(body: => T): T = {
    if (depth.get > 0) return body
    depth.set(1)
    val t0 = System.nanoTime()
    try body
    finally {
      depth.set(0)
      Tracer.current.foreach(_.fsOp(OpNames(op), t0, System.nanoTime()))
    }
  }

  override def getScheme: String = Scheme

  override def listStatus(f: Path): Array[FileStatus] = counted(List)(super.listStatus(f))
  override def rename(src: Path, dst: Path): Boolean = counted(Rename)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = counted(Delete)(super.delete(f, recursive))
  override def open(f: Path, bufferSize: Int): FSDataInputStream = counted(Open)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(Create)(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def mkdirs(f: Path): Boolean = counted(Mkdirs)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = counted(Mkdirs)(super.mkdirs(f, permission))
  override def getFileStatus(f: Path): FileStatus = counted(Stat)(super.getFileStatus(f))
}

object CountingFs {
  val Scheme = "cfs"
  final val List = 0; final val Rename = 1; final val Create = 2; final val Open = 3
  final val Delete = 4; final val Mkdirs = 5; final val Stat = 6
  val OpNames: Array[String] = Array("list", "rename", "create", "open", "delete", "mkdirs", "stat")
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Bytes written through the scheme, checksum sidecars included. */
  def bytesWritten: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == Scheme).map(_.getBytesWritten).sum
  }

  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }
}
