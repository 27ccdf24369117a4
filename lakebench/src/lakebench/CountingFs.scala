package lakebench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `file:` FileSystem, counting each storage call a user-level
  * caller makes: LIST, status (HEAD), open (GET), create (PUT), rename
  * and delete. Checksum side files are not counted twice: the counts sit
  * on the checksummed layer, above the raw one. Byte counts come from
  * Hadoop's own per-scheme statistics ([[CountingFs.snapshot]]).
  *
  * Only the traced run registers it (`spark.hadoop.fs.file.impl`), so an
  * untraced run measures the stock file system. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path)
      : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    statuses.incrementAndGet(); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingFs {
  private val lists, statuses, opens, creates, renames, deletes = new AtomicLong

  /** Counter names, in the order [[snapshot]] returns them. */
  val names: Seq[String] = Seq("list_n", "status_n", "open_n", "create_n",
    "rename_n", "delete_n", "bytes_read", "bytes_written")

  /** Current totals: the six call counts, then bytes read and written
    * through any `file:` FileSystem in this JVM (all threads). */
  def snapshot(): Array[Long] = {
    import scala.jdk.CollectionConverters._
    @annotation.nowarn("cat=deprecation")
    val stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Array(lists.get, statuses.get, opens.get, creates.get, renames.get,
      deletes.get, stats.map(_.getBytesRead).sum, stats.map(_.getBytesWritten).sum)
  }
}
