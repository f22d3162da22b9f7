package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with metadata and open calls counted, installed
  * for the `file` scheme (`spark.hadoop.fs.file.impl`). The local
  * filesystem's own statistics count bytes but not these calls, which
  * are what a store's listing and footer reads cost. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    listings.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    statuses.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutations.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutations.incrementAndGet(); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    mutations.incrementAndGet(); super.rename(src, dst)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutations.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val opens = new AtomicLong()
  val listings = new AtomicLong()
  val statuses = new AtomicLong()
  val mutations = new AtomicLong()

  /** read-side calls (open, list, status) and mutating calls so far */
  def readOps: Long = opens.get + listings.get + statuses.get
  def writeOps: Long = mutations.get
}
