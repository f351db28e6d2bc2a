package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local Hadoop filesystem with per-call counters, installed as
  * `fs.file.impl` for every benchmark run (traced or not). Hadoop's own
  * statistics count bytes but not local create/mkdir/rename/delete calls,
  * which are what a lifecycle commit round trip costs. Behaviour is the
  * parent's; only the counters are added.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet()
    super.mkdirs(f, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet()
    super.getFileStatus(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingFs {
  val writes, reads, lists = new AtomicLong(0L)
}
