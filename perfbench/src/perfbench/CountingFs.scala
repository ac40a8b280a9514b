package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local file system that counts metadata and open/create calls. Hadoop's
  * own statistics leave the local file system's operation counters at
  * zero, so the traced run installs this as `fs.file.impl` to see
  * listing, existence, rename and delete traffic. */
final class CountingFs extends LocalFileSystem(new CountingFs.Raw)

object CountingFs {
  val ops = new AtomicLong()

  final class Raw extends RawLocalFileSystem {
    override def open(f: Path, bufferSize: Int): FSDataInputStream = {
      ops.incrementAndGet(); super.open(f, bufferSize)
    }
    override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                        blockSize: Long, progress: Progressable): FSDataOutputStream = {
      ops.incrementAndGet(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                        replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      ops.incrementAndGet()
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def rename(src: Path, dst: Path): Boolean = { ops.incrementAndGet(); super.rename(src, dst) }
    override def delete(p: Path, recursive: Boolean): Boolean = {
      ops.incrementAndGet(); super.delete(p, recursive)
    }
    override def listStatus(f: Path): Array[FileStatus] = { ops.incrementAndGet(); super.listStatus(f) }
    override def mkdirs(f: Path, permission: FsPermission): Boolean = {
      ops.incrementAndGet(); super.mkdirs(f, permission)
    }
    override def getFileStatus(f: Path): FileStatus = { ops.incrementAndGet(); super.getFileStatus(f) }
  }
}
