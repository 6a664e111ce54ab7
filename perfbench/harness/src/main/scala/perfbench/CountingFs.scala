package perfbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local Hadoop FileSystem with call counters. Hadoop's own
  * statistics count bytes on the local scheme but no operations, so a
  * traced run installs this class as `fs.file.impl` to count opens,
  * listings and mutations (create, rename, delete, mkdirs). */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, p: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutations.incrementAndGet(); super.create(f, p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, p: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutations.incrementAndGet()
    super.createNonRecursive(f, p, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { mutations.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutations.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = { mutations.incrementAndGet(); super.mkdirs(f) }
  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
}

object CountingFs {
  val opens = new AtomicLong
  val mutations = new AtomicLong
  val lists = new AtomicLong
}
