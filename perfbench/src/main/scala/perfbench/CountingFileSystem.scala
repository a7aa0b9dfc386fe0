package perfbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FileStatus, FSDataInputStream,
  FSDataOutputStream, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with its calls counted. Hadoop's own
  * statistics count bytes on `file:` but no operations, so traced runs
  * mount this as `fs.file.impl`: reads are opens, listings and status
  * lookups; writes are creates, appends, renames, deletes and mkdirs. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable, checksumOpt: Options.ChecksumOpt): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, flags, bufferSize, replication, blockSize, progress, checksumOpt)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val reads = new AtomicLong
  val writes = new AtomicLong
}
