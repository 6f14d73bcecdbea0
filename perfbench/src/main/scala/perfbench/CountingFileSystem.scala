package perfbench

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `file:` filesystem with metadata and open/create calls
  * counted. Hadoop's statistics count bytes but no operations for the
  * local filesystem, so traced runs install this as `fs.file.impl`.
  * Reads: getFileStatus, listStatus, open. Writes: create, mkdirs,
  * rename, delete.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.{readOps, writeOps}

  override def getFileStatus(f: Path): FileStatus = {
    readOps.increment(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    readOps.increment(); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    readOps.increment(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writeOps.increment()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writeOps.increment(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writeOps.increment(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writeOps.increment(); super.delete(f, recursive)
  }
}

object CountingFileSystem {
  val readOps = new LongAdder
  val writeOps = new LongAdder
}
