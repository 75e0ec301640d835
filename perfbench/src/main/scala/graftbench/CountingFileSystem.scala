package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with per-call counters: the local Hadoop FS
  * reports bytes but no operation counts. Installed as `fs.file.impl` in
  * traced runs only. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    statuses.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingFileSystem {
  val opens, lists, statuses, creates, renames, deletes = new AtomicLong
  def snapshot(): Map[String, Double] = Map(
    "fs.op_open" -> opens.get.toDouble, "fs.op_list_status" -> lists.get.toDouble,
    "fs.op_get_file_status" -> statuses.get.toDouble, "fs.op_create" -> creates.get.toDouble,
    "fs.op_rename" -> renames.get.toDouble, "fs.op_delete" -> deletes.get.toDouble)
}
