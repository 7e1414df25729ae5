package perfbench

import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with per-call counters, installed as
  * `fs.file.impl` in traced runs only. Hadoop's own statistics count
  * bytes but not operations on the local file system; these counters
  * give the file-level op counts of the read and write paths. */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.increment(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.increment(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { renames.increment(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { deletes.increment(); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { lists.increment(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { stats.increment(); super.getFileStatus(f) }
}

object CountingFs {
  val opens, creates, renames, deletes, lists, stats = new LongAdder
  /** (read opens, metadata calls, write-side calls) so far */
  def snapshot(): (Long, Long, Long) =
    (opens.sum, lists.sum + stats.sum, creates.sum + renames.sum + deletes.sum)
}
