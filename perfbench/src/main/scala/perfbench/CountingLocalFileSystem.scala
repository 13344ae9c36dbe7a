package perfbench

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path,
  RemoteIterator, LocatedFileStatus}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting its calls in the standard Hadoop
  * `FileSystem.Statistics` (the stock local file system counts bytes but
  * leaves the operation counters at zero): opens and status probes are
  * read ops, listings are large read ops, and creates, renames, deletes
  * and mkdirs are write ops. Installed as `fs.file.impl` in traced runs
  * only. */
class CountingLocalFileSystem extends LocalFileSystem {
  // LocalFileSystem.initialize never sets the inherited `statistics`
  // field, so register this class's own entry in the statistics table.
  private val stats = org.apache.hadoop.fs.FileSystem.getStatistics("file", getClass)
  private def read(): Unit = stats.incrementReadOps(1)
  private def list(): Unit = stats.incrementLargeReadOps(1)
  private def write(): Unit = stats.incrementWriteOps(1)

  override def open(f: Path, bufferSize: Int) = { read(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { list(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    list(); super.listLocatedStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    write()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    write(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    write(); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  /** Make the cached `file:` file system a counting one. Spark may have
    * cached a stock instance while starting; dropping the cache makes the
    * next lookup build one from the session's configuration. */
  def install(conf: org.apache.hadoop.conf.Configuration): Unit = {
    val local = new java.net.URI("file:///")
    if (!org.apache.hadoop.fs.FileSystem.get(local, conf).isInstanceOf[CountingLocalFileSystem])
      org.apache.hadoop.fs.FileSystem.closeAll()
    require(org.apache.hadoop.fs.FileSystem.get(local, conf).isInstanceOf[CountingLocalFileSystem],
      "the counting local file system could not be installed")
  }
}
