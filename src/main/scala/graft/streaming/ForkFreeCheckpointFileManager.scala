package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Spark's streaming checkpoint files (offset and commit logs, the file
  * sink's `_spark_metadata`, state-store files) written without forking a
  * process on a local path. Installed through Spark's
  * `spark.sql.streaming.checkpointFileManagerClass` hook
  * (`InternalBridge.engineDefaults`).
  *
  * Spark's default manager renames every checkpoint file through Hadoop's
  * `FileContext`. On a local path that rename asks
  * `RawLocalFileSystem.getFileLinkStatus` about both paths, which forks a
  * `readlink` shell per call: about a third of a small stream's
  * per-micro-batch floor (SCALE_CONTRACTS.md, "Streaming: per-micro-batch
  * floor"). A local path here gets Spark's `FileSystemBasedCheckpointFileManager`
  * instead, which renames through `java.io.File`. It makes the same
  * check-then-rename that `FileContext`'s `LocalFs` makes, so a local
  * checkpoint is exactly as atomic as before. Every other file system keeps
  * Spark's default, the atomic-rename `FileContextBasedCheckpointFileManager`.
  */
class ForkFreeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case _: LocalFileSystem | _: RawLocalFileSystem =>
        new ForkFreeCheckpointFileManager.LocalFiles(path, hadoopConf)
      case _ => new FileContextBasedCheckpointFileManager(path, hadoopConf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object ForkFreeCheckpointFileManager {

  /** Spark's FileSystem-based manager, overwriting the way `LocalFs` does:
    * delete the target, then rename. Its own overwrite is a plain
    * `FileSystem.rename`, and the local file system Spark registers with
    * Hive support (`ProxyLocalFileSystem`) refuses to rename onto an
    * existing file, so a rewritten state file (a retried batch) would keep
    * the older copy and leave its temp file behind. */
  private class LocalFiles(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      if (overwriteIfPossible) fs.delete(dst, false)
      super.renameTempFile(src, dst, overwriteIfPossible)
    }
  }
}
