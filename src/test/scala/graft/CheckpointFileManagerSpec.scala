package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.commons.io.IOUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import graft.streaming.ForkFreeCheckpointFileManager

/** The engine's streaming checkpoint file manager: a local path renames
  * through `java.io.File` (no forked `readlink` per file), every other file
  * system keeps Spark's default FileContext manager. */
class CheckpointFileManagerSpec extends SparkSpec {

  private def delegateOf(p: Path, conf: Configuration) =
    new ForkFreeCheckpointFileManager(p, conf).delegate

  test("engine sessions write checkpoints through the fork-free manager") {
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
      classOf[ForkFreeCheckpointFileManager].getName)
  }

  test("dispatch: a file: path gets the FileSystem manager, a non-local file system Spark's default") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfm_dispatch")
    val conf = new Configuration()
    assert(delegateOf(new Path(dir.toUri), conf).isInstanceOf[FileSystemBasedCheckpointFileManager])
    // a view file system mounted over the same directory is not a local
    // FileSystem, so it keeps the FileContext manager
    conf.set("fs.viewfs.mounttable.default.link./ckpt", dir.toUri.toString)
    assert(delegateOf(new Path("viewfs:///ckpt"), conf)
      .isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("local branch: a rename without overwrite onto an existing file throws FileAlreadyExistsException") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfm_rename")
    val fm = new ForkFreeCheckpointFileManager(new Path(dir.toUri), new Configuration())
    val target = new Path(new Path(dir.toUri), "0")
    def write(text: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(target, overwriteIfPossible = overwrite)
      out.write(text.getBytes(UTF_8))
      out.close()
    }
    def read(): String = {
      val in = fm.open(target)
      try IOUtils.toString(in, UTF_8) finally in.close()
    }
    write("first", overwrite = false)
    intercept[FileAlreadyExistsException](write("second", overwrite = false))
    assert(read() == "first")
    write("third", overwrite = true)
    assert(read() == "third")
  }
}
