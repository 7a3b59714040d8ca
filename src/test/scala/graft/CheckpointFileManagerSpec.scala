package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.commons.io.IOUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import graft.streaming.ForkFreeCheckpointFileManager

/** The engine's streaming checkpoint file manager: a local path renames
  * through `java.io.File` (no forked `readlink` per file) and makes its temp
  * files and directories through `java.nio.file` (no `.crc`, no `chmod`),
  * every other file system keeps Spark's default FileContext manager. */
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

  test("local branch: createAtomic round-trips its bytes and leaves no .crc sibling or temp file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfm_crc")
    val fm = new ForkFreeCheckpointFileManager(new Path(dir.toUri), new Configuration())
    val target = new Path(new Path(dir.toUri), "state/0/1.delta")
    val bytes = Array.tabulate[Byte](100000)(i => (i * 31).toByte)
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write(bytes)
    out.close()
    val in = fm.open(target)
    try assert(IOUtils.toByteArray(in).sameElements(bytes)) finally in.close()
    val left = java.nio.file.Files.list(dir.resolve("state/0")).toArray.map(_.toString)
    assert(left.toSeq == Seq(dir.resolve("state/0/1.delta").toString), left.mkString(", "))
  }

  test("local branch: cancel() leaves neither the temp file nor the target") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfm_cancel")
    val fm = new ForkFreeCheckpointFileManager(new Path(dir.toUri), new Configuration())
    val out = fm.createAtomic(new Path(new Path(dir.toUri), "0"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(java.nio.file.Files.list(dir).count() == 0)
  }

  test("local branch: mkdirs and createCheckpointDirectory make nested directories, also on existing ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfm_mkdirs")
    val fm = new ForkFreeCheckpointFileManager(new Path(dir.toUri), new Configuration())
    val nested = new Path(new Path(dir.toUri), "offsets/a/b")
    fm.mkdirs(nested)
    fm.mkdirs(nested)
    assert(java.nio.file.Files.isDirectory(dir.resolve("offsets/a/b")))
    assert(fm.exists(nested))
    val root = new ForkFreeCheckpointFileManager(new Path(dir.toUri.toString + "ckpt/x"), new Configuration())
      .createCheckpointDirectory()
    assert(root.toUri.getScheme == "file" && java.nio.file.Files.isDirectory(dir.resolve("ckpt/x")))
  }

  test("local branch: overwriting a file written with a .crc drops the stale checksum") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfm_old_crc")
    val conf = new Configuration()
    val target = new Path(new Path(dir.toUri), "1")
    val old = target.getFileSystem(conf).create(target) // LocalFileSystem: writes .1.crc
    old.write("older checkpoint".getBytes(UTF_8))
    old.close()
    assert(java.nio.file.Files.exists(dir.resolve(".1.crc")))
    val fm = new ForkFreeCheckpointFileManager(new Path(dir.toUri), conf)
    val out = fm.createAtomic(target, overwriteIfPossible = true)
    out.write("new".getBytes(UTF_8))
    out.close()
    assert(!java.nio.file.Files.exists(dir.resolve(".1.crc")))
    val in = fm.open(target)
    try assert(IOUtils.toString(in, UTF_8) == "new") finally in.close()
  }
}
