package graft
import graft.faces.{Face, Faces}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each face's `run` result → parquet, plus
  * oracle_sql.json, for the driver's DuckDB compare.
  *
  * Extra args beyond <sfDir> <outDir> restrict the dump to those face
  * names (dev loop; the stale-output sweep is skipped so a filtered run
  * never invalidates a previous full dump's siblings). A name that is no
  * face fails the run before anything is written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    Faces.select(only) // an unknown name fails here, before the session starts
    val spark = Sessions.local()
    dump(spark, Faces.all, sfDir, outDir, only)
    spark.stop()
  }

  /** Writes each face of `faces` that `only` names (all of them for an
    * empty `only`) to `$outDir/<name>`, and the oracles of all `faces` to
    * `$outDir/oracle_sql.json`. An unfiltered run first clears `outDir`;
    * every face first deletes its own previous output, so a face that
    * fails leaves nothing a later compare could grade as current. */
  def dump(spark: SparkSession, faces: Seq[Face], sfDir: String, outDir: String,
           only: Set[String] = Set.empty): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val outRoot = new java.io.File(outDir)
    if (outRoot.exists() && only.isEmpty) outRoot.listFiles().foreach(rm)
    outRoot.mkdirs()
    for (face <- faces if only.isEmpty || only(face.name)) {
      rm(new java.io.File(outRoot, face.name))
      try face.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${face.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${face.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = faces.map(f => s"${q(f.name)}: ${q(f.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
