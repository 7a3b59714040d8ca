package graft

import java.sql.DriverManager
import graft.faces.Faces

/** Oracle-SQL portability lint (round-12 directive 2, after the r11 q72
  * incident): every face oracle in `Faces.all` is executed against
  * in-process DuckDB over the sf0.001 tables and each RESULT column's
  * declared type must be engine-portable. DuckDB widens some operations
  * past what Spark (or the driver's pandas-based hasher) can represent —
  * the known trap is integer window/aggregate `sum` returning HUGEINT
  * (int128), which pandas renders as float64 and the driver's
  * type-representation-sensitive hash then flags even when every cell
  * value matches. This lint fails the build the moment an oracle's
  * declared schema leaves the portable set, so the class can't recur.
  */
class OracleLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Types the driver's DuckDB→pandas→hash path and Spark's parquet output
    * agree on. Notably ABSENT: HUGEINT/UHUGEINT (int128 → float64 in
    * pandas), intervals, nested types the hasher can't canonicalize. */
  private def portable(t: String): Boolean = {
    val u = t.toUpperCase
    u match {
      case "BIGINT" | "INTEGER" | "INT" | "SMALLINT" | "TINYINT" |
           "UBIGINT" | "UINTEGER" | "USMALLINT" | "UTINYINT" |
           "DOUBLE" | "FLOAT" | "REAL" | "VARCHAR" | "BOOLEAN" |
           "DATE" | "TIMESTAMP" => true
      case d if d.startsWith("DECIMAL") => true
      case _ => false
    }
  }

  test("every oracle SQL declares only engine-portable result column types") {
    val conn = DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st0 = conn.createStatement()
      try tables.foreach { t =>
        st0.execute(s"CREATE VIEW $t AS SELECT * FROM '$sfDir/$t.parquet'")
      } finally st0.close()
      val bad = scala.collection.mutable.ArrayBuffer[String]()
      for (face <- Faces.all; name = face.name; sql = face.oracle) {
        val st = conn.createStatement()
        try {
          // LIMIT 0 wrap: full planning + output schema, no row movement
          val rs = st.executeQuery(s"SELECT * FROM ($sql) __lint LIMIT 0")
          val md = rs.getMetaData
          for (i <- 1 to md.getColumnCount) {
            val tn = md.getColumnTypeName(i)
            if (!portable(tn))
              bad += s"$name.${md.getColumnName(i)}: $tn"
          }
        } catch {
          case e: java.sql.SQLException =>
            bad += s"$name: oracle failed to plan on DuckDB: ${e.getMessage.linesIterator.next()}"
        } finally st.close()
      }
      assert(bad.isEmpty,
        s"non-portable oracle result types (CAST them in the oracle SQL):\n  ${bad.mkString("\n  ")}")
    } finally conn.close()
  }
}
