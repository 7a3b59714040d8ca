package graft
package faces

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract face: a named Spark plan over an sf directory and
  * the DuckDB SQL that grades it (`tools/check.py` hash-compares the two).
  *
  * `bench` is the plan the benchmark times where it differs from `run`.
  * Some correctness faces run more than the raw operator: qd04/qd05/qs04
  * embed an exact self-verification contract, qd32 trains on the small
  * fixture corpus its merge-order oracle needs, and qd40/qd44/qd46/q54/qm02
  * synthesize their input in-query because the oracle recomputes the same
  * formulas. Their twins time the operator a 100 TB user runs (over a
  * per-SF fixture scan where the input is synthesized), under the same
  * name, while `run` keeps gating the contract. */
final case class Face(name: String,
                      run: (SparkSession, String) => DataFrame,
                      oracle: String,
                      bench: Option[(SparkSession, String) => DataFrame] = None) {
  /** The plan `graft.Bench` times: the bench twin where there is one. */
  def benchRun: (SparkSession, String) => DataFrame = bench.getOrElse(run)
}

/** The face registry: every face of every family, in declaration order. */
object Faces {

  /** The streaming drives. Bench reports them as their own section and
    * gates them against the streaming noise floor. */
  lazy val streaming: Seq[Face] = StreamFaces.faces

  lazy val all: Seq[Face] = requireUniqueNames(FrameFaces.faces ++ streaming ++
    PrepFaces.faces ++ SimilarityFaces.faces ++ MultimodalFaces.faces)

  private lazy val names: Set[String] = all.map(_.name).toSet

  /** `faces`, failing on any name declared more than once. */
  private[graft] def requireUniqueNames(faces: Seq[Face]): Seq[Face] = {
    val dups = faces.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
    require(dups.isEmpty, s"duplicate face name(s): ${dups.toSeq.sorted.mkString(", ")}")
    faces
  }

  /** The face named `name`; an unknown name fails fast. */
  def apply(name: String): Face = select(Set(name)).head

  /** The faces a name filter selects, in declaration order: every face for
    * an empty filter. A name that is no face fails fast with all unknown
    * names listed, so a typo never yields an empty or partial run. */
  def select(only: Set[String]): Seq[Face] = {
    val unknown = only.diff(names)
    require(unknown.isEmpty, s"unknown face name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    if (only.isEmpty) all else all.filter(f => only(f.name))
  }
}
