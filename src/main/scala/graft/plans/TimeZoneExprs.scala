package graft.plans

import java.time.{LocalDateTime, ZoneId, ZoneOffset}

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, TimestampNTZType, TimestampType}

/** `replace_time_zone` with the reference's DST policies
  * (native_shim/src/expr.rs:658-700 — takes `ambiguous` ∈
  * {raise, earliest, latest, null} and `non_existent` ∈ {raise, null};
  * wall-clock consistency exercised by reference DataTypeTests.cs).
  *
  * Spark's `to_utc_timestamp` silently resolves DST-ambiguous wall times to
  * the zone rules' default and shifts non-existent ones — no policy hook.
  * This expression consults `ZoneRules.getValidOffsets` per value:
  * 2 offsets = ambiguous (clocks fell back), 0 = non-existent (spring-forward
  * gap), 1 = normal.
  *
  * Input is the naive wall time: TIMESTAMP_NTZ, or TIMESTAMP whose UTC wall
  * clock carries the naive value (this project runs session TZ = UTC, so the
  * two are interchangeable µs payloads). Output is the UTC instant
  * (TIMESTAMP).
  */
case class ReplaceTimeZoneExpr(child: Expression, tz: String,
                               ambiguous: String, nonExistent: String)
    extends UnaryExpression with KernelCodegen {

  require(Set("raise", "earliest", "latest", "null")(ambiguous),
    s"ambiguous policy must be raise|earliest|latest|null, got $ambiguous")
  require(Set("raise", "null")(nonExistent),
    s"non_existent policy must be raise|null, got $nonExistent")

  @transient private lazy val rules = ZoneId.of(tz).getRules

  override def dataType: DataType = TimestampType
  override def nullable: Boolean =
    child.nullable || ambiguous == "null" || nonExistent == "null"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case TimestampType | TimestampNTZType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"replace_time_zone expects a timestamp, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val us = v.asInstanceOf[Long]
    val ldt = LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    val offsets = rules.getValidOffsets(ldt)
    val offset = offsets.size match {
      case 1 => offsets.get(0)
      case 2 => ambiguous match {
        case "earliest" => offsets.get(0) // pre-transition offset = earlier instant
        case "latest"   => offsets.get(1)
        case "null"     => return null
        case "raise" => throw new IllegalArgumentException(
          s"replace_time_zone: wall time $ldt is ambiguous in $tz (ambiguous='raise')")
      }
      case 0 => nonExistent match {
        case "null" => return null
        case "raise" => throw new IllegalArgumentException(
          s"replace_time_zone: wall time $ldt does not exist in $tz (non_existent='raise')")
      }
    }
    val inst = ldt.toInstant(offset)
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  override protected def withNewChildInternal(newChild: Expression): ReplaceTimeZoneExpr =
    copy(child = newChild)
}
