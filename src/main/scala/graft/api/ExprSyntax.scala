package graft.api

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import org.apache.spark.sql.types.DataType
import graft.functions.ChronoFormat

/** Expression-namespace syntax mirroring the reference's `Expr` surface
  * (reference: native_shim/src/expr.rs; Polars.CSharp/Expr.cs).
  *
  * The reference `Expr` is a thin AST over the Polars DSL; here each namespace
  * is an implicit-class veneer over `org.apache.spark.sql.Column`, so every
  * function stays inside Catalyst/whole-stage codegen. Import
  * `graft.api.syntax._` to activate.
  */
object syntax {

  /** Core unary/binary ops beyond what Column already has
    * (reference: expr.rs:208-243, 706-723, 865-876, 1103-1192). */
  implicit class GraftColumn(val c: Column) extends AnyVal {
    /** Polars xor on booleans (expr.rs:241). */
    def xor(other: Column): Column = c =!= other
    /** floor_div with integer semantics (expr.rs:237). */
    def floorDiv(other: Column): Column = floor(c / other).cast("long")
    /** fill_null (expr.rs:242) = coalesce. */
    def fillNull(v: Column): Column = coalesce(c, v)
    /** fill_nan (expr.rs:1178-1192). */
    def fillNan(v: Column): Column = when(isnan(c), v).otherwise(c)
    /** is_between, closed on both ends (expr.rs:706-723). */
    def isBetween(lo: Column, hi: Column): Column = c.between(lo, hi)
    /** is_in (expr.rs list.contains impl). */
    def isIn(values: Any*): Column = c.isin(values: _*)
    /** Polars round = half away from zero (expr.rs:865-876); Spark HALF_UP matches. */
    def roundTo(decimals: Int): Column = round(c, decimals)
    /** Polars is_finite / is_infinite (series.rs:719-753). */
    def isFinite: Column = !isnan(c) && c =!= lit(Double.PositiveInfinity) && c =!= lit(Double.NegativeInfinity)
    def isInfinite: Column = c === lit(Double.PositiveInfinity) || c === lit(Double.NegativeInfinity)
    /** strict cast = ANSI (raises on overflow/unparseable, expr.rs:1015-1033),
      * pinned on the Cast node so session `spark.sql.ansi.enabled` can't
      * weaken it; non-strict = try_cast → null. */
    def castStrict(t: String): Column =
      column(Cast(expression(c), DataType.fromDDL(t), None, EvalMode.ANSI))
    def castLenient(t: String): Column = c.try_cast(t)
    /** log with arbitrary base (expr.rs:852-863). */
    def logBase(base: Double): Column = log(base, c)
    /** shift(n) over an explicit window (expr.rs:1035-1047): positive =
      * values move forward (lag), negative = backward (lead), null fill.
      * Polars' implied frame order is the window's ORDER BY here — Spark has
      * no ambient row order, so the caller names it (partition keys keep the
      * op parallel; see q20 for the proven composition). */
    def shift(n: Int, w: org.apache.spark.sql.expressions.WindowSpec): Column =
      if (n >= 0) lag(c, n).over(w) else lead(c, -n).over(w)
    /** diff(n) = x - x.shift(n) (expr.rs:1049-1062, null_behavior=ignore). */
    def diff(n: Int, w: org.apache.spark.sql.expressions.WindowSpec): Column =
      c - shift(n, w)

    def str: StrNamespace = new StrNamespace(c)
    def dt: DtNamespace = new DtNamespace(c)
    def list: ListNamespace = new ListNamespace(c)
    def struct_ : StructNamespace = new StructNamespace(c)
  }

  /** if_else (expr.rs:1103-1122). */
  def ifElse(pred: Column, thenC: Column, elseC: Column): Column =
    when(pred, thenC).otherwise(elseC)

  /** len() — context row count including nulls (expr.rs:881-888). */
  def len(): Column = count(lit(1))

  /** String namespace (reference: expr.rs:262-536 `str_*`). */
  final class StrNamespace(private val c: Column) {
    def toUppercase: Column = upper(c)                       // expr.rs:262
    def toLowercase: Column = lower(c)                       // expr.rs:263
    def lenBytes: Column = octet_length(c)                   // expr.rs:264
    def lenChars: Column = length(c)
    /** regex contains (expr.rs:304-319). */
    def contains(pattern: String): Column = regexp_like(c, lit(pattern))
    def containsLiteral(s: String): Column = c.contains(s)
    /** slice with negative offsets (expr.rs:322-334). */
    def slice(offset: Int, len: Int): Column =
      if (offset >= 0) substring(c, offset + 1, len) else substring(c, offset, len)
    /** regexp group extract (expr.rs:336-351). */
    def extract(pattern: String, groupIdx: Int): Column = {
      val e = regexp_extract(c, pattern, groupIdx)
      when(e === lit(""), lit(null)).otherwise(e) // Polars yields null on no-match
    }
    /** replace_all; literal when !useRegex (expr.rs:354-372). */
    def replaceAll(pattern: String, value: String, useRegex: Boolean = true): Column =
      if (useRegex) regexp_replace(c, pattern, value)
      else regexp_replace(c, java.util.regex.Pattern.quote(pattern),
        java.util.regex.Matcher.quoteReplacement(value))
    /** literal split → list (expr.rs:374-386; Polars split is literal). */
    def split(by: String): Column =
      org.apache.spark.sql.functions.split(c, java.util.regex.Pattern.quote(by), -1)
    def stripChars(): Column = trim(c)                       // expr.rs:400-446
    def stripChars(matches: String): Column = trim(c, matches)
    def stripCharsStart(): Column = ltrim(c)
    def stripCharsStart(matches: String): Column = ltrim(c, matches)
    def stripCharsEnd(): Column = rtrim(c)
    def stripCharsEnd(matches: String): Column = rtrim(c, matches)
    /** strip_prefix/suffix (expr.rs:450-480). */
    def stripPrefix(p: String): Column =
      when(c.startsWith(p), c.substr(lit(p.length + 1), length(c))).otherwise(c)
    def stripSuffix(s: String): Column =
      when(c.endsWith(s), c.substr(lit(1), length(c) - lit(s.length))).otherwise(c)
    def startsWith(p: String): Column = c.startsWith(p)      // expr.rs:482-499
    def endsWith(s: String): Column = c.endsWith(s)
    /** to_date with chrono format; non-strict → null on failure (expr.rs:503-519). */
    def toDate(chronoFmt: String): Column = chronoParse(c, chronoFmt).cast("date")
    /** to_datetime µs naive (expr.rs:521-536). */
    def toDatetime(chronoFmt: String): Column = chronoParse(c, chronoFmt)
    /** chrono `%y` parses 00-68 → 20xx, 69-99 → 19xx (the C rule); Java's
      * reduced-value window is 2000-2099, so shift the 2069-2099 parses back
      * a century (every 19xx leap year in that range is also a 20xx leap
      * year, so the year-month shift is always valid). When the format ALSO
      * carries a full-year field (%Y, or ISO %G) that field resolved the
      * year, so the shift must not fire: '%Y %y' on "2075 75" is 2075, not
      * 1975 (ADVICE r10). */
    private def chronoParse(c: Column, chronoFmt: String): Column = {
      val ts = try_to_timestamp(c, lit(ChronoFormat.toJava(chronoFmt)))
      if (!ChronoFormat.usesSpec(chronoFmt, 'y') ||
          ChronoFormat.usesSpec(chronoFmt, 'Y') || ChronoFormat.usesSpec(chronoFmt, 'G')) ts
      else when(year(ts).between(2069, 2099), ts + make_ym_interval(lit(-100), lit(0)))
        .otherwise(ts)
    }
  }

  /** Temporal namespace (reference: expr.rs:247-700 `dt_*`). */
  final class DtNamespace(private val c: Column) {
    // micro-arithmetic works on TIMESTAMP; NTZ inputs are reinterpreted in
    // the session TZ (UTC in this project), keeping wall-time semantics
    private def uc: Column = c.cast("timestamp")
    def year: Column = org.apache.spark.sql.functions.year(c)
    def month: Column = org.apache.spark.sql.functions.month(c)
    def day: Column = dayofmonth(c)
    def ordinalDay: Column = dayofyear(c)
    /** Polars weekday = 1-7 Monday-based (expr.rs:251); Spark weekday() is 0-6 Monday-based. */
    def weekday: Column = org.apache.spark.sql.functions.weekday(c) + lit(1)
    def hour: Column = org.apache.spark.sql.functions.hour(c)
    def minute: Column = org.apache.spark.sql.functions.minute(c)
    def second: Column = org.apache.spark.sql.functions.second(c).cast("int")
    def millisecond: Column = (unix_micros(uc) % 1000000L / 1000L).cast("int")
    def microsecond: Column = (unix_micros(uc) % 1000000L).cast("int")
    def nanosecond: Column = (unix_micros(uc) % 1000000L * 1000L).cast("long")
    def date: Column = to_date(c)                            // expr.rs:259
    /** time-of-day as nanos-since-midnight i64 (reference Time repr, series.rs:522-530). */
    def time: Column =
      ((unix_micros(uc) - unix_micros(to_date(c).cast("timestamp"))) * 1000L).cast("long")
    /** strftime (expr.rs:550-564). Java-safe formats compile to one
      * `date_format`; ISO-week/space-padded/epoch specifiers compile to
      * Spark expressions (Spark bans Java week-based pattern letters, and
      * their locale week rules are not ISO anyway). */
    def toString(chronoFmt: String): Column = ChronoFormat.formatColumn(c, chronoFmt)
    /** truncate to arbitrary duration (expr.rs:568-579): floor on unix micros;
      * calendar units (mo/q/y) floor to real month boundaries. */
    def truncate(every: String): Column = {
      val D = graft.functions.Durations
      if (D.isCalendar(every)) {
        val (months, usPart) = D.parseMonthsAndMicros(every)
        require(usPart == 0L, s"calendar truncate must be whole months: '$every'")
        val F = org.apache.spark.sql.functions // `year`/`month` here are the
        val epoch = to_date(lit("1970-01-01")) // namespace's own members
        val mse = (F.year(uc) - lit(1970)) * lit(12) + (F.month(uc) - lit(1))
        val idx = ((mse - pmod(mse, lit(months))) / lit(months)).cast("int")
        add_months(epoch, idx * lit(months.toInt)).cast("timestamp")
      } else {
        val us = D.parseMicros(every)
        val u = unix_micros(uc)
        timestamp_micros(u - (u % lit(us))) // long % long stays long
      }
    }
    /** round to nearest window (expr.rs:582-591) = truncate(t + every/2);
      * calendar units round to the nearest real month boundary (ties up,
      * consistent with the fixed-width half-shift). */
    def round(every: String): Column = {
      val D = graft.functions.Durations
      if (D.isCalendar(every)) {
        val (months, usPart) = D.parseMonthsAndMicros(every)
        require(usPart == 0L, s"calendar round must be whole months: '$every'")
        val lo = truncate(every)
        val hi = add_months(lo, months.toInt).cast("timestamp")
        val u = unix_micros(uc)
        when(unix_micros(hi) - u <= u - unix_micros(lo), hi).otherwise(lo)
      } else {
        val us = D.parseMicros(every)
        val u = unix_micros(uc) + lit(us / 2)
        timestamp_micros(u - (u % lit(us)))
      }
    }
    /** offset_by duration string (expr.rs:595-605). Calendar units (mo/q/y)
      * use true month arithmetic — day-of-month clamped to the target month's
      * end (Jan 31 + 1mo = Feb 29 in a leap year), time-of-day preserved —
      * matching Polars; the fixed part adds exact µs. */
    def offsetBy(dur: String): Column = {
      val (months, us) = graft.functions.Durations.parseMonthsAndMicros(dur)
      if (months == 0L) timestamp_micros(unix_micros(uc) + us)
      else {
        val d = to_date(uc)
        val tod = unix_micros(uc) - unix_micros(d.cast("timestamp"))
        timestamp_micros(
          unix_micros(add_months(d, months.toInt).cast("timestamp")) + tod + lit(us))
      }
    }
    /** epoch timestamp in the given unit (expr.rs:609-623). */
    def timestamp(unit: String = "us"): Column = unit match {
      case "ns" => unix_micros(uc) * 1000L
      case "us" => unix_micros(uc)
      case "ms" => unix_millis(uc)
      case u => throw new IllegalArgumentException(s"bad unit $u")
    }
    /** convert_time_zone — same instant, new wall time (expr.rs:636-653). */
    def convertTimeZone(tz: String): Column = from_utc_timestamp(c, tz)
    /** replace_time_zone — reinterpret wall time in tz → UTC instant with the
      * reference's DST policies (expr.rs:658-700): `ambiguous` ∈
      * raise|earliest|latest|null, `nonExistent` ∈ raise|null (defaults =
      * raise, matching Polars). */
    def replaceTimeZone(tz: String, ambiguous: String = "raise",
                        nonExistent: String = "raise"): Column =
      column(graft.plans.ReplaceTimeZoneExpr(expression(uc), tz, ambiguous, nonExistent))
  }

  /** List namespace (reference: expr.rs:266-291, 744-847 `list_*`). */
  final class ListNamespace(private val c: Column) {
    def first: Column = element_at(c, 1)                     // expr.rs:266
    def sum: Column = aggregate(c, lit(0.0), (a, x) => a + coalesce(x.cast("double"), lit(0.0)))
    def sumLong: Column = aggregate(c, lit(0L), (a, x) => a + coalesce(x.cast("long"), lit(0L)))
    def min: Column = array_min(c)
    def max: Column = array_max(c)
    def mean: Column = {
      val nonNull = filter(c, x => x.isNotNull)
      when(size(nonNull) > 0,
        aggregate(nonNull, lit(0.0), (a, x) => a + x.cast("double")) / size(nonNull))
    }
    /** get(idx) 0-based, negative from end, null on OOB (expr.rs:744-754). */
    def get(idx: Int): Column =
      if (idx >= 0) try_element_at(c, lit(idx + 1)) else try_element_at(c, lit(idx))
    def sort(descending: Boolean = false): Column = sort_array(c, asc = !descending)
    def contains(item: Column): Column = array_contains(c, item)
    /** join with separator, null-ignoring (expr.rs:826-838). */
    def join(sep: String): Column = array_join(c, sep)
    def len: Column = size(c)
    def unique: Column = array_distinct(c)
    def reverse: Column = org.apache.spark.sql.functions.reverse(c)
  }

  /** Struct namespace (reference: expr.rs:918-992 `struct_*`).
    * field_by_index / rename_fields need the struct's schema — they live on
    * the frame (`graft.api.frame.GraftFrame.structFieldByIndex` /
    * `renameStructFields`), where the resolved StructType is available. */
  final class StructNamespace(private val c: Column) {
    def fieldByName(name: String): Column = c.getField(name)
    def jsonEncode: Column = to_json(c)
    def withField(name: String, value: Column): Column = c.withField(name, value)
  }

  /** as_struct (expr.rs:918-930). */
  def asStruct(cols: Column*): Column = org.apache.spark.sql.functions.struct(cols: _*)
}
