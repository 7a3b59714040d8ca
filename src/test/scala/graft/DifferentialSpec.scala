package graft

import java.sql.DriverManager

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-engine differential fuzzing: the same randomly generated query AST
  * is rendered BOTH as a Spark Column/DataFrame pipeline and as ANSI SQL run
  * on DuckDB (in-process JDBC) over the same parquet files, and results are
  * compared row-for-row. One seeded generator, hundreds of plans — the
  * long-tail operator-combination coverage the hand-written oracle queries
  * can't enumerate.
  *
  * Exactness rules (no tolerance comparisons anywhere):
  *  - numeric literals are emitted as CAST(x AS DOUBLE) so both engines run
  *    identical IEEE double arithmetic in identical expression-tree order;
  *  - aggregate sums go through DECIMAL(18,4) (the data is fixed-decimal,
  *    so sums are exact and order-independent on both engines);
  *  - result cells normalize BigDecimal trailing zeros before compare.
  */
class DifferentialSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val li: DataFrame = sf("lineitem")
  private lazy val duck = {
    val c = DriverManager.getConnection("jdbc:duckdb:")
    val st = c.createStatement()
    st.execute(s"CREATE VIEW lineitem AS SELECT * FROM '$sfDir/lineitem.parquet'")
    st.close()
    c
  }

  // ------------------------------------------------------------ query AST

  private sealed trait Num { def spark: Column; def sql: String }
  private case class NCol(n: String) extends Num {
    def spark: Column = col(n); def sql: String = n
  }
  private case class NLit(v: Double) extends Num {
    def spark: Column = lit(v)
    def sql: String = s"CAST($v AS DOUBLE)"
  }
  private case class NBin(op: String, a: Num, b: Num) extends Num {
    def spark: Column = op match {
      case "+" => a.spark + b.spark
      case "-" => a.spark - b.spark
      case "*" => a.spark * b.spark
    }
    def sql: String = s"(${a.sql} $op ${b.sql})"
  }

  private sealed trait Pred { def spark: Column; def sql: String }
  private case class Cmp(op: String, a: Num, b: Num) extends Pred {
    def spark: Column = op match {
      case "<" => a.spark < b.spark
      case "<=" => a.spark <= b.spark
      case ">" => a.spark > b.spark
      case ">=" => a.spark >= b.spark
      case "=" => a.spark === b.spark
      case "<>" => a.spark =!= b.spark
    }
    def sql: String = s"(${a.sql} ${op} ${b.sql})"
  }
  private case class StrEq(c: String, v: String, neg: Boolean) extends Pred {
    def spark: Column = if (neg) col(c) =!= lit(v) else col(c) === lit(v)
    def sql: String = s"($c ${if (neg) "<>" else "="} '$v')"
  }
  private case class DateBefore(v: String, neg: Boolean) extends Pred {
    def spark: Column =
      if (neg) col("l_shipdate") >= lit(java.sql.Timestamp.valueOf(s"$v 00:00:00"))
      else col("l_shipdate") < lit(java.sql.Timestamp.valueOf(s"$v 00:00:00"))
    def sql: String = s"(l_shipdate ${if (neg) ">=" else "<"} TIMESTAMP '$v 00:00:00')"
  }
  private case class Bool(op: String, a: Pred, b: Pred) extends Pred {
    def spark: Column = if (op == "AND") a.spark && b.spark else a.spark || b.spark
    def sql: String = s"(${a.sql} $op ${b.sql})"
  }

  // ------------------------------------------------------------ generator

  private val numCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val strVals = Map(
    "l_returnflag" -> Seq("A", "N", "R"),
    "l_linestatus" -> Seq("F", "O"))

  private def genNum(r: scala.util.Random, depth: Int): Num =
    if (depth == 0 || r.nextInt(3) == 0) {
      if (r.nextBoolean()) NCol(numCols(r.nextInt(numCols.length)))
      // fixed-decimal-ish constants keep comparisons discriminating
      else NLit(math.round(r.nextDouble() * 5000) / 100.0)
    } else NBin(Seq("+", "-", "*")(r.nextInt(3)), genNum(r, depth - 1), genNum(r, depth - 1))

  private def genPred(r: scala.util.Random, depth: Int): Pred = r.nextInt(5) match {
    case 0 if depth > 0 =>
      Bool(if (r.nextBoolean()) "AND" else "OR", genPred(r, depth - 1), genPred(r, depth - 1))
    case 1 =>
      val c = strVals.keys.toSeq(r.nextInt(2))
      StrEq(c, strVals(c)(r.nextInt(strVals(c).length)), r.nextBoolean())
    case 2 =>
      DateBefore(f"199${2 + r.nextInt(7)}%s-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d", r.nextBoolean())
    case _ =>
      Cmp(Seq("<", "<=", ">", ">=", "=", "<>")(r.nextInt(6)), genNum(r, 1), genNum(r, 1))
  }

  // ------------------------------------------------------- result compare

  private def norm(v: Any): String = v match {
    case null => "NULL"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case d: Double => java.lang.Double.toString(d)
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  private def duckRows(sql: String): Seq[Seq[String]] = {
    val st = duck.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      while (rs.next()) out += (1 to n).map(i => norm(rs.getObject(i)))
      out.toSeq
    } finally st.close()
  }

  private def sparkRows(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(r => r.toSeq.map(norm))

  private def assertSame(df: DataFrame, sql: String): Unit = {
    val s = sparkRows(df).sortBy(_.mkString("|"))
    val d = duckRows(sql).sortBy(_.mkString("|"))
    assert(s.size == d.size, s"row count ${s.size} vs ${d.size} for:\n$sql")
    for ((a, b) <- s.zip(d))
      assert(a == b, s"row $a vs $b for:\n$sql")
  }

  // ----------------------------------------------------------------- fuzz

  test("fuzz: 60 random filter+arithmetic-projection plans match DuckDB") {
    for (seed <- 0 until 60) {
      val r = new scala.util.Random(seed)
      val pred = genPred(r, 2)
      val proj = genNum(r, 2)
      val df = li.filter(pred.spark)
        .select(col("l_orderkey"), col("l_linenumber"), proj.spark.as("x"))
      val sql =
        s"SELECT l_orderkey, l_linenumber, ${proj.sql} AS x FROM lineitem WHERE ${pred.sql}"
      assertSame(df, sql)
    }
  }

  test("fuzz: 60 random grouped aggregations match DuckDB") {
    for (seed <- 100 until 160) {
      val r = new scala.util.Random(seed)
      val pred = genPred(r, 1)
      val keys = Seq("l_returnflag", "l_linestatus").take(1 + r.nextInt(2))
      val aggCol = numCols(r.nextInt(numCols.length))
      val df = li.filter(pred.spark).groupBy(keys.map(col): _*)
        .agg(
          count(lit(1)).as("n"),
          min(col(aggCol)).as("mn"),
          max(col(aggCol)).as("mx"),
          sum(col(aggCol).cast("decimal(18,4)")).as("s"))
      val sql =
        s"""SELECT ${keys.mkString(", ")}, count(*) AS n, min($aggCol) AS mn,
           |max($aggCol) AS mx, sum(CAST($aggCol AS DECIMAL(18,4))) AS s
           |FROM lineitem WHERE ${pred.sql} GROUP BY ${keys.mkString(", ")}""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 40 random join plans (inner/left/semi/anti) match DuckDB") {
    val st = duck.createStatement()
    try st.execute(
      s"CREATE VIEW IF NOT EXISTS orders AS SELECT * FROM '$sfDir/orders.parquet'")
    finally st.close()
    val os = sf("orders")
    for (seed <- 300 until 340) {
      val r = new scala.util.Random(seed)
      val pred = genPred(r, 1)
      val oStatus = Seq("F", "O", "P")(r.nextInt(3))
      val joinType = Seq("inner", "left", "semi", "anti")(r.nextInt(4))
      val left = li.filter(pred.spark)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val right = os.filter(col("o_orderstatus") === lit(oStatus))
        .select(col("o_orderkey"), col("o_totalprice"))
      val (df, sql) = joinType match {
        case "semi" | "anti" =>
          val d = left.join(right, left("l_orderkey") === right("o_orderkey"),
            if (joinType == "semi") "left_semi" else "left_anti")
          val ex = if (joinType == "semi") "EXISTS" else "NOT EXISTS"
          (d, s"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
                 |WHERE ${pred.sql} AND $ex (SELECT 1 FROM orders
                 |  WHERE o_orderstatus = '$oStatus' AND o_orderkey = l_orderkey)""".stripMargin)
        case jt =>
          val d = left.join(right, left("l_orderkey") === right("o_orderkey"), jt)
            .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
              col("o_totalprice"))
          val kw = if (jt == "inner") "JOIN" else "LEFT JOIN"
          (d, s"""SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice
                 |FROM (SELECT * FROM lineitem WHERE ${pred.sql}) li
                 |$kw (SELECT o_orderkey, o_totalprice FROM orders
                 |  WHERE o_orderstatus = '$oStatus') os ON o_orderkey = l_orderkey""".stripMargin)
      }
      assertSame(df, sql)
    }
  }

  test("fuzz: 40 random window-function plans match DuckDB") {
    import org.apache.spark.sql.expressions.Window
    for (seed <- 400 until 440) {
      val r = new scala.util.Random(seed)
      val pred = genPred(r, 1)
      val pcol = Seq("l_returnflag", "l_linestatus")(r.nextInt(2))
      val mcol = numCols(r.nextInt(numCols.length))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
      // the measure column joins the ordering: remaining ties are rows
      // identical in every output column, making the output multiset
      // deterministic (prefix sums can't see a swap of equal values)
      val w = Window.partitionBy(col(pcol))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col(mcol))
      val df = li.filter(pred.spark)
        .select(col("l_orderkey"), col("l_linenumber"),
          row_number().over(w).as("rn"),
          lag(col(mcol), 1).over(w).as("lg"),
          sum(col(mcol).cast("decimal(18,4)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("rs"))
      val sql =
        s"""SELECT l_orderkey, l_linenumber,
           |  row_number() OVER win AS rn,
           |  lag($mcol, 1) OVER win AS lg,
           |  sum(CAST($mcol AS DECIMAL(18,4))) OVER
           |    (win ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
           |FROM lineitem WHERE ${pred.sql}
           |WINDOW win AS (PARTITION BY $pcol ORDER BY l_orderkey, l_linenumber, $mcol)""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 40 random string/date-function projections match DuckDB") {
    val st = duck.createStatement()
    try st.execute(
      s"CREATE VIEW IF NOT EXISTS orders AS SELECT * FROM '$sfDir/orders.parquet'")
    finally st.close()
    val os = sf("orders")
    val strCols = Seq("o_orderstatus", "o_orderpriority")
    for (seed <- 500 until 540) {
      val r = new scala.util.Random(seed)
      val sc = strCols(r.nextInt(2))
      val (strSpark, strSql) = r.nextInt(5) match {
        case 0 => (upper(col(sc)), s"upper($sc)")
        case 1 => (lower(col(sc)), s"lower($sc)")
        case 2 =>
          val n = 1 + r.nextInt(4)
          (substring(col(sc), 1, n), s"substring($sc, 1, $n)")
        case 3 => (concat(col(sc), lit("_"), col("o_orderstatus")),
          s"$sc || '_' || o_orderstatus")
        case 4 => (length(col(sc)).cast("long"), s"CAST(length($sc) AS BIGINT)")
      }
      val (dtSpark, dtSql) = r.nextInt(4) match {
        case 0 => (year(col("o_orderdate")).cast("long"), "CAST(year(o_orderdate) AS BIGINT)")
        case 1 => (month(col("o_orderdate")).cast("long"), "CAST(month(o_orderdate) AS BIGINT)")
        case 2 => (dayofmonth(col("o_orderdate")).cast("long"), "CAST(day(o_orderdate) AS BIGINT)")
        // DuckDB's date_trunc('month') yields DATE; Spark's yields TIMESTAMP
        case 3 => (date_trunc("month", col("o_orderdate")),
          "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)")
      }
      val cutoff = f"199${2 + r.nextInt(7)}%s-${1 + r.nextInt(12)}%02d-01"
      val df = os.filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(s"$cutoff 00:00:00")))
        .select(col("o_orderkey"), strSpark.as("s"), dtSpark.as("d"))
      val sql =
        s"""SELECT o_orderkey, $strSql AS s, $dtSql AS d FROM orders
           |WHERE o_orderdate >= TIMESTAMP '$cutoff 00:00:00'""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 40 random null-semantics plans match DuckDB") {
    // the base data has no nulls, so nulls are INJECTED via NULLIF on an
    // in-domain constant, then flowed through arithmetic (null-propagating),
    // COALESCE, IS [NOT] NULL predicates, and null-skipping aggregates
    for (seed <- 600 until 640) {
      val r = new scala.util.Random(seed)
      val c = numCols(r.nextInt(numCols.length))
      val v = math.round(r.nextDouble() * 8) / 100.0 // discounts/taxes hit often
      val nulled = when(col(c) === lit(v), lit(null)).otherwise(col(c))
      val nulledSql = s"nullif($c, CAST($v AS DOUBLE))"
      val keys = Seq("l_returnflag", "l_linestatus").take(1 + r.nextInt(2))
      val df = li
        .select(Seq(col("l_orderkey"), (nulled * lit(2.0)).as("x"),
          coalesce(nulled, lit(-1.0)).as("y"), nulled.isNull.as("isn")) ++
          keys.map(col): _*)
        .groupBy((col("isn") +: keys.map(col)): _*)
        .agg(count(lit(1)).as("n_rows"), count(col("x")).as("n_x"),
          min(col("y")).as("mn"),
          sum(col("x").cast("decimal(18,4)")).as("s"))
      val sql =
        s"""SELECT ($nulledSql IS NULL) AS isn, ${keys.mkString(", ")},
           |  count(*) AS n_rows, count($nulledSql * CAST(2.0 AS DOUBLE)) AS n_x,
           |  min(coalesce($nulledSql, CAST(-1.0 AS DOUBLE))) AS mn,
           |  sum(CAST($nulledSql * CAST(2.0 AS DOUBLE) AS DECIMAL(18,4))) AS s
           |FROM lineitem GROUP BY isn, ${keys.mkString(", ")}""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 30 random pivot plans match DuckDB conditional aggregation") {
    // Spark's relational pivot operator vs the CASE-aggregation it is
    // defined to equal — pinned values so output columns are stable
    for (seed <- 900 until 930) {
      val r = new scala.util.Random(seed)
      val pred = genPred(r, 1)
      val mcol = numCols(r.nextInt(numCols.length))
      val df = li.filter(pred.spark)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col(mcol).cast("decimal(18,4)")))
      val sql =
        s"""SELECT l_returnflag,
           |  sum(CASE WHEN l_linestatus = 'F' THEN CAST($mcol AS DECIMAL(18,4)) END) AS F,
           |  sum(CASE WHEN l_linestatus = 'O' THEN CAST($mcol AS DECIMAL(18,4)) END) AS O
           |FROM lineitem WHERE ${pred.sql} GROUP BY l_returnflag""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 30 random list/explode plans match DuckDB") {
    for (seed <- 800 until 830) {
      val r = new scala.util.Random(seed)
      val pred = genPred(r, 1)
      val a = numCols(r.nextInt(numCols.length))
      val b = numCols(r.nextInt(numCols.length))
      // build a per-row list, transform it, explode it — the array surface
      val df = li.filter(pred.spark)
        .select(col("l_orderkey"),
          explode(array(col(a), col(b), (col(a) + col(b)))).as("v"),
          size(array(col(a), col(b))).cast("long").as("n"),
          array_max(array(col(a), col(b))).as("mx"))
      val sql =
        s"""SELECT l_orderkey, unnest([$a, $b, $a + $b]) AS v,
           |  CAST(len([$a, $b]) AS BIGINT) AS n,
           |  list_max([$a, $b]) AS mx
           |FROM lineitem WHERE ${pred.sql}""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 30 random set-operation plans match DuckDB") {
    for (seed <- 700 until 730) {
      val r = new scala.util.Random(seed)
      val p1 = genPred(r, 1)
      val p2 = genPred(r, 1)
      val cols = Seq("l_returnflag", "l_linestatus", "l_quantity")
      def side(p: Pred) = li.filter(p.spark).select(cols.map(col): _*)
      def sideSql(p: Pred) = s"SELECT ${cols.mkString(", ")} FROM lineitem WHERE ${p.sql}"
      val (df, sql) = r.nextInt(4) match {
        case 0 => (side(p1).union(side(p2)),
          s"${sideSql(p1)} UNION ALL ${sideSql(p2)}")
        case 1 => (side(p1).union(side(p2)).distinct(),
          s"${sideSql(p1)} UNION ${sideSql(p2)}")
        case 2 => (side(p1).except(side(p2)),
          s"${sideSql(p1)} EXCEPT ${sideSql(p2)}")
        case 3 => (side(p1).intersect(side(p2)),
          s"${sideSql(p1)} INTERSECT ${sideSql(p2)}")
      }
      assertSame(df, sql)
    }
  }

  test("fuzz: 30 random group_by_dynamic plans match DuckDB time_bucket") {
    // grammar 13: dynamic (tumbling) time grouping — random `every`,
    // grouping keys, filters, and offsets against DuckDB's time_bucket.
    // Standard config (closed=left, label=left, window-bound start), the
    // config time_bucket implements; the full closed/label/start_by matrix
    // is pinned by the hand-written oracles (q25/q35/q43) and specs.
    val st0 = duck.createStatement()
    try st0.execute(
      s"CREATE VIEW IF NOT EXISTS events AS SELECT * FROM '$sfDir/events.parquet'")
    finally st0.close()
    for (seed <- 1300 until 1330) {
      val r = new scala.util.Random(seed)
      val (estr, esql) = Seq(
        ("1h", "1 hour"), ("2h", "2 hours"), ("3h", "3 hours"),
        ("6h", "6 hours"), ("12h", "12 hours"), ("1d", "1 day"))(r.nextInt(6))
      val keyed = r.nextBoolean()
      val et = Seq("click", "error", "purchase", "signup", "view")(r.nextInt(5))
      val useFilter = r.nextBoolean()
      val base0 = sf("events")
      val base = if (useFilter) base0.filter(col("event_type") =!= lit(et)) else base0
      val by = if (keyed) Seq("event_type") else Seq.empty
      val df = graft.operators.DynamicGroupBy(base, "ts", every = estr, by = by)(
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sv"),
          count(lit(1)).as("n"),
          min(col("event_id")).as("first_ev"))
        .select((Seq(expr("unix_micros(cast(ts as timestamp))").as("tsu")) ++
          by.map(col) :+ col("sv") :+ col("n") :+ col("first_ev")): _*)
      val keyCols = if (keyed) ", event_type" else ""
      val whereSql = if (useFilter) s"WHERE event_type <> '$et'" else ""
      val sql =
        s"""SELECT epoch_us(time_bucket(INTERVAL '$esql', ts)) AS tsu$keyCols,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
           |  count(*) AS n, min(event_id) AS first_ev
           |FROM events $whereSql GROUP BY 1${if (keyed) ", 2" else ""}""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 40 random rolling-window plans (rows + time closed-variants) match DuckDB") {
    // grammar 12: rolling windows. Rows-based fixed windows with random
    // size and min_periods over orders; time-based windows with random
    // duration and closed ∈ {Right, Both} over events (exact integer-µs
    // range bounds on both engines). Sums run through DECIMAL for
    // order-independent exactness; min_periods is the count guard.
    val st0 = duck.createStatement()
    try {
      st0.execute(s"CREATE VIEW IF NOT EXISTS orders AS SELECT * FROM '$sfDir/orders.parquet'")
      st0.execute(s"CREATE VIEW IF NOT EXISTS events AS SELECT * FROM '$sfDir/events.parquet'")
    } finally st0.close()
    val R = graft.operators.Rolling
    for (seed <- 1200 until 1240) {
      val r = new scala.util.Random(seed)
      if (r.nextBoolean()) {
        // ---- rows-based over orders, keyed, (o_orderdate, o_orderkey) order
        val n = 2 + r.nextInt(10)
        val minp = 1 + r.nextInt(n)
        val pcol = Seq("o_custkey", "o_orderstatus")(r.nextInt(2))
        val thr = 1000.0 * r.nextInt(100)
        val spec = R.fixedSpec(s"${n}i",
          Seq(col("o_orderdate"), col("o_orderkey")), Seq(col(pcol)))
        val df = sf("orders")
          .filter(col("o_totalprice") >= lit(thr))
          .select(col("o_orderkey"),
            R.withMinPeriods(sum(col("o_totalprice").cast("decimal(18,2)")),
              col("o_totalprice"), spec, minp).cast("double").as("rs"),
            R.withMinPeriods(min(col("o_totalprice")), col("o_totalprice"), spec, minp).as("mn"),
            count(lit(1)).over(spec).as("wn"))
        val sql =
          s"""SELECT o_orderkey,
             |  CASE WHEN count(o_totalprice) OVER w >= $minp
             |       THEN CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) END AS rs,
             |  CASE WHEN count(o_totalprice) OVER w >= $minp
             |       THEN min(o_totalprice) OVER w END AS mn,
             |  count(*) OVER w AS wn
             |FROM orders WHERE o_totalprice >= CAST($thr AS DOUBLE)
             |WINDOW w AS (PARTITION BY $pcol ORDER BY o_orderdate, o_orderkey
             |             ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)""".stripMargin
        assertSame(df, sql)
      } else {
        // ---- time-based over events, keyed on user_id, closed Right/Both
        val sizes = Seq(("30m", 30L * 60000000L), ("2h", 2L * 3600000000L),
          ("12h", 12L * 3600000000L), ("1d", 24L * 3600000000L))
        val (wstr, wus) = sizes(r.nextInt(sizes.length))
        val closedRight = r.nextBoolean()
        val minp = 1 + r.nextInt(3)
        val et = Seq("click", "purchase", "view")(r.nextInt(3))
        val spec = R.timeSpec(wstr, col("ts"), Seq(col("user_id")),
          if (closedRight) R.Right else R.Both)
        val df = sf("events").filter(col("event_type") === lit(et))
          .select(col("event_id"),
            R.withMinPeriods(sum(col("value").cast("decimal(18,4)")),
              col("value"), spec, minp).cast("double").as("rs"),
            count(lit(1)).over(spec).as("wn"))
        val loUs = if (closedRight) wus - 1 else wus
        val sql =
          s"""SELECT event_id,
             |  CASE WHEN count(value) OVER w >= $minp
             |       THEN CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) END AS rs,
             |  count(*) OVER w AS wn
             |FROM events WHERE event_type = '$et'
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts
             |             RANGE BETWEEN INTERVAL $loUs MICROSECONDS PRECEDING AND CURRENT ROW)""".stripMargin
        assertSame(df, sql)
      }
    }
  }

  test("fuzz: 40 random as-of join plans match DuckDB's native ASOF JOIN") {
    // grammar 11: the as-of join — fuzzed against an INDEPENDENT
    // implementation (DuckDB's built-in ASOF JOIN operator), not a
    // hand-written window mirror. Dimensions: backward/forward × strict/
    // allow-eq × keyed/unkeyed × tolerance on/off × right-side density.
    // events.ts is globally unique (checked), so matches are unambiguous.
    // Timestamps compare as epoch micros to dodge JDBC tz round-trips.
    val st0 = duck.createStatement()
    try st0.execute(
      s"CREATE VIEW IF NOT EXISTS events AS SELECT * FROM '$sfDir/events.parquet'")
    finally st0.close()
    val ev = sf("events")
    val types = Seq("click", "error", "purchase", "signup", "view")
    for (seed <- 1100 until 1140) {
      val r = new scala.util.Random(seed)
      val lt = types(r.nextInt(types.length))
      val rt = types(r.nextInt(types.length))
      val backward = r.nextBoolean()
      val allowEq = r.nextBoolean()
      val keyed = r.nextBoolean()
      val tolMin = if (r.nextBoolean()) Some(Seq(5, 30, 120, 720)(r.nextInt(4))) else None
      val thr = r.nextInt(100).toDouble // right-side density dial

      val l = ev.filter(col("event_type") === lt)
        .select(col("event_id"), col("user_id"), col("ts"))
      val rFil = ev.filter(col("event_type") === rt && col("value") >= thr)
      val rr =
        if (keyed) rFil.select(col("user_id"), col("ts"), col("value").as("rv"))
        else rFil.select(col("ts"), col("value").as("rv"))
      val joined = graft.operators.AsofJoin.join(
        l, rr, "ts", "ts",
        by = if (keyed) Seq(("user_id", "user_id")) else Seq.empty,
        strategy = if (backward) graft.operators.AsofJoin.Backward
                   else graft.operators.AsofJoin.Forward,
        tolerance = tolMin.map(m => s"${m}m"),
        allowEq = allowEq)
      val df = joined.select(col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("tsu"), col("rv"))

      val op = (backward, allowEq) match {
        case (true, true) => ">="
        case (true, false) => ">"
        case (false, true) => "<="
        case (false, false) => "<"
      }
      val onKey = if (keyed) "l.user_id = r.user_id AND " else ""
      val rvOut = tolMin match {
        case None => "r.rv"
        case Some(m) =>
          val tolUs = m.toLong * 60L * 1000000L
          val diff =
            if (backward) "epoch_us(l.ts) - epoch_us(r.ts)"
            else "epoch_us(r.ts) - epoch_us(l.ts)"
          s"CASE WHEN $diff <= $tolUs THEN r.rv END"
      }
      val rCols = if (keyed) "user_id, ts, value AS rv" else "ts, value AS rv"
      val sql =
        s"""SELECT l.event_id, epoch_us(l.ts) AS tsu, $rvOut AS rv
           |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = '$lt') l
           |ASOF LEFT JOIN (SELECT $rCols FROM events
           |  WHERE event_type = '$rt' AND value >= $thr) r
           |ON ${onKey}l.ts $op r.ts""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 40 random unkeyed GLOBAL rolling plans match DuckDB window frames") {
    // grammar 33: the round-11 rewrite of the unkeyed rolling scale path
    // (range partition + margin-gated equi-join context duplication in
    // Rolling.fixedGlobal/timeGlobal) fuzzed directly against DuckDB's
    // single global window frame — the semantics the distributed plan must
    // reproduce. Dimensions: rows-based (window size × min_periods ×
    // sum/min/max over a DECIMAL-exact money view) and time-based (duration
    // × full closed matrix, sum through the O(n) running-difference path) ×
    // random input filters. Equal order keys never occur (o_orderkey and
    // events.ts are unique), so frames are unambiguous.
    val st0 = duck.createStatement()
    try {
      st0.execute(s"CREATE VIEW IF NOT EXISTS orders AS SELECT * FROM '$sfDir/orders.parquet'")
      st0.execute(s"CREATE VIEW IF NOT EXISTS events AS SELECT * FROM '$sfDir/events.parquet'")
    } finally st0.close()
    val R = graft.operators.Rolling
    for (seed <- 3300 until 3340) {
      val r = new scala.util.Random(seed)
      if (r.nextBoolean()) {
        val n = Seq(2, 3, 5, 10, 25, 100)(r.nextInt(6))
        val mp = if (r.nextBoolean()) 1 else math.max(1, n / 2)
        val thr = 50000 + r.nextInt(250000)
        val agg = r.nextInt(3)
        val base = sf("orders").filter(col("o_totalprice") <= thr)
        val aggSpark: org.apache.spark.sql.expressions.WindowSpec => Column = agg match {
          case 0 => w => sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
          case 1 => w => min(col("o_totalprice")).over(w)
          case _ => w => max(col("o_totalprice")).over(w)
        }
        val df = R.fixedGlobal(base, s"${n}i", Seq(col("o_orderkey")), Seq(
            "v" -> (w => when(count(lit(1)).over(w) >= lit(mp), aggSpark(w))),
            "c" -> (w => count(lit(1)).over(w))))
          .select(col("o_orderkey"), col("v"), col("c"))
        val aggSql = agg match {
          case 0 => "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)"
          case 1 => "min(o_totalprice) OVER w"
          case _ => "max(o_totalprice) OVER w"
        }
        val sql =
          s"""SELECT o_orderkey,
             |  CASE WHEN count(*) OVER w >= $mp THEN $aggSql END AS v,
             |  count(*) OVER w AS c
             |FROM orders WHERE o_totalprice <= $thr
             |WINDOW w AS (ORDER BY o_orderkey ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)""".stripMargin
        assertSame(df, sql)
      } else {
        val (durStr, us) = Seq(("30m", 30L * 60 * 1000000L), ("2h", 2L * 3600 * 1000000L),
          ("1d", 24L * 3600 * 1000000L), ("3d", 72L * 3600 * 1000000L))(r.nextInt(4))
        val closed = Seq(R.Right, R.Both, R.Left, R.NoneC)(r.nextInt(4))
        val thr = r.nextInt(100)
        val base = sf("events").filter(col("value") >= thr)
        // count through diffCounts (round-12): BOTH subtractable aggregates
        // ride the O(n) running-difference path across the closed matrix
        val df = R.timeGlobal(base, durStr, col("ts"), closed,
            diffSums = Seq("v" -> col("value").cast("decimal(18,4)")),
            diffCounts = Seq("c" -> lit(1)))
          .select(col("event_id"), col("v").cast("double").as("v"), col("c"))
        val frame = closed match {
          case R.Right => s"${us - 1} PRECEDING AND CURRENT ROW"
          case R.Both  => s"$us PRECEDING AND CURRENT ROW"
          case R.Left  => s"$us PRECEDING AND 1 PRECEDING"
          case R.NoneC => s"${us - 1} PRECEDING AND 1 PRECEDING"
        }
        val sql =
          s"""SELECT event_id,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS v,
             |  count(*) OVER w AS c
             |FROM events WHERE value >= $thr
             |WINDOW w AS (ORDER BY epoch_us(ts) RANGE BETWEEN $frame)""".stripMargin
        assertSame(df, sql)
      }
    }
  }

  test("fuzz: 10 random streaming tumbling-window aggregations match DuckDB (grammar 34)") {
    // grammar 34 (round 11): the Structured-Streaming RUNTIME path — q61's
    // face generalized. Random tumbling width × value filter × optional
    // by-key, each run end-to-end as a real streaming query (file source →
    // watermark → StreamOps.windowedAgg → complete-mode memory sink,
    // Trigger.AvailableNow) and compared against DuckDB's epoch-origin
    // time_bucket recomputation. This proves the streaming source, state
    // store, and sink produce the batch answer — not merely that
    // windowedAgg's expressions are correct. Widths beyond DuckDB's
    // 2000-01-01 anchor phase (2d) pin the origin explicitly to Spark's
    // epoch alignment; both sides cast the bucket to VARCHAR (grammar 26's
    // timestamp-compare discipline).
    val st0 = duck.createStatement()
    try st0.execute(s"CREATE VIEW IF NOT EXISTS events AS SELECT * FROM '$sfDir/events.parquet'")
    finally st0.close()
    // the file stream source needs a DIRECTORY: link the single-file table
    val dir = java.nio.file.Files.createTempDirectory("g34_events")
    java.nio.file.Files.createSymbolicLink(dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    try {
      val schema = spark.read.parquet(dir.toString).schema
      val tsIsLong = schema.fields.exists(f =>
        f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
      for (seed <- 3400 until 3410) {
        val r = new scala.util.Random(seed)
        val (every, bucketSql) = Seq(
          ("6h", "INTERVAL '6 hours'"), ("12h", "INTERVAL '12 hours'"),
          ("1d", "INTERVAL '1 day'"), ("2d", "INTERVAL '2 days'"))(r.nextInt(4))
        val byType = r.nextBoolean()
        val thr = r.nextInt(100)
        val raw = spark.readStream.schema(schema).parquet(dir.toString)
        val ev0 =
          if (tsIsLong)
            raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp)"))
          else raw.withColumn("ts", col("ts").cast("timestamp"))
        val ev = ev0.filter(col("value") >= thr)
        val out = graft.streaming.StreamOps.windowedAgg(ev, "ts", every = every,
            by = if (byType) Seq("event_type") else Seq.empty)(
            count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).as("s"))
        val qn = s"g34_$seed"
        val q = out.writeStream.format("memory").queryName(qn)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val keyCols = if (byType) Seq(col("event_type")) else Seq.empty
        val res = spark.table(qn).select(
          (col("ts").cast("timestamp_ntz").cast("string").as("b") +: keyCols) ++
            Seq(col("n"), col("s").cast("double").as("s")): _*)
        val keySql = if (byType) ", event_type" else ""
        val sql =
          s"""SELECT CAST(time_bucket($bucketSql, CAST(ts AS TIMESTAMP),
             |    TIMESTAMP '1970-01-01 00:00:00') AS VARCHAR) AS b$keySql,
             |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s
             |FROM events WHERE value >= $thr GROUP BY ALL""".stripMargin
        try assertSame(res, sql) finally spark.catalog.dropTempView(qn)
      }
    } finally {
      java.nio.file.Files.deleteIfExists(dir.resolve("events.parquet"))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("fuzz: 20 random BM25 scoring plans match the generated DuckDB rendering (grammar 35)") {
    // grammar 35 (round 11): Prep.bm25 across random term sets (frequent,
    // mid, and absent words — df = 0 paths), k1 and b grids including the
    // b = 0 (no length normalization) and b = 1 (full normalization)
    // edges. The oracle SQL comes from the SAME generator qd50's oracle
    // uses (PrepFaces.bm25OracleSql), so this fuzzes the expression-tree
    // mirroring itself: any associativity or literal-precision drift
    // between the Spark Column chain and the SQL rendering breaks the
    // exact integer equality.
    val st0 = duck.createStatement()
    try st0.execute(
      s"CREATE VIEW IF NOT EXISTS documents AS SELECT * FROM '$sfDir/documents.parquet'")
    finally st0.close()
    val vocab = Seq("scan", "column", "window", "order", "sort", "part", "agg",
      "value", "line", "key", "join", "merge", "hash", "stream", "batch",
      "zebra", "qqqq", "absent") // last three never occur: df = 0
    val k1s = Seq(0.9, 1.2, 1.5, 2.0)
    val bsq = Seq(0.0, 0.4, 0.75, 1.0)
    for (seed <- 3500 until 3520) {
      val r = new scala.util.Random(seed)
      val terms = r.shuffle(vocab).take(1 + r.nextInt(4))
      val k1 = k1s(r.nextInt(k1s.length))
      val b = bsq(r.nextInt(bsq.length))
      val df = graft.prep.Prep.bm25(sf("documents"), "doc_id", "text", terms, k1, b)
        .select(col("doc_id"), col("lang"), col("bm25_uscore"))
      assertSame(df, graft.faces.PrepFaces.bm25OracleSql(terms, k1, b))
    }
  }

  /** The independent DuckDB rendering of gap sessionization over `src`
    * (any SELECT producing user_id, ts, value, event_id): lag + strict-'>'
    * gap break + running-sum session id, both windows tie-broken on
    * event_id, session_id cast to BIGINT (DuckDB's integer window sum is
    * HUGEINT — the r11 q72 driver-hash artifact). Shared by grammar 36 and
    * the tie/boundary fixture grammar 36b. */
  private def sessionizeSql(src: String, gapUs: Long): String =
    s"""WITH e AS (
       |  $src
       |), b AS (
       |  SELECT user_id, ts, value, event_id,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > $gapUs
       |         THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), s AS (
       |  SELECT user_id, value,
       |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM b
       |)
       |SELECT user_id, session_id, count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
       |FROM s GROUP BY user_id, session_id""".stripMargin

  test("fuzz: 15 random gap-sessionization plans match DuckDB (grammar 36)") {
    // grammar 36 (round 11): Sessionize.sessionsBatch (q72's declarative
    // face) across random gap widths (1m..2d — from every-event-its-own-
    // session up to one-session-per-user), event filters, and both event
    // streams, vs the independent DuckDB lag + running-sum rendering.
    // Boundary semantics under test: strict '>' gap comparison, NULL lag =
    // first session, per-user isolation.
    val st0 = duck.createStatement()
    try st0.execute(
      s"CREATE VIEW IF NOT EXISTS events AS SELECT * FROM '$sfDir/events.parquet'")
    finally st0.close()
    val gaps = Seq(("1m", 60000000L), ("30m", 1800000000L), ("2h", 7200000000L),
      ("12h", 43200000000L), ("2d", 172800000000L))
    val types = Seq("click", "purchase", "view")
    for (seed <- 3600 until 3615) {
      val r = new scala.util.Random(seed)
      val (gapStr, gapUs) = gaps(r.nextInt(gaps.length))
      val et = types(r.nextInt(types.length))
      val thr = r.nextInt(100)
      val base = sf("events").filter(col("event_type") === lit(et) && col("value") >= thr)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      val df = graft.streaming.Sessionize.sessionsBatch(base,
          "user_id", "ts", "value", gap = gapStr, tieCols = Seq("event_id"))
        .select(col("user_id"), col("session_id"),
          col("n_events"), col("sum_value"))
      assertSame(df, sessionizeSql(
        s"SELECT user_id, ts, value, event_id FROM events " +
          s"WHERE event_type = '$et' AND value >= $thr", gapUs))
    }
  }

  test("fuzz: sessionization ties / boundary-exact gaps / singletons match DuckDB (grammar 36b)") {
    // grammar 36b (round-12 directive 5): the surfaces where a declarative
    // twin classically drifts from the state machine — duplicate (user, ts)
    // rows (incl. ties ON a session boundary), boundary-exact gaps
    // (diff == gap stays in-session under the strict '>' rule vs
    // diff == gap+1µs breaking), and single-event users/sessions. The
    // fixture FORCES these shapes (the sf events streams carry none), and
    // event_id tie-breaks both window passes on both engines.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_g36b").toString
    for (seed <- 3650 until 3660) {
      val r = new scala.util.Random(seed)
      val (gapStr, gapUs) = Seq(("1m", 60000000L), ("30m", 1800000000L))(r.nextInt(2))
      val rows = scala.collection.mutable.ArrayBuffer[(Long, java.sql.Timestamp, Double, Long)]()
      var eid = 0L
      for (user <- 1L to 12L) {
        var us = 1700000000000000L + user * 86400000000L
        val n = 1 + r.nextInt(8) // n == 1: the single-event-user shape
        for (i <- 0 until n) {
          if (i > 0) us += (r.nextInt(5) match {
            case 0 => 0L          // duplicate (user, ts) — tie
            case 1 => gapUs       // boundary-exact: same session (strict >)
            case 2 => gapUs + 1000L // just past the boundary: new session
            case 3 => 1000000L    // 1s — well inside
            case _ => gapUs * 3   // far outside — guarantees singletons
          })
          rows += ((user, new java.sql.Timestamp(us / 1000L), // µs all ‰1000
            (r.nextInt(10000) + 1) / 100.0, eid))
          eid += 1
        }
      }
      // shuffled input order: neither engine may depend on arrival order
      val df0 = r.shuffle(rows.toSeq).toDF("user_id", "ts", "value", "event_id")
      val path = s"$dir/s$seed"
      df0.write.mode("overwrite").parquet(path)
      val st = duck.createStatement()
      try st.execute(s"CREATE OR REPLACE VIEW sess_fix AS SELECT * FROM '$path/*.parquet'")
      finally st.close()
      val got = graft.streaming.Sessionize.sessionsBatch(
          spark.read.parquet(path), "user_id", "ts", "value",
          gap = gapStr, tieCols = Seq("event_id"))
        .select(col("user_id"), col("session_id"), col("n_events"), col("sum_value"))
      assertSame(got, sessionizeSql(
        "SELECT user_id, ts, value, event_id FROM sess_fix", gapUs))
    }
  }

  test("fuzz: 40 random NEAREST as-of joins match two-directional DuckDB ASOF + tie-break") {
    // grammar 32 (round-10 directive 7): `nearest` has no DuckDB primitive,
    // so render its DEFINITION — a backward ASOF and a forward ASOF
    // re-joined on the unique left id, tolerance nulling each directional
    // candidate independently, the nearer survivor winning and ties going
    // backward (the Polars rule). Grammar 11 fuzzes the two directional
    // strategies against DuckDB's native operator; this covers the third.
    // Dimensions: strict/allow-eq × keyed/unkeyed × tolerance on/off ×
    // right-side density. events.ts is globally unique, so matches and the
    // tie-break are unambiguous.
    val st0 = duck.createStatement()
    try st0.execute(
      s"CREATE VIEW IF NOT EXISTS events AS SELECT * FROM '$sfDir/events.parquet'")
    finally st0.close()
    val ev = sf("events")
    val types = Seq("click", "error", "purchase", "signup", "view")
    for (seed <- 3200 until 3240) {
      val r = new scala.util.Random(seed)
      val lt = types(r.nextInt(types.length))
      val rt = types(r.nextInt(types.length))
      val allowEq = r.nextBoolean()
      val keyed = r.nextBoolean()
      val tolMin = if (r.nextBoolean()) Some(Seq(5, 30, 120, 720)(r.nextInt(4))) else None
      val thr = r.nextInt(100).toDouble

      val l = ev.filter(col("event_type") === lt)
        .select(col("event_id"), col("user_id"), col("ts"))
      val rFil = ev.filter(col("event_type") === rt && col("value") >= thr)
      val rr =
        if (keyed) rFil.select(col("user_id"), col("ts"), col("value").as("rv"))
        else rFil.select(col("ts"), col("value").as("rv"))
      val joined = graft.operators.AsofJoin.join(
        l, rr, "ts", "ts",
        by = if (keyed) Seq(("user_id", "user_id")) else Seq.empty,
        strategy = graft.operators.AsofJoin.Nearest,
        tolerance = tolMin.map(m => s"${m}m"),
        allowEq = allowEq)
      val df = joined.select(col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("tsu"), col("rv"))

      val (bOp, fOp) = if (allowEq) (">=", "<=") else (">", "<")
      val onKeyB = if (keyed) "lb.user_id = rb.user_id AND " else ""
      val onKeyF = if (keyed) "lf.user_id = rf.user_id AND " else ""
      val rCols = if (keyed) "user_id, ts, value AS rv" else "ts, value AS rv"
      // per-direction tolerance guard (engine nulls each candidate struct
      // before the distance comparison); no tolerance → pass-through
      val (bGuard, fGuard) = tolMin match {
        case Some(m) =>
          val tolUs = m.toLong * 60L * 1000000L
          (s" AND epoch_us(ts) - epoch_us(bts) <= $tolUs",
           s" AND epoch_us(fts) - epoch_us(ts) <= $tolUs")
        case None => ("", "")
      }
      val sql =
        s"""WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = '$lt'),
           |r AS (SELECT $rCols FROM events WHERE event_type = '$rt' AND value >= $thr),
           |b AS (SELECT lb.event_id, rb.ts AS bts, rb.rv AS brv
           |      FROM l lb ASOF LEFT JOIN r rb ON ${onKeyB}lb.ts $bOp rb.ts),
           |f AS (SELECT lf.event_id, rf.ts AS fts, rf.rv AS frv
           |      FROM l lf ASOF LEFT JOIN r rf ON ${onKeyF}lf.ts $fOp rf.ts),
           |fil AS (
           |  SELECT event_id, ts,
           |    CASE WHEN bts IS NOT NULL$bGuard THEN bts END AS b2,
           |    CASE WHEN bts IS NOT NULL$bGuard THEN brv END AS bv,
           |    CASE WHEN fts IS NOT NULL$fGuard THEN fts END AS f2,
           |    CASE WHEN fts IS NOT NULL$fGuard THEN frv END AS fv
           |  FROM l LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id))
           |SELECT event_id, epoch_us(ts) AS tsu,
           |  CASE WHEN f2 IS NULL OR (b2 IS NOT NULL AND
           |         epoch_us(ts) - epoch_us(b2) <= epoch_us(f2) - epoch_us(ts))
           |       THEN bv ELSE fv END AS rv
           |FROM fil""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 60 random prep chunk/pack/split/dedup compositions match DuckDB") {
    // grammar 10: the LLM-prep operator set. Every stage is exact-integer
    // by design (Prep's contract), so a random COMPOSITION — hash-split
    // and/or stratified-keep filter → chunk(size, stride) → optional
    // pack(budget) → optional keep-first dedup — has a bit-exact DuckDB
    // mirror built from the same formulas with the same random parameters.
    val st0 = duck.createStatement()
    try st0.execute(
      s"CREATE VIEW IF NOT EXISTS documents AS SELECT * FROM '$sfDir/documents.parquet'")
    finally st0.close()
    val docs = sf("documents")
    val Pp = graft.prep.Prep
    val langs = Seq("en", "de", "es", "fr", "zh")
    for (seed <- 1000 until 1060) {
      val r = new scala.util.Random(seed)
      val withSplit = r.nextBoolean()
      val trainPm = 600 + r.nextInt(3) * 100
      val validPm = 100 + r.nextInt(2) * 100
      val part = Seq("train", "valid", "test")(r.nextInt(3))
      val salt1 = r.nextInt(4).toLong
      val withStrat = r.nextBoolean()
      val rates = langs.take(2 + r.nextInt(3)).map(l => l -> (r.nextInt(4) + 1) * 250).toMap
      val defaultPm = (r.nextInt(4) + 1) * 250
      val salt2 = salt1 + 7
      val cs = 16 + r.nextInt(81) // chunkSize 16..96
      val stride = 1 + r.nextInt(cs) // 1..chunkSize
      val withPack = r.nextBoolean()
      val budget = 64L << r.nextInt(6) // 64..2048
      val withDedup = r.nextBoolean()

      // ---- Spark side
      var base = docs
      if (withSplit)
        base = base.filter(Pp.split(col("doc_id"), trainPm, validPm, salt1) === lit(part))
      if (withStrat)
        base = base.filter(Pp.stratifiedKeep(col("doc_id"), col("lang"), rates, defaultPm, salt2))
      var out = Pp.chunk(base, "doc_id", "text", cs, stride, carryCols = Seq("lang"))
      out =
        if (withPack) Pp.packByTokens(out, "lang", Seq("doc_id", "chunk_id"), "n_chunk_tokens", budget)
        else out.withColumn("seq_id", lit(0L)).withColumn("seq_offset", lit(0L))
      if (withDedup)
        out = graft.dedup.Dedup.exactByKey(
          out.withColumn("__ord", col("doc_id") * 100000L + col("chunk_id")),
          struct(col("lang"), col("n_chunk_tokens")), "__ord")
      val df = out.select(col("doc_id"), col("chunk_id"), col("lang"),
        col("n_chunk_tokens"), col("seq_id"), col("seq_offset"))

      // ---- DuckDB mirror (same constants, same formulas)
      val H = "% 1000000007) * 2654435761 % 1000000007 % 1000"
      val conds = Seq(
        if (!withSplit) None else Some {
          val b = s"((doc_id + $salt1) $H"
          part match {
            case "train" => s"$b < $trainPm"
            case "valid" => s"($b >= $trainPm AND $b < ${trainPm + validPm})"
            case "test" => s"$b >= ${trainPm + validPm}"
          }
        },
        if (!withStrat) None else Some {
          val cases = rates.map { case (l, v) => s"WHEN lang = '$l' THEN $v" }.mkString(" ")
          s"((doc_id + $salt2) $H < (CASE $cases ELSE $defaultPm END)"
        }).flatten
      val where = if (conds.isEmpty) "TRUE" else conds.mkString(" AND ")
      val delta = cs - stride
      val packed =
        if (withPack)
          s"""p AS (
             |  SELECT *, CAST(coalesce(sum(n_chunk_tokens) OVER (
             |    PARTITION BY lang ORDER BY doc_id, chunk_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
             |  FROM c
             |),
             |q AS (SELECT doc_id, lang, chunk_id, n_chunk_tokens,
             |  prev // $budget AS seq_id, prev % $budget AS seq_offset FROM p)""".stripMargin
        else
          s"""q AS (SELECT doc_id, lang, chunk_id, n_chunk_tokens,
             |  CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset FROM c)""".stripMargin
      val finalFrom =
        if (withDedup)
          s"""(SELECT * FROM (
             |  SELECT *, row_number() OVER (PARTITION BY lang, n_chunk_tokens
             |    ORDER BY doc_id * 100000 + chunk_id) AS rn FROM q) WHERE rn = 1)""".stripMargin
        else "q"
      val sql =
        s"""WITH toks AS (
           |  SELECT doc_id, lang, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
           |  FROM documents WHERE $where
           |),
           |c AS (
           |  SELECT doc_id, lang,
           |    unnest([CAST(st // $stride AS BIGINT)
           |            FOR st IN range(0, greatest(len(w) - $delta, 1), $stride)]) AS chunk_id,
           |    unnest([CAST(len(w[st+1:st+$cs]) AS BIGINT)
           |            FOR st IN range(0, greatest(len(w) - $delta, 1), $stride)]) AS n_chunk_tokens
           |  FROM toks
           |),
           |$packed
           |SELECT doc_id, chunk_id, lang, n_chunk_tokens, seq_id, seq_offset FROM $finalFrom""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 30 random sort+limit plans match DuckDB") {
    for (seed <- 200 until 230) {
      val r = new scala.util.Random(seed)
      val pred = genPred(r, 1)
      val k = 5 + r.nextInt(20)
      // total order: sort by every output column so limit is deterministic
      val df = li.filter(pred.spark)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .limit(k)
      val sql =
        s"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
           |WHERE ${pred.sql}
           |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT $k""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 300 random dirty unicode strings match DuckDB nfc cleanup") {
    // grammar 14: the qd38 cleanup (strip C0/DEL controls, then NFC) over
    // adversarial strings — combining marks adjacent to controls (the case
    // that forced strip-before-normalize), ligatures, fullwidth forms, CJK,
    // marks with no base character, bare controls. DuckDB's nfc_normalize is
    // an independent Unicode implementation, not a mirror of the JDK's.
    val r = new scala.util.Random(20260813)
    val pool = Seq("a", "b", "Z", "1", " ", "\t", "\n", "\r",
      "\u0301", "\u0308", "\u00e9", "e", "\u00c5", "A", "\u030a",
      "\u0007", "\u000b", "\u001f", "\u007f",
      "\ufb01", "\uff21", "\u4e16\u754c")
    val rows = (1 to 300).map { i =>
      (i.toLong, (1 to (1 + r.nextInt(16))).map(_ => pool(r.nextInt(pool.size))).mkString)
    }
    val st = duck.createStatement()
    st.execute("CREATE TABLE graft_dirty(id BIGINT, s VARCHAR)")
    st.close()
    val ps = duck.prepareStatement("INSERT INTO graft_dirty VALUES (?, ?)")
    rows.foreach { case (id, s) => ps.setLong(1, id); ps.setString(2, s); ps.addBatch() }
    ps.executeBatch(); ps.close()
    val df = spark.createDataFrame(rows).toDF("id", "s")
      .select(col("id"), graft.functions.TextFunctions.cleanText(col("s")).as("c"))
    assertSame(df,
      """SELECT id, nfc_normalize(regexp_replace(s,
        |  '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS c
        |FROM graft_dirty""".stripMargin)
  }

  test("fuzz: 40 random quantile plans (5 interpolation modes) match DuckDB") {
    // grammar 18: Quantiles.quantile across all five interpolation modes at
    // adversarial q values — 0 and 1 (index clamp edges), q where h = q(n−1)
    // lands exactly on an integer (interpolation degenerates), nearest's
    // half-up rounding, plus random q — over random filters so group sizes
    // vary. The SQL is the same position arithmetic (mirror, not an
    // independent quantile impl: DuckDB's quantile_cont may differ in the
    // last ulp of its interpolation formula; the mirror pins OUR arithmetic
    // exactly, q37-style, across the q/mode space q37's single point can't).
    import graft.functions.Quantiles
    import graft.functions.Quantiles._
    val modes: Seq[(Interpolation, String)] = Seq(
      (Lower, "lower"), (Higher, "higher"), (Nearest, "nearest"),
      (Midpoint, "midpoint"), (Linear, "linear"))
    val qPool = Seq(0.0, 1.0, 0.5, 0.25, 0.75, 0.001, 0.999, 1.0 / 3.0, 0.35)
    for (seed <- 1200 until 1240) {
      val r = new scala.util.Random(seed)
      val q = if (r.nextBoolean()) qPool(r.nextInt(qPool.size)) else r.nextDouble()
      val (mode, modeName) = modes(r.nextInt(modes.size))
      val pred = genPred(r, 1)
      val df = li.filter(pred.spark).groupBy(col("l_returnflag"))
        .agg(Quantiles.quantile(col("l_quantity"), q, mode).as("qv"))
      val h = s"(CAST($q AS DOUBLE) * (len(xs) - 1))"
      val lo = s"xs[CAST(floor($h) AS INT) + 1]"
      val hi = s"xs[CAST(ceil($h) AS INT) + 1]"
      val expr = modeName match {
        case "lower" => lo
        case "higher" => hi
        case "nearest" => s"xs[CAST(floor($h + 0.5) AS INT) + 1]"
        case "midpoint" => s"($lo + $hi) / 2.0"
        case "linear" => s"$lo + ($h - floor($h)) * ($hi - $lo)"
      }
      val sql =
        s"""WITH s AS (
           |  SELECT l_returnflag, list_sort(list(CAST(l_quantity AS DOUBLE))) AS xs
           |  FROM lineitem WHERE ${pred.sql} GROUP BY 1
           |)
           |SELECT l_returnflag, $expr AS qv FROM s""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 300 random adversarial URLs — canonicalization matches DuckDB") {
    // grammar 16: UrlFunctions over adversarial component combinations —
    // missing/uppercase schemes, WWW./nested-www hosts, explicit ports
    // (default and not), IPv4/IPv6/single-label hosts, empty and trailing-
    // slash paths, tracking params mixed with bare/empty/duplicate params,
    // query-less '?', fragments containing '?'. Both engines run the same
    // RE2-portable regex chain (the qd12 oracle's), so this pins the
    // Java-regex-vs-RE2 and split/sort/array-semantics agreement across the
    // whole input space the canonicalizer claims, where qd12 exercises one
    // fixed URL shape.
    val r = new scala.util.Random(1016)
    val schemes = Seq("https://", "http://", "HTTP://", "FtP://", "")
    val hosts = Seq("www.Example.COM", "WWW.example.com", "example.com",
      "sub.www.example.co.uk", "EXAMPLE.com:8080", "example.com:443",
      "10.0.0.1:80", "localhost", "www.localhost", "[::1]:8080",
      "a.b.c.d.example.org", "www.x")
    val paths = Seq("", "/", "/Path/", "/a/b", "/a//b/", "/trailing/",
      "/%7Euser", "/a.b/c..", "/UPPER/Case", "//lead")
    val queries = Seq("", "?", "?a=1", "?b=2&a=1", "?utm_source=x&a=1",
      "?fbclid=z", "?gclid=1&utm_x=2", "?a=1&&b=2", "?a", "?a=1&a=0",
      "?=v", "?x=%20y", "?utm_=1&z=9", "?A=1&a=2")
    val frags = Seq("", "#frag", "#a?b=1", "#")
    val rows = (1 to 300).map { i =>
      (i.toLong, schemes(r.nextInt(schemes.size)) + hosts(r.nextInt(hosts.size)) +
        paths(r.nextInt(paths.size)) + queries(r.nextInt(queries.size)) +
        frags(r.nextInt(frags.size)))
    }
    val st = duck.createStatement()
    st.execute("CREATE TABLE graft_urls(id BIGINT, url VARCHAR)")
    st.close()
    val ps = duck.prepareStatement("INSERT INTO graft_urls VALUES (?, ?)")
    rows.foreach { case (id, s) => ps.setLong(1, id); ps.setString(2, s); ps.addBatch() }
    ps.executeBatch(); ps.close()
    val U = graft.functions.UrlFunctions
    val df = spark.createDataFrame(rows).toDF("id", "url")
      .select(col("id"), U.scheme(col("url")).as("sch"),
        U.host(col("url")).as("host"), U.domain(col("url")).as("domain"),
        U.normalize(col("url")).as("norm"))
    assertSame(df,
      """WITH n AS (
        |  SELECT id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
        |    regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS rest
        |  FROM graft_urls
        |),
        |parts AS (
        |  SELECT id, sch,
        |    regexp_replace(regexp_replace(lower(regexp_extract(rest, '^([^/?]+)', 1)),
        |      ':[0-9]+$', ''), '^www\.', '') AS host,
        |    regexp_extract(regexp_replace(rest, '^[^/?]+', ''), '^([^?]*)', 1) AS rawpath,
        |    regexp_extract(rest, '\?(.*)$', 1) AS q
        |  FROM n
        |)
        |SELECT id, sch, host,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
        |  (CASE WHEN sch = '' THEN '' ELSE sch || '://' END) || host ||
        |  (CASE WHEN regexp_replace(rawpath, '/$', '') = '' THEN '/'
        |        ELSE regexp_replace(rawpath, '/$', '') END) ||
        |  (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END) AS norm
        |FROM (SELECT *, list_sort(list_filter(string_split(q, '&'),
        |        p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)=') AND p <> '')) AS kept
        |      FROM parts)""".stripMargin)
  }

  test("fuzz: 300 random PII-bait strings — redaction + match counts match DuckDB") {
    // grammar 17: redactPii's fixed-order regex chain + matchCount over
    // adversarial fragments — near-miss emails (@nope, x@y, trailing-dot
    // TLD), out-of-range and over-long dotted quads (the \b boundary
    // cases), phone prefixes at both length limits, PII butted against
    // punctuation/unicode, and overlapping bait (email whose digits a phone
    // rule could half-eat — the reason the order is fixed). Pins Java-vs-RE2
    // agreement on \b semantics and replacement order across the claimed
    // input space, where qd13 runs one formula shape.
    val r = new scala.util.Random(1017)
    val pool = Seq(
      "user@example.com", "a.b-c+tag@x.co", "MiXeD@SuB.DoMaIn.ORG", "@nope",
      "x@y", "no@tld.", "a@b.c", "double@@at.com", "dot.@d.ee",
      "1.2.3.4", "999.999.1.1", "10.0.0.256", "1.2.3.4.5", "127.0.0.1",
      "1.2.3", "001.002.003.004", "v1.2.3.4x",
      "+15551234567", "+1234567", "+123456", "+123456789012345",
      "+1234567890123456", "tel:+123456789", "x+1234567",
      // " 世界 " stays space-padded: a dotted quad ABUTTING a non-ASCII
      // word char is the documented Java-vs-RE2 \b divergence (Unicode vs
      // ASCII word boundary — see Ipv4Re's scaladoc); the Spark-side
      // behavior for that shape is pinned by the dedicated test below.
      "call me", " 世界 ", "más", "(", ")", ".", ",", " ", "  ", "\t",
      "a", "b-", "_c", "%", "7")
    val rows = (1 to 300).map { i =>
      (i.toLong, (1 to (1 + r.nextInt(10))).map(_ => pool(r.nextInt(pool.size)))
        .mkString(r.nextInt(3) match { case 0 => " "; case 1 => ""; case _ => "," }))
    }
    val st = duck.createStatement()
    st.execute("CREATE TABLE graft_pii(id BIGINT, s VARCHAR)")
    st.close()
    val ps = duck.prepareStatement("INSERT INTO graft_pii VALUES (?, ?)")
    rows.foreach { case (id, s) => ps.setLong(1, id); ps.setString(2, s); ps.addBatch() }
    ps.executeBatch(); ps.close()
    val T = graft.functions.TextFunctions
    val df = spark.createDataFrame(rows).toDF("id", "s")
      .select(col("id"), T.redactPii(col("s")).as("red"),
        T.matchCount(col("s"), T.EmailRe).cast("long").as("ne"),
        T.matchCount(col("s"), T.Ipv4Re).cast("long").as("ni"),
        T.matchCount(col("s"), T.PhoneRe).cast("long").as("np"))
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    val phone = "\\+[0-9]{7,15}"
    assertSame(df,
      s"""SELECT id,
         |  regexp_replace(regexp_replace(regexp_replace(s,
         |    '$email', '<EMAIL>', 'g'),
         |    '$ip', '<IP>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS red,
         |  CAST(len(regexp_extract_all(s, '$email')) AS BIGINT) AS ne,
         |  CAST(len(regexp_extract_all(s, '$ip')) AS BIGINT) AS ni,
         |  CAST(len(regexp_extract_all(s, '$phone')) AS BIGINT) AS np
         |FROM graft_pii""".stripMargin)
  }

  test("Ipv4Re \\b: Unicode-adjacent quad pins JAVA semantics (the documented RE2 divergence)") {
    // "1.2.3.4世" — Java's Unicode-aware \b sees 4→世 as word→word (no
    // boundary, no match); RE2 would match. The library runs on Spark, so
    // Java's behavior is the contract; this assertion fails if the pattern
    // (or Spark's regex engine) ever changes it silently.
    val T = graft.functions.TextFunctions
    import spark.implicits._
    val got = Seq((1L, "ip 1.2.3.4世 and 5.6.7.8 done")).toDF("id", "s")
      .select(T.matchCount(col("s"), T.Ipv4Re).as("n"),
        T.redactPii(col("s")).as("red"))
      .head()
    assert(got.getInt(0) == 1, got.toString)
    assert(got.getString(1) == "ip 1.2.3.4世 and <IP> done", got.toString)
  }

  test("fuzz: 300 random HTML-ish strings — extraction + sentences match DuckDB") {
    // grammar 15: htmlToText and sentence segmentation over adversarial
    // markup — unclosed tags and comments, attributes containing '>',
    // entity bait (incl. double-encoded &amp;lt;), script/style with inner
    // markup, case-shuffled tag names, block/inline mixes, VT/FF/CRLF
    // whitespace, unicode text. Both engines run the SAME RE2-portable
    // chain, so this pins the Java-vs-RE2 agreement across the whole input
    // space the extractor claims (exotic case-fold pairs inside tag names
    // are the documented out-of-scope edge).
    val r = new scala.util.Random(15)
    val pool = Seq(
      "<p>", "</p>", "<P >", "<div class='x'>", "</div>", "<br/>", "<BR>",
      "<span>", "</span>", "<b>", "</b>", "<h2>", "</h2>", "<li>", "</li>",
      "<script>", "</script>", "<SCRIPT type=\"t\">", "</STYLE>", "<style>",
      "<!--", "-->", "<!-- c -->", "<a href=\"u?q=1&x=2\">", "</a>",
      "<a title=\"x>y\">", "<", ">", "words here", "end.", "más", "世界",
      "Tom &amp; Jerry", "&lt;tag&gt;", "&amp;lt;", "&nbsp;", "&#39;", "&bogus;",
      "what?!", "ok...", "e.g.", " ", "  ", "\t", "\r\n", "\n", "", "\f")
    val rows = (1 to 300).map { i =>
      (i.toLong, (1 to (1 + r.nextInt(12))).map(_ => pool(r.nextInt(pool.size))).mkString(" "))
    }
    val st = duck.createStatement()
    st.execute("CREATE TABLE graft_html(id BIGINT, s VARCHAR)")
    st.close()
    val ps = duck.prepareStatement("INSERT INTO graft_html VALUES (?, ?)")
    rows.foreach { case (id, s) => ps.setLong(1, id); ps.setString(2, s); ps.addBatch() }
    ps.executeBatch(); ps.close()
    val T = graft.functions.TextFunctions
    val df = spark.createDataFrame(rows).toDF("id", "s")
      .select(col("id"), T.htmlToText(col("s")).as("t"),
        array_join(T.sentences(col("s")), "").as("sj"))
    assertSame(df,
      """SELECT id,
        |  trim(
        |    regexp_replace(
        |      regexp_replace(
        |        replace(replace(replace(replace(replace(replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(s, '(?is)<(script|style)[^>]*>.*?</(script|style)[ \t\n\r\f]*>', ' ', 'g'),
        |                '(?s)<!--.*?-->', ' ', 'g'),
        |              '(?i)</?(br|pre|p|div|h[1-6]|li|tr|table|ul|ol|blockquote|section|article|header|footer)\b[^>]*>', chr(10), 'g'),
        |            '<[^>]*>', ' ', 'g'),
        |          '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |        '[ \t\r\f]+', ' ', 'g'),
        |      ' ?\n[\n ]*', chr(10), 'g'),
        |    ' ' || chr(10)) AS t,
        |  CASE WHEN len(list_filter(list_transform(
        |      string_split(regexp_replace(s, '([.!?]+) +', '\1' || chr(1), 'g'), chr(1)),
        |      x -> trim(x)), x -> x <> '')) = 0 THEN ''
        |    ELSE list_aggregate(list_filter(list_transform(
        |      string_split(regexp_replace(s, '([.!?]+) +', '\1' || chr(1), 'g'), chr(1)),
        |      x -> trim(x)), x -> x <> ''), 'string_agg', chr(31)) END AS sj
        |FROM graft_html""".stripMargin)
  }

  test("fuzz: 40 random strftime formats match DuckDB (incl. ISO week fields)") {
    // grammar 19: dt.to_string across random chrono format strings vs
    // DuckDB's strftime — an independent C-style strftime, not a mirror.
    // This is the grammar that catches the Java-pattern trap: Spark BANS
    // week-based pattern letters (ww/YYYY/e), so %V/%G/%g/%u/%w compile to
    // Spark expressions (weekofyear, Thursday-of-week year shift); the fuzz
    // proves those expressions agree with DuckDB's ISO 8601 fields across
    // the data, and that literal runs/quoting survive both engines.
    import graft.api.syntax._
    val st0 = duck.createStatement()
    try st0.execute(s"CREATE VIEW IF NOT EXISTS events AS SELECT * FROM '$sfDir/events.parquet'")
    finally st0.close()
    // specifiers DuckDB also supports, identical semantics both sides
    val specs = Seq("%Y", "%y", "%m", "%d", "%H", "%I", "%M", "%S", "%p",
      "%a", "%A", "%b", "%B", "%j", "%f", "%V", "%G", "%u", "%w", "%%")
    val lits = Seq("-", ":", "/", " ", ".", ",", "T", "W", "wk")
    val ev = sf("events")
    for (seed <- 1900 until 1940) {
      val r = new scala.util.Random(seed)
      val n = 3 + r.nextInt(6)
      val fmt = (1 to n).map { _ =>
        val s = specs(r.nextInt(specs.size))
        if (r.nextInt(3) == 0) s + lits(r.nextInt(lits.size)) else s
      }.mkString
      val df = ev.select(col("event_id"), col("ts").dt.toString(fmt).as("s"))
      // DuckDB strftime: bare letters are literals, same as our quoting
      assertSame(df, s"SELECT event_id, strftime(ts, '$fmt') AS s FROM events")
    }
    // pinned ISO-week edges on exact boundary dates (Fri Jan 1 in W53 of the
    // PRIOR iso-year; Mon Dec 28 still W53 of its own; Sun Jan 3 closing W53)
    // (%g is chrono's 2-digit ISO week-year but DuckDB's MILLISECOND
    // field — same spelling, different meaning; ours is pinned in ExprSpec)
    val edges = Seq("2021-01-01 00:00:00", "2026-12-28 13:05:07", "2021-01-03 23:59:59")
    val edf = spark.createDataFrame(edges.map(Tuple1(_))).toDF("raw")
      .select(col("raw"), col("raw").cast("timestamp_ntz").dt.toString("%G-%V-%u|%w").as("s"))
    val esql = edges.map(e => s"SELECT '$e' AS raw, strftime(TIMESTAMP '$e', '%G-%V-%u|%w') AS s")
      .mkString(" UNION ALL ")
    assertSame(edf, esql)
  }

  test("fuzz: 40 random directional-fill plans (limit, keyed + global) match DuckDB") {
    // grammar 20: forward/backward fill with optional row-limit, keyed and
    // global, vs a DuckDB formulation built from IGNORE-NULLS window
    // primitives (last_value + last-non-null-position distance guard) — the
    // window engine and null-skipping are DuckDB's own. Nulls are punched
    // deterministically by modular arithmetic so both engines see the same
    // holes. The global branch exercises fillGlobal's range-partition +
    // broadcast boundary-carry path (the 100 TB shape), whose cross-
    // partition carries must agree with DuckDB's single whole-frame window.
    import graft.operators.Fill
    val st0 = duck.createStatement()
    try st0.execute(s"CREATE VIEW IF NOT EXISTS orders AS SELECT * FROM '$sfDir/orders.parquet'")
    finally st0.close()
    for (seed <- 2000 until 2040) {
      val r = new scala.util.Random(seed)
      val m = Seq(3, 5, 7)(r.nextInt(3))
      val rsel = r.nextInt(m)
      val forward = r.nextBoolean()
      val keyed = r.nextBoolean()
      val limit = Seq(None, Some(1), Some(2), Some(3))(r.nextInt(4))
      val holed = sf("orders").select(col("o_orderkey"), col("o_custkey"),
        when(pmod(col("o_orderkey"), lit(m)) === lit(rsel), lit(null))
          .otherwise(col("o_totalprice")).as("v"))
      val df =
        if (keyed) holed.select(col("o_orderkey"),
          (if (forward) Fill.forwardFill(col("v"), Seq(col("o_orderkey")), Seq(col("o_custkey")), limit)
           else Fill.backwardFill(col("v"), Seq(col("o_orderkey")), Seq(col("o_custkey")), limit)).as("f"))
        else Fill.fillGlobal(holed, Seq("v"), Seq(col("o_orderkey")), forward, limit)
          .select(col("o_orderkey"), col("v").as("f"))
      val part = if (keyed) "PARTITION BY o_custkey " else ""
      val ord = if (forward) "o_orderkey" else "o_orderkey DESC"
      val fexpr = limit match {
        case None => "fv"
        case Some(l) => s"CASE WHEN v IS NOT NULL THEN v WHEN rn - lp <= $l THEN fv END"
      }
      val sql =
        s"""WITH b AS (
           |  SELECT o_orderkey, o_custkey,
           |         CASE WHEN o_orderkey % $m = $rsel THEN NULL ELSE o_totalprice END AS v
           |  FROM orders
           |), w1 AS (
           |  SELECT o_orderkey, o_custkey, v,
           |    row_number() OVER (${part}ORDER BY $ord) AS rn
           |  FROM b
           |), w AS (
           |  SELECT o_orderkey, v, rn,
           |    last_value(v IGNORE NULLS) OVER (${part}ORDER BY rn
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv,
           |    max(CASE WHEN v IS NOT NULL THEN rn END) OVER (${part}ORDER BY rn
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp
           |  FROM w1
           |)
           |SELECT o_orderkey, $fexpr AS f FROM w""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 40 random pivot plans match DuckDB conditional aggregation") {
    // grammar 21: pivotOn across agg kinds × discovered-vs-explicit column
    // values (including an absent value → all-null column) vs DuckDB
    // conditional aggregation — an independent formulation (CASE-filtered
    // aggregates, no pivot operator). Sums ride DECIMAL for exactness.
    import graft.api.frame._
    val pivots = Map(
      "l_linestatus" -> Seq("F", "O"),
      "l_returnflag" -> Seq("A", "N", "R"))
    for (seed <- 2100 until 2140) {
      val r = new scala.util.Random(seed)
      val pred = genPred(r, 1)
      val pcol = pivots.keys.toSeq(r.nextInt(2))
      val idx = (pivots.keys.toSet - pcol).toSeq.sorted
      val vcol = numCols(r.nextInt(numCols.length))
      val agg = Seq("sum", "min", "max", "count", "len")(r.nextInt(5))
      // explicit columnValues half the time, sometimes with an absent value
      val explicit = r.nextBoolean()
      val vals =
        if (!explicit) pivots(pcol)
        else if (r.nextBoolean()) pivots(pcol) :+ "X" else pivots(pcol)
      val base = li.filter(pred.spark)
        .withColumn("__v", col(vcol).cast("decimal(18,4)"))
      val df = base.pivotOn(idx, pcol, "__v", agg,
        if (explicit) vals.map(x => x: Any) else Nil)
      def cell(v: String): String = {
        val in = s"CASE WHEN $pcol = '$v' THEN CAST($vcol AS DECIMAL(18,4)) END"
        agg match {
          case "sum" => s"sum($in)"
          case "min" => s"min($in)"
          case "max" => s"max($in)"
          // Spark's pivot spreads a per-(group, value) aggregate, so an
          // ABSENT combination is NULL even under count — NULLIF matches
          // (a present combination always counts ≥ 1 here: vcol never null)
          case "count" => s"NULLIF(count($in), 0)"
          case "len" => s"NULLIF(count(CASE WHEN $pcol = '$v' THEN 1 END), 0)"
        }
      }
      // Spark discovers pivot values present UNDER THE FILTER, sorted;
      // mirror by asking DuckDB for the same distinct set
      val outVals =
        if (explicit) vals
        else duckRows(
          s"SELECT DISTINCT $pcol FROM lineitem WHERE ${pred.sql} ORDER BY 1").map(_.head)
      if (outVals.nonEmpty) {
        val sql =
          s"""SELECT ${idx.mkString(", ")},
             |  ${outVals.map(v => s"${cell(v)} AS \"$v\"").mkString(", ")}
             |FROM lineitem WHERE ${pred.sql}
             |GROUP BY ${idx.mkString(", ")}""".stripMargin
        assertSame(df, sql)
      }
    }
  }

  test("fuzz: 40 random multi-sort + top-k plans (null ordering) match DuckDB") {
    // grammar 22: sortBy's per-key descending flags with Polars'
    // nulls-always-last default, and topK, vs DuckDB ORDER BY ... NULLS
    // FIRST/LAST LIMIT. Nulls are punched into the first sort key by
    // modular arithmetic; a unique key tail makes every ordering total, so
    // LIMIT prefixes are comparable exactly.
    import graft.api.frame._
    for (seed <- 2200 until 2240) {
      val r = new scala.util.Random(seed)
      val m = Seq(3, 5, 7)(r.nextInt(3))
      val rsel = r.nextInt(m)
      val desc1 = r.nextBoolean()
      val desc2 = r.nextBoolean()
      val k = 1 + r.nextInt(200)
      val pred = genPred(r, 1)
      val holed = li.filter(pred.spark).select(
        col("l_orderkey"), col("l_linenumber"),
        when(pmod(col("l_partkey"), lit(m)) === lit(rsel), lit(null))
          .otherwise(col("l_partkey")).as("sk"))
      val df = holed
        .sortBy(Seq(("sk", desc1), ("l_orderkey", desc2), ("l_linenumber", false)))
        .limit(k)
      def d(b: Boolean) = if (b) "DESC" else "ASC"
      val sql =
        s"""SELECT l_orderkey, l_linenumber,
           |  CASE WHEN l_partkey % $m = $rsel THEN NULL ELSE l_partkey END AS sk
           |FROM lineitem WHERE ${pred.sql}
           |ORDER BY sk ${d(desc1)} NULLS LAST, l_orderkey ${d(desc2)}, l_linenumber
           |LIMIT $k""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 30 random strptime round-trips match DuckDB (incl. %y century rule)") {
    // grammar 23: the PARSE direction — DuckDB renders events.ts to strings
    // with a random info-complete format, then BOTH engines parse those same
    // strings back with the same chrono format (our toDatetime via the Java
    // translator + century fix, DuckDB via its own strptime). Exercises
    // month-name/AM-PM/day-of-year resolution and the chrono %y rule
    // (69-99 → 19xx) that Java's 2000-2099 reduced-value window gets wrong.
    import graft.api.syntax._
    val st0 = duck.createStatement()
    try st0.execute(s"CREATE VIEW IF NOT EXISTS events AS SELECT * FROM '$sfDir/events.parquet'")
    finally st0.close()
    val dateFmts = Seq("%Y-%m-%d", "%d/%m/%Y", "%m.%d.%Y", "%Y%m%d",
      "%y-%m-%d", "%d %b %Y", "%B %d, %Y")
    val timeFmts = Seq("", " %H:%M", " %H:%M:%S", " %I:%M:%S %p", "T%H:%M:%S.%f")
    for (seed <- 2300 until 2330) {
      val r = new scala.util.Random(seed)
      val fmt = dateFmts(r.nextInt(dateFmts.size)) + timeFmts(r.nextInt(timeFmts.size))
      val rows = duckRows(
        s"SELECT event_id, strftime(ts, '$fmt') AS s FROM events")
        .map(x => (x(0).toLong, x(1)))
      val df = spark.createDataFrame(rows).toDF("event_id", "s")
        .select(col("event_id"), col("s").str.toDatetime(fmt).cast("string").as("t"))
      val st = duck.createStatement()
      try {
        st.execute("CREATE OR REPLACE TABLE g23(event_id BIGINT, s VARCHAR)")
        val ps = duck.prepareStatement("INSERT INTO g23 VALUES (?, ?)")
        rows.foreach { case (id, s) => ps.setLong(1, id); ps.setString(2, s); ps.addBatch() }
        ps.executeBatch(); ps.close()
      } finally st.close()
      assertSame(df,
        s"SELECT event_id, CAST(strptime(s, '$fmt') AS VARCHAR) AS t FROM g23")
    }
    // pinned: the %y century boundary, both sides of the C rule
    val pin = Seq("68-03-04", "69-03-04", "99-12-31", "00-01-01")
    val pdf = spark.createDataFrame(pin.map(Tuple1(_))).toDF("s")
      .select(col("s"), col("s").str.toDatetime("%y-%m-%d").cast("string").as("t"))
    val psql = pin.map(s =>
      s"SELECT '$s' AS s, CAST(strptime('$s', '%y-%m-%d') AS VARCHAR) AS t").mkString(" UNION ALL ")
    assertSame(pdf, psql)
  }

  test("fuzz: 40 random str-namespace compositions match DuckDB") {
    // grammar 24: random 4-op samples from the str namespace over part
    // names/types — case, byte-vs-char length, positive slices, literal and
    // regex contains/replace/extract, char-class trims, prefix strip — plus
    // a direction-random trim every plan. DuckDB's string and regex engines
    // are independent; regex patterns stay inside the RE2∩Java common
    // subset (the same discipline the PII/URL grammars pin).
    import graft.api.syntax._
    val st0 = duck.createStatement()
    try st0.execute(s"CREATE VIEW IF NOT EXISTS part AS SELECT * FROM '$sfDir/part.parquet'")
    finally st0.close()
    val pt = sf("part")
    for (seed <- 2400 until 2440) {
      val r = new scala.util.Random(seed)
      val lits = Seq("lav", "spring", "co", "ol", "e", "anti")
      val trims = Seq("aeiou", "aeiou ", "abcdef", " ")
      def op(i: Int): (Column, String) = i match {
        case 0 => (col("p_name").str.toUppercase, "upper(p_name)")
        case 1 => (col("p_type").str.toLowercase, "lower(p_type)")
        case 2 => (col("p_name").str.lenBytes, "strlen(p_name)")
        case 3 => (col("p_name").str.lenChars, "length(p_name)")
        case 4 =>
          val o = r.nextInt(12); val l = 1 + r.nextInt(8)
          (col("p_name").str.slice(o, l), s"substr(p_name, ${o + 1}, $l)")
        case 5 =>
          val s = lits(r.nextInt(lits.size))
          (col("p_name").str.containsLiteral(s), s"contains(p_name, '$s')")
        case 6 =>
          val p = Seq("[aeiou]{2}", "[a-z]+ [a-z]+", "o.e", "^s", "d$")(r.nextInt(5))
          (col("p_name").str.contains(p), s"regexp_matches(p_name, '$p')")
        case 7 =>
          val g = 1 + r.nextInt(2)
          (col("p_name").str.extract("([a-z]+) ([a-z]+)", g),
            s"NULLIF(regexp_extract(p_name, '([a-z]+) ([a-z]+)', $g), '')")
        case 8 => (col("p_name").str.replaceAll("[aeiou]", "_"),
          "regexp_replace(p_name, '[aeiou]', '_', 'g')")
        case 9 =>
          val s = lits(r.nextInt(lits.size))
          (col("p_name").str.replaceAll(s, "*", useRegex = false),
            s"replace(p_name, '$s', '*')")
        case _ =>
          val t = trims(r.nextInt(trims.size))
          (col("p_name").str.stripChars(t), s"trim(p_name, '$t')")
      }
      val pairs = r.shuffle((0 to 10).toList).take(4).map(op)
      val dirTrim = {
        val t = trims(r.nextInt(trims.size))
        if (r.nextBoolean())
          (col("p_name").str.stripCharsStart(t), s"ltrim(p_name, '$t')")
        else (col("p_name").str.stripCharsEnd(t), s"rtrim(p_name, '$t')")
      }
      val strip = {
        val p = Seq("gol", "bla", "x", "")(r.nextInt(4))
        (col("p_name").str.stripPrefix(p),
          s"CASE WHEN starts_with(p_name, '$p') THEN substr(p_name, ${p.length + 1}) ELSE p_name END")
      }
      val all = pairs ++ Seq(dirTrim, strip)
      val df = pt.select(col("p_partkey") +:
        all.zipWithIndex.map { case ((c0, _), i) => c0.as(s"c$i") }: _*)
      val sql =
        s"""SELECT p_partkey, ${all.zipWithIndex.map { case ((_, s), i) => s"$s AS c$i" }.mkString(", ")}
           |FROM part""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 40 random list-namespace compositions match DuckDB") {
    // grammar 25: the list namespace over word-lists (literal split of
    // p_name) and real float arrays (embeddings) — 0-based/negative/OOB
    // get, sort asc/desc + join, distinct (order-free: both sides sorted),
    // reverse, contains, first, len, and min/max/head-mean over float
    // vectors (forced through DOUBLE so both engines print the same value).
    import graft.api.syntax._
    val st0 = duck.createStatement()
    try {
      st0.execute(s"CREATE VIEW IF NOT EXISTS part AS SELECT * FROM '$sfDir/part.parquet'")
      st0.execute(s"CREATE VIEW IF NOT EXISTS embeddings AS SELECT * FROM '$sfDir/embeddings.parquet'")
    } finally st0.close()
    val words = col("p_name").str.split(" ")
    for (seed <- 2500 until 2540) {
      val r = new scala.util.Random(seed)
      if (r.nextBoolean()) {
        val idx = r.nextInt(9) - 4 // -4..4 incl. OOB both ends
        val w = Seq("spring", "lace", "misty", "zzz")(r.nextInt(4))
        val descSort = r.nextBoolean()
        val sortDir = if (descSort) "DESC" else "ASC"
        val df = sf("part").select(col("p_partkey"),
          words.list.get(idx).as("g"),
          words.list.len.as("n"),
          words.list.sort(descending = descSort).list.join("-").as("sj"),
          sort_array(words.list.unique).list.join("|").as("uq"),
          words.list.reverse.list.join("_").as("rev"),
          words.list.contains(lit(w)).as("has"),
          words.list.first.as("fst"))
        val duckIdx = if (idx >= 0) idx + 1 else idx
        val sql =
          s"""SELECT p_partkey,
             |  string_split(p_name, ' ')[$duckIdx] AS g,
             |  len(string_split(p_name, ' ')) AS n,
             |  list_aggregate(list_sort(string_split(p_name, ' '), '$sortDir'), 'string_agg', '-') AS sj,
             |  list_aggregate(list_sort(list_distinct(string_split(p_name, ' ')), 'ASC'), 'string_agg', '|') AS uq,
             |  list_aggregate(list_reverse(string_split(p_name, ' ')), 'string_agg', '_') AS rev,
             |  list_contains(string_split(p_name, ' '), '$w') AS has,
             |  string_split(p_name, ' ')[1] AS fst
             |FROM part""".stripMargin
        assertSame(df, sql)
      } else {
        val k = 2 + r.nextInt(4)
        val emb = col("embedding")
        val headMean = new ListNamespace(transform(slice(emb, 1, k), x => x.cast("double"))).mean
        val df = sf("embeddings").select(col("vec_id"),
          emb.list.min.cast("double").as("mn"),
          emb.list.max.cast("double").as("mx"),
          emb.list.len.as("n"),
          headMean.as("hm"))
        val sql =
          s"""SELECT vec_id,
             |  CAST(list_min(embedding) AS DOUBLE) AS mn,
             |  CAST(list_max(embedding) AS DOUBLE) AS mx,
             |  len(embedding) AS n,
             |  list_sum(list_transform(embedding[1:$k], x -> CAST(x AS DOUBLE))) / $k AS hm
             |FROM embeddings""".stripMargin
        assertSame(df, sql)
      }
    }
  }

  test("fuzz: 40 random dt truncate/offset_by plans match DuckDB date arithmetic") {
    // grammar 26: dt.truncate across calendar (mo/q/y, incl. multi-month)
    // and fixed-width durations vs DuckDB's date_trunc/time_bucket, and
    // dt.offset_by (calendar month arithmetic with end-of-month clamping,
    // compound month+fixed, negatives) vs DuckDB interval addition — all
    // independent implementations. Multi-unit buckets are chosen so both
    // engines' anchor epochs (1970-01-01 vs 2000-01-01) are phase-aligned:
    // sub-day buckets dividing 86400 s, month counts dividing 360.
    import graft.api.syntax._
    val st0 = duck.createStatement()
    try st0.execute(s"CREATE VIEW IF NOT EXISTS events AS SELECT * FROM '$sfDir/events.parquet'")
    finally st0.close()
    val ev = sf("events")
    val truncCal = Seq("1mo" -> "CAST(date_trunc('month', ts) AS TIMESTAMP)",
      "1q" -> "CAST(date_trunc('quarter', ts) AS TIMESTAMP)",
      "1y" -> "CAST(date_trunc('year', ts) AS TIMESTAMP)",
      "2mo" -> "time_bucket(INTERVAL '2 months', ts)",
      "3mo" -> "time_bucket(INTERVAL '3 months', ts)",
      "6mo" -> "time_bucket(INTERVAL '6 months', ts)")
    val truncFix = Seq("1d" -> "CAST(date_trunc('day', ts) AS TIMESTAMP)", "1h" -> "date_trunc('hour', ts)",
      "1m" -> "date_trunc('minute', ts)", "1s" -> "date_trunc('second', ts)",
      "30m" -> "time_bucket(INTERVAL '30 minutes', ts)",
      "90m" -> "time_bucket(INTERVAL '90 minutes', ts)",
      "2h" -> "time_bucket(INTERVAL '2 hours', ts)",
      "12h" -> "time_bucket(INTERVAL '12 hours', ts)")
    val offs = Seq(
      "3h" -> "ts + INTERVAL '3 hours'",
      "-45m" -> "ts - INTERVAL '45 minutes'",
      "90s" -> "ts + INTERVAL '90 seconds'",
      "2d12h" -> "ts + INTERVAL '2 days' + INTERVAL '12 hours'",
      "1mo" -> "ts + INTERVAL '1 month'",
      "-2mo" -> "ts - INTERVAL '2 months'",
      "1y" -> "ts + INTERVAL '1 year'",
      "3q" -> "ts + INTERVAL '9 months'",
      "1mo12h" -> "ts + INTERVAL '1 month' + INTERVAL '12 hours'")
    for (seed <- 2600 until 2640) {
      val r = new scala.util.Random(seed)
      val (t1, t1sql) = truncCal(r.nextInt(truncCal.size))
      val (t2, t2sql) = truncFix(r.nextInt(truncFix.size))
      val (o1, o1sql) = offs(r.nextInt(offs.size))
      val df = ev.select(col("event_id"),
        col("ts").dt.truncate(t1).cast("string").as("tc"),
        col("ts").dt.truncate(t2).cast("string").as("tf"),
        col("ts").dt.offsetBy(o1).cast("string").as("off"))
      val sql =
        s"""SELECT event_id,
           |  CAST($t1sql AS VARCHAR) AS tc,
           |  CAST($t2sql AS VARCHAR) AS tf,
           |  CAST($o1sql AS VARCHAR) AS off
           |FROM events""".stripMargin
      assertSame(df, sql)
    }
    // pinned: end-of-month clamping through a leap February, both engines
    val pin = spark.createDataFrame(Seq(Tuple1("2024-01-31 22:15:00"))).toDF("s")
      .select(col("s").cast("timestamp_ntz").dt.offsetBy("1mo").cast("string").as("t"),
        col("s").cast("timestamp_ntz").dt.offsetBy("13mo").cast("string").as("t2"))
    assertSame(pin,
      """SELECT CAST(TIMESTAMP '2024-01-31 22:15:00' + INTERVAL '1 month' AS VARCHAR) AS t,
        |  CAST(TIMESTAMP '2024-01-31 22:15:00' + INTERVAL '13 months' AS VARCHAR) AS t2""".stripMargin)
  }

  test("fuzz: 40 random outer-join plans (full/left/right, null keys, coalescing) match DuckDB") {
    // grammar 31: joinCoalesced's Polars output contract — keys appear once
    // (coalesce(l,r) on full joins), right collisions suffixed — across
    // full/left/right joins with NULL KEYS punched into either side
    // (SQL null keys never match; an engine that hashed nulls together
    // would diverge here). Mirrored as explicit FULL/LEFT/RIGHT OUTER JOIN
    // with COALESCE in DuckDB.
    import graft.api.frame._
    val st0 = duck.createStatement()
    try st0.execute(s"CREATE VIEW IF NOT EXISTS orders AS SELECT * FROM '$sfDir/orders.parquet'")
    finally st0.close()
    for (seed <- 3100 until 3140) {
      val r = new scala.util.Random(seed)
      val how = Seq("full", "left", "right")(r.nextInt(3))
      val mL = Seq(0, 3, 5)(r.nextInt(3))   // 0 = no nulls on that side
      val mR = Seq(0, 4, 7)(r.nextInt(3))
      val pred = genPred(r, 1)
      def nullify(c: Column, m: Int): Column =
        if (m == 0) c else when(pmod(c, lit(m)) === lit(0), lit(null)).otherwise(c)
      val left = li.filter(pred.spark)
        .select(nullify(col("l_orderkey"), mL).as("k"),
          col("l_linenumber"), col("l_quantity").as("v"))
      val right = sf("orders").filter(col("o_orderstatus") =!= lit("P"))
        .select(nullify(col("o_orderkey"), mR).as("k"),
          col("o_totalprice").as("v"))
      val df = left.joinCoalesced(right, Seq("k"), Seq("k"), how)
      def nl(side: String, m: Int, key: String) =
        if (m == 0) key else s"CASE WHEN $key % $m = 0 THEN NULL ELSE $key END"
      val joinKind = how match {
        case "full" => "FULL OUTER JOIN"; case "left" => "LEFT JOIN"; case "right" => "RIGHT JOIN"
      }
      val outKey = if (how == "full") "COALESCE(l.k, r.k)" else "l.k"
      val sql =
        s"""WITH l AS (
           |  SELECT ${nl("l", mL, "l_orderkey")} AS k, l_linenumber, l_quantity AS v
           |  FROM lineitem WHERE ${pred.sql}
           |), r AS (
           |  SELECT ${nl("r", mR, "o_orderkey")} AS k, o_totalprice AS v
           |  FROM orders WHERE o_orderstatus <> 'P'
           |)
           |SELECT $outKey AS k, l.l_linenumber, l.v, r.v AS v_right
           |FROM l $joinKind r ON l.k = r.k""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 40 random explode/unpivot plans match DuckDB unnest/UNPIVOT") {
    // grammar 30: explodeCol / explodeOuter (null row on empty list) and
    // unpivotOn vs DuckDB's unnest (zipped parallel unnest gives positions)
    // and UNPIVOT operator — both independent implementations. Empty lists
    // are punched by modular arithmetic so the outer-vs-inner distinction
    // is live on both engines.
    import graft.api.frame._
    import graft.api.syntax._
    val st0 = duck.createStatement()
    try st0.execute(s"CREATE VIEW IF NOT EXISTS part AS SELECT * FROM '$sfDir/part.parquet'")
    finally st0.close()
    for (seed <- 3000 until 3040) {
      val r = new scala.util.Random(seed)
      if (r.nextBoolean()) {
        // explode: lists from a slice of split words; m-modular rows get an
        // EMPTY list (slice len 0) → explode drops them, explode_outer keeps
        // a null row
        val m = Seq(3, 5)(r.nextInt(2))
        val outer = r.nextBoolean()
        val nTake = 1 + r.nextInt(3)
        val base = sf("part").select(col("p_partkey"),
          when(pmod(col("p_partkey"), lit(m)) === lit(0), array().cast("array<string>"))
            .otherwise(slice(col("p_name").str.split(" "), 1, nTake)).as("ws"))
        val df = (if (outer) base.explodeOuter("ws") else base.explodeCol("ws"))
          .select(col("p_partkey"), col("ws"))
        val listSql = s"CASE WHEN p_partkey % $m = 0 THEN [] ELSE string_split(p_name, ' ')[1:$nTake] END"
        val sql =
          if (outer)
            // LEFT JOIN against the exploded rows keeps empty-list parents as null
            s"""SELECT p.p_partkey, e.ws FROM part p LEFT JOIN
               |  (SELECT p_partkey, unnest($listSql) AS ws FROM part) e
               |  ON p.p_partkey = e.p_partkey""".stripMargin
          else s"SELECT p_partkey, unnest($listSql) AS ws FROM part"
        assertSame(df, sql)
      } else {
        // unpivot random value-column subsets
        val valueCols = r.shuffle(List("p_size", "p_retailprice")).take(1 + r.nextInt(2))
        val df = sf("part")
          .select((col("p_partkey") +: valueCols.map(c => col(c).cast("double").as(c))): _*)
          .unpivotOn(Seq("p_partkey"), valueCols, "k", "v")
        val sql =
          s"""SELECT p_partkey, k, v FROM (
             |  SELECT p_partkey, ${valueCols.map(c => s"CAST($c AS DOUBLE) AS $c").mkString(", ")}
             |  FROM part)
             |UNPIVOT (v FOR k IN (${valueCols.mkString(", ")}))""".stripMargin
        assertSame(df, sql)
      }
    }
  }

  test("fuzz: 40 random diagonal-concat plans match DuckDB UNION ALL BY NAME") {
    // grammar 29: concatDiagonal (align by name, null-fill missing) over
    // random overlapping column subsets and random concat arity vs DuckDB's
    // independent UNION ALL BY NAME. Every frame carries a disjoint key
    // range so the multiset compare is total.
    import graft.api.frame._
    val allCols = Seq("l_partkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")
    for (seed <- 2900 until 2940) {
      val r = new scala.util.Random(seed)
      val nFrames = 2 + r.nextInt(2)
      val picks = (0 until nFrames).map { i =>
        val cols = r.shuffle(allCols).take(1 + r.nextInt(4)).sorted
        val lo = i * 2000
        (cols, lo)
      }
      val frames = picks.map { case (cols, lo) =>
        li.filter(col("l_orderkey").between(lo, lo + 1999))
          .select((col("l_orderkey") +: col("l_linenumber") +: cols.map(col)): _*)
      }
      val df = frames.head.concatDiagonal(frames.tail: _*)
      val sel = picks.map { case (cols, lo) =>
        s"""(SELECT l_orderkey, l_linenumber, ${cols.mkString(", ")} FROM lineitem
           | WHERE l_orderkey BETWEEN $lo AND ${lo + 1999})""".stripMargin
      }
      // project the union to the Spark output's column order (first-seen)
      val outCols = df.columns.mkString(", ")
      val sql = s"SELECT $outCols FROM (${sel.mkString(" UNION ALL BY NAME ")})"
      assertSame(df, sql)
    }
  }

  test("fuzz: 60 random SQL texts execute identically through SqlContext and DuckDB") {
    // grammar 28: the §2.14 SQL surface itself — the SAME ANSI text (from
    // the shared query AST, which already renders portable SQL) is executed
    // by Spark's SQL parser via graft.api.SqlContext AND by DuckDB, so the
    // parser/analyzer path is fuzzed directly rather than through the
    // DataFrame rendering. Filters+projection and grouped-agg shapes.
    val ctx = graft.api.SqlContext(spark).register("lineitem", li)
    try {
      for (seed <- 2800 until 2860) {
        val r = new scala.util.Random(seed)
        val sql =
          if (r.nextBoolean()) {
            val pred = genPred(r, 2); val proj = genNum(r, 2)
            s"SELECT l_orderkey, l_linenumber, ${proj.sql} AS x FROM lineitem WHERE ${pred.sql}"
          } else {
            val pred = genPred(r, 1)
            val keys = Seq("l_returnflag", "l_linestatus").take(1 + r.nextInt(2))
            val aggCol = numCols(r.nextInt(numCols.length))
            s"""SELECT ${keys.mkString(", ")}, count(*) AS n, min($aggCol) AS mn,
               |max($aggCol) AS mx, sum(CAST($aggCol AS DECIMAL(18,4))) AS s
               |FROM lineitem WHERE ${pred.sql} GROUP BY ${keys.mkString(", ")}""".stripMargin
          }
        assertSame(ctx.execute(sql), sql)
      }
    } finally ctx.unregister("lineitem")
  }

  test("fuzz: 40 random ranking/frame window plans match DuckDB") {
    // grammar 27: the ranking family (rank/dense_rank over non-unique
    // orderings, lead, first_value, ntile) plus bounded sliding frames
    // (k PRECEDING .. m FOLLOWING) — the frame shapes grammar 'windows'
    // (running prefix only) doesn't reach. Rank ties are REAL here: the
    // ordering is the low-cardinality measure column itself, so rank vs
    // dense_rank vs row_number genuinely diverge; output determinism comes
    // from the unique key tail on the ntile/lead ordering and from rank
    // values being tie-invariant.
    import org.apache.spark.sql.expressions.Window
    for (seed <- 2700 until 2740) {
      val r = new scala.util.Random(seed)
      val pred = genPred(r, 1)
      val pcol = Seq("l_returnflag", "l_linestatus")(r.nextInt(2))
      val mcol = numCols(r.nextInt(numCols.length))
      val nt = 2 + r.nextInt(5)
      val kPre = r.nextInt(4); val kFol = r.nextInt(4)
      // ties-real window: rank/dense_rank order by the measure alone
      val wTies = Window.partitionBy(col(pcol)).orderBy(col(mcol))
      // total-order window for tie-sensitive functions
      val wTotal = Window.partitionBy(col(pcol))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col(mcol))
      val frame = wTotal.rowsBetween(-kPre, kFol)
      val df = li.filter(pred.spark)
        .select(col("l_orderkey"), col("l_linenumber"),
          rank().over(wTies).as("rk"),
          dense_rank().over(wTies).as("drk"),
          lead(col(mcol), 1).over(wTotal).as("ld"),
          first_value(col(mcol)).over(wTotal).as("fv"),
          ntile(nt).over(wTotal).as("nt"),
          min(col(mcol)).over(frame).as("fmn"),
          sum(col(mcol).cast("decimal(18,4)")).over(frame).as("fsum"),
          count(lit(1)).over(frame).as("fcnt"))
      val sql =
        s"""SELECT l_orderkey, l_linenumber,
           |  rank() OVER (PARTITION BY $pcol ORDER BY $mcol) AS rk,
           |  dense_rank() OVER (PARTITION BY $pcol ORDER BY $mcol) AS drk,
           |  lead($mcol, 1) OVER wt AS ld,
           |  first_value($mcol) OVER (wt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv,
           |  ntile($nt) OVER wt AS nt,
           |  min($mcol) OVER (wt ROWS BETWEEN $kPre PRECEDING AND $kFol FOLLOWING) AS fmn,
           |  sum(CAST($mcol AS DECIMAL(18,4))) OVER
           |    (wt ROWS BETWEEN $kPre PRECEDING AND $kFol FOLLOWING) AS fsum,
           |  count(*) OVER (wt ROWS BETWEEN $kPre PRECEDING AND $kFol FOLLOWING) AS fcnt
           |FROM lineitem WHERE ${pred.sql}
           |WINDOW wt AS (PARTITION BY $pcol ORDER BY l_orderkey, l_linenumber, $mcol)""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 30 random interval-join plans match DuckDB range joins") {
    // grammar 37: StreamOps.intervalJoin's batch path (the analyzer
    // eliminates the watermark nodes, so this is the same call users run on
    // streams — the streaming path is pinned stream==batch in FidelitySpec).
    // Dimensions: left/right event types, right-side density, before/after
    // window widths (incl. zero-width sides), and since r14 the FULL
    // join-type family (inner/left/right/full outer — matching the
    // driver-graded q77/q78/q82/q79 faces). The oracle is an independent
    // BETWEEN range join. Timestamps compare as epoch micros to dodge
    // JDBC tz round-trips; (event_id, rid) makes the inner multiset and
    // outer null rows unambiguous.
    val st0 = duck.createStatement()
    try st0.execute(
      s"CREATE VIEW IF NOT EXISTS events AS SELECT * FROM '$sfDir/events.parquet'")
    finally st0.close()
    val ev = sf("events")
    val types = Seq("click", "error", "purchase", "signup", "view")
    for (seed <- 3700 until 3730) {
      val r = new scala.util.Random(seed)
      val lt = types(r.nextInt(types.length))
      val rt = types(r.nextInt(types.length))
      val thr = r.nextInt(100).toDouble
      val bMin = Seq(0, 5, 30, 120, 720, 1440)(r.nextInt(6))
      val aMin = Seq(0, 5, 30, 120)(r.nextInt(4))
      val jtIdx = r.nextInt(4)
      val sparkJt = Seq("inner", "left_outer", "right_outer", "full_outer")(jtIdx)

      val l = ev.filter(col("event_type") === lt)
        .select(col("event_id"), col("user_id"), col("ts"))
      val rr = ev.filter(col("event_type") === rt && col("value") >= thr)
        .select(col("event_id").as("rid"), col("user_id"),
          col("ts").as("rts"), col("value").as("rv"))
      val df = graft.streaming.StreamOps.intervalJoin(
          l, rr, "ts", "rts", Seq(("user_id", "user_id")),
          before = s"${bMin}m", after = s"${aMin}m",
          joinType = sparkJt)
        .select(col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("tsu"),
          col("rid"), col("rv"))

      val jt = Seq("JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN")(jtIdx)
      val sql =
        s"""SELECT l.event_id, epoch_us(l.ts) AS tsu, r.rid, r.rv
           |FROM (SELECT event_id, user_id, ts FROM events
           |      WHERE event_type = '$lt') l
           |$jt (SELECT event_id AS rid, user_id, ts AS rts, value AS rv
           |      FROM events WHERE event_type = '$rt' AND value >= $thr) r
           |  ON l.user_id = r.user_id
           |  AND r.rts BETWEEN l.ts - INTERVAL $bMin MINUTE
           |              AND l.ts + INTERVAL $aMin MINUTE""".stripMargin
      assertSame(df, sql)
    }
  }

  test("fuzz: 30 random deterministic-sampling plans (stratified exact-k + A-Res weighted) match DuckDB") {
    // grammar 40: the sampling family — Prep.stratifiedSampleKeys (uniform
    // exact-k per stratum via bounded top-k) and Prep.weightedSampleKeys
    // (A-Res reservoir) vs the window-ranked formulations DuckDB runs
    // freely. Dimensions: k, salt, stratum column, input subset. The Spark
    // side must produce the window's answer WITHOUT a window.
    val st0 = duck.createStatement()
    try st0.execute(
      s"CREATE VIEW IF NOT EXISTS documents AS SELECT * FROM '$sfDir/documents.parquet'")
    finally st0.close()
    val docs = sf("documents")
    val P = graft.prep.Prep.P; val M = graft.prep.Prep.Mult
    for (seed <- 4500 until 4530) {
      val r = new scala.util.Random(seed)
      val k = Seq(1, 3, 10, 40)(r.nextInt(4))
      val salt = r.nextInt(1000).toLong
      val m = 1 + r.nextInt(3)
      val base = docs.filter(col("doc_id") % m === 0)
      if (r.nextBoolean()) {
        val stratum = Seq("lang", "source")(r.nextInt(2))
        val df = graft.prep.Prep.stratifiedSampleKeys(base, "doc_id", stratum, k, salt)
        val sql =
          s"""WITH r AS (
             |  SELECT $stratum, doc_id,
             |    row_number() OVER (PARTITION BY $stratum
             |      ORDER BY ((doc_id + $salt) % $P) * $M % $P) AS rk
             |  FROM documents WHERE doc_id % $m = 0
             |) SELECT $stratum, rk, doc_id FROM r WHERE rk <= $k""".stripMargin
        assertSame(df, sql)
      } else {
        val df = graft.prep.Prep.weightedSampleKeys(base, "doc_id", "n_chars", k, salt)
        val sql =
          s"""WITH s AS (
             |  SELECT doc_id,
             |    ln((((doc_id + $salt) % $P) * $M % $P + 1) / ${P + 1}.0)
             |      / n_chars AS score
             |  FROM documents WHERE doc_id % $m = 0 AND n_chars > 0
             |), r AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
             |  FROM s
             |) SELECT rk, doc_id FROM r WHERE rk <= $k""".stripMargin
        assertSame(df, sql)
      }
    }
  }

  test("fuzz: 25 random Z-order curve plans match DuckDB bit interleaves") {
    // grammar 41: Layout.zValue over random column subsets, widths, and
    // orders — the oracle is an independently generated fully-parenthesized
    // shift/mask chain (bit i of col j at position i*n+j)
    for (seed <- 4600 until 4625) {
      val r = new scala.util.Random(seed)
      val nCols = 2 + r.nextInt(2)
      val cols = r.shuffle(Seq("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber"))
        .take(nCols)
      val bits = 2 + r.nextInt(if (nCols == 2) 11 else 7)
      val mask = 1L << bits
      val zc = graft.operators.Layout.zValue(
        cols.map(c => pmod(col(c).cast("long"), lit(mask))), bits)
      val df = li.select(col("l_orderkey"), col("l_linenumber"), zc.as("z"))
      val terms = cols.zipWithIndex.flatMap { case (c, j) =>
        (0 until bits).map(i => s"((((($c % $mask)) >> $i) & 1) << ${i * nCols + j})")
      }.mkString(" | ")
      val sql = s"SELECT l_orderkey, l_linenumber, ($terms) AS z FROM lineitem"
      assertSame(df, sql)
    }
  }
}
