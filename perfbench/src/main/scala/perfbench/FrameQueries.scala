package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.SqlContext
import graft.api.frame._
import graft.api.syntax._
import graft.functions.{ChronoFormat, Quantiles}
import graft.operators.{AsofJoin, DynamicGroupBy, Fill, Rolling}
import graft.sources.IO

/** Short Polars-surface queries over a small star schema and an events
  * table, issued back to back by one client, then a short closed-loop
  * stream (`StreamJoin`). Each query is checked against the same question
  * asked in plain Spark SQL over the raw files. */
object FrameQueries extends Workload {
  private val tables = Seq("customer", "orders", "lineitem", "part", "events")
  private var t: Map[String, DataFrame] = Map.empty
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def load(c: Ctx): Unit = {
    t = tables.map(n => n -> IO.scanParquet(c.spark, c.path(c.data, s"$n.parquet"))).toMap
    StreamJoin.load(c)
  }

  private def events = t("events")

  /** (op, span, engine query, reference SQL over the `ref_*` views). */
  private def queries(c: Ctx): Seq[(String, String, () => DataFrame, String)] = Seq(
    ("groupby_agg", "api.sortBy", () =>
      t("lineitem").groupBy("l_returnflag").agg(sum("l_quantity").as("qty"),
        sum("l_extendedprice").as("price"), count(lit(1)).as("n"), avg("l_discount").as("disc"))
        .sortBy(Seq("l_returnflag" -> false)),
      """SELECT l_returnflag, sum(l_quantity) qty, sum(l_extendedprice) price, count(*) n,
        |avg(l_discount) disc FROM ref_lineitem GROUP BY l_returnflag""".stripMargin),
    ("join_inner", "api.joinCoalesced", () =>
      t("lineitem").joinCoalesced(t("orders"), Seq("l_orderkey"), Seq("o_orderkey"), JoinHow.Inner)
        .groupBy("o_orderstatus").agg(sum("l_extendedprice").as("rev"), count(lit(1)).as("n")),
      """SELECT o_orderstatus, sum(l_extendedprice) rev, count(*) n FROM ref_lineitem
        |JOIN ref_orders ON l_orderkey = o_orderkey GROUP BY o_orderstatus""".stripMargin),
    ("join_part", "api.joinCoalesced", () =>
      t("lineitem").joinCoalesced(t("part"), Seq("l_partkey"), Seq("p_partkey"), JoinHow.Inner)
        .groupBy("p_brand").agg(sum("l_quantity").as("qty")),
      """SELECT p_brand, sum(l_quantity) qty FROM ref_lineitem
        |JOIN ref_part ON l_partkey = p_partkey GROUP BY p_brand""".stripMargin),
    ("join_left", "api.joinCoalesced", () =>
      t("customer").joinCoalesced(
        t("orders").groupBy("o_custkey").agg(count(lit(1)).as("orders"), sum("o_totalprice").as("spent")),
        Seq("c_custkey"), Seq("o_custkey"), JoinHow.Left)
        .select("c_custkey", "c_nationkey", "orders", "spent"),
      """SELECT c_custkey, c_nationkey, o.orders, o.spent FROM ref_customer LEFT JOIN
        |(SELECT o_custkey, count(*) orders, sum(o_totalprice) spent FROM ref_orders GROUP BY o_custkey) o
        |ON c_custkey = o.o_custkey""".stripMargin),
    ("join_semi", "api.joinCoalesced", () =>
      t("customer").joinCoalesced(t("orders"), Seq("c_custkey"), Seq("o_custkey"), JoinHow.Semi)
        .select("c_custkey", "c_mktsegment"),
      "SELECT c_custkey, c_mktsegment FROM ref_customer LEFT SEMI JOIN ref_orders ON c_custkey = o_custkey"),
    ("join_anti", "api.joinCoalesced", () =>
      t("customer").joinCoalesced(t("orders"), Seq("c_custkey"), Seq("o_custkey"), JoinHow.Anti)
        .select("c_custkey", "c_mktsegment"),
      "SELECT c_custkey, c_mktsegment FROM ref_customer LEFT ANTI JOIN ref_orders ON c_custkey = o_custkey"),
    ("shift_diff", "api.syntax.diff", () => {
      val w = Window.partitionBy("user_id").orderBy("ts")
      events.select(col("event_id"), col("user_id"), col("amount").shift(1, w).as("prev"),
        col("amount").diff(1, w).as("delta"))
    },
      """SELECT event_id, user_id, lag(amount, 1) OVER w prev, amount - lag(amount, 1) OVER w delta
        |FROM ref_events WINDOW w AS (PARTITION BY user_id ORDER BY ts)""".stripMargin),
    ("rolling_keyed", "operators.Rolling.rollingSum", () =>
      events.select(col("event_id"), Rolling.rollingSum(col("amount"),
        Rolling.fixedSpec("5i", Seq(col("ts")), Seq(col("user_id")))).as("r5")),
      """SELECT event_id, sum(amount) OVER (PARTITION BY user_id ORDER BY ts
        |ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) r5 FROM ref_events""".stripMargin),
    ("asof_keyed", "operators.AsofJoin.join", () =>
      AsofJoin.join(events.filter(col("kind") === "buy").select("event_id", "user_id", "ts"),
        events.filter(col("kind") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("amount").as("v_amount")),
        "ts", "v_ts", by = Seq("user_id" -> "v_user")),
      """SELECT event_id, user_id, ts, v_amount FROM (
        |  SELECT b.event_id, b.user_id, b.ts, v.amount v_amount,
        |    row_number() OVER (PARTITION BY b.event_id ORDER BY v.ts DESC) rn
        |  FROM (SELECT * FROM ref_events WHERE kind = 'buy') b
        |  LEFT JOIN (SELECT * FROM ref_events WHERE kind = 'view') v
        |  ON v.user_id = b.user_id AND v.ts <= b.ts) WHERE rn = 1""".stripMargin),
    ("pivot", "api.pivotOn", () =>
      t("customer").pivotOn(Seq("c_nationkey"), "c_mktsegment", "c_acctbal", "sum", segments),
      segments.map(s => s"sum(CASE WHEN c_mktsegment = '$s' THEN c_acctbal END) $s")
        .mkString("SELECT c_nationkey, ", ", ", " FROM ref_customer GROUP BY c_nationkey")),
    ("unpivot", "api.unpivotOn", () =>
      t("orders").groupBy("o_orderstatus").agg(sum("o_totalprice").cast("double").as("total"),
        avg("o_totalprice").cast("double").as("mean"))
        .unpivotOn(Seq("o_orderstatus"), Seq("total", "mean"), "metric", "v"),
      """WITH a AS (SELECT o_orderstatus, CAST(sum(o_totalprice) AS DOUBLE) total,
        |  CAST(avg(o_totalprice) AS DOUBLE) mean FROM ref_orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, 'total' metric, total v FROM a
        |UNION ALL SELECT o_orderstatus, 'mean', mean FROM a""".stripMargin),
    ("fill_null", "operators.Fill.forwardFill", () =>
      events.select(col("event_id"),
        Fill.forwardFill(col("value"), Seq(col("ts")), Seq(col("user_id"))).as("v")),
      """SELECT event_id, last(value, true) OVER (PARTITION BY user_id ORDER BY ts
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) v FROM ref_events""".stripMargin),
    ("group_by_dynamic", "operators.DynamicGroupBy.apply", () =>
      DynamicGroupBy(events, "ts", every = "1h", by = Seq("user_id"))(
        count(lit(1)).as("n"), sum("amount").as("amt")),
      """SELECT date_trunc('HOUR', ts) ts, user_id, count(*) n, sum(amount) amt
        |FROM ref_events GROUP BY 1, 2""".stripMargin),
    ("quantiles", "functions.Quantiles.quantile", () =>
      t("lineitem").groupBy("l_returnflag").agg(
        Quantiles.quantile(col("l_quantity"), 0.5).as("q50"),
        Quantiles.quantile(col("l_extendedprice"), 0.9).as("q90")),
      """SELECT l_returnflag, percentile(l_quantity, 0.5) q50,
        |percentile(CAST(l_extendedprice AS DOUBLE), 0.9) q90
        |FROM ref_lineitem GROUP BY l_returnflag""".stripMargin),
    ("string_datetime", "functions.ChronoFormat.formatColumn", () =>
      t("orders").select(ChronoFormat.formatColumn(col("o_orderdate"), "%Y-%m").as("ym"),
        col("o_orderpriority").str.toUppercase.as("prio"))
        .groupBy("ym", "prio").agg(count(lit(1)).as("n")),
      """SELECT date_format(o_orderdate, 'yyyy-MM') ym, upper(o_orderpriority) prio, count(*) n
        |FROM ref_orders GROUP BY 1, 2""".stripMargin),
    ("sort_limit", "api.sortBy", () =>
      t("lineitem").sortBy(Seq("l_extendedprice" -> true, "l_orderkey" -> false,
        "l_linenumber" -> false)).limit(100)
        .select("l_orderkey", "l_linenumber", "l_extendedprice"),
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM ref_lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin),
    ("sql_context", "api.SqlContext.execute", () =>
      SqlContext(c.spark).register("fq_orders", t("orders")).execute(
        """SELECT o_orderpriority, count(*) n, sum(o_totalprice) total FROM fq_orders
          |WHERE o_orderstatus = 'F' GROUP BY o_orderpriority""".stripMargin),
      """SELECT o_orderpriority, count(*) n, sum(o_totalprice) total FROM ref_orders
        |WHERE o_orderstatus = 'F' GROUP BY o_orderpriority""".stripMargin))

  def job(c: Ctx): Unit = {
    queries(c).foreach { case (op, span, q, _) => c.query(op, span)(q()) }
    StreamJoin.job(c)
  }

  def references(c: Ctx): Map[String, String] = {
    tables.foreach(n => c.spark.read.parquet(c.path(c.data, s"$n.parquet"))
      .createOrReplaceTempView(s"ref_$n"))
    Digest.many(queries(c).map { case (op, _, _, sql) => op -> c.spark.sql(sql) }) ++
      StreamJoin.references(c)
  }
}
