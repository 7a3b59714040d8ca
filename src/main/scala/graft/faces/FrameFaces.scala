package graft
package faces

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.api.frame._
import graft.api.syntax._

/** The Polars-surface faces: the frame API, expressions, joins, windows,
  * as-of joins, group_by_dynamic, IO round trips, layout and the SQL
  * context, each with its DuckDB oracle. */
object FrameFaces {

  /** Exact decimal view of a 2dp money column. */
  private def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** q70's co-located join over per-(JVM, SF) bucketed tables. The layout
    * write (`bucketBy(8, key).sortBy(key)` after a repartition that puts
    * exactly one file in each bucket) happens once per session and lives in
    * the session catalog as an external table under /tmp/graft_fixtures —
    * the bucketed-table analogue of [[fixtureScan]]'s parquet fixtures. The
    * returned join carries NO exchange and NO per-query sort: bucket
    * hashing on both sides matches Spark's join partitioning, and the
    * one-file-per-bucket sorted layout satisfies the SMJ ordering
    * requirement (both properties asserted by PlanSpec). */
  private[graft] def q70Join(s: SparkSession, d: String): DataFrame = {
    sweepStaleFixtures
    // key the layout by SOURCE IDENTITY (full path + size + mtime of each
    // input) and by JVM: a sanitized dir name alone silently reused a stale
    // layout when the source data changed within a session, could collide
    // two distinct dirs after sanitization ("sf0.1" vs "sf0_1"), and let
    // two concurrent JVMs overwrite one shared path mid-read (ADVICE r11)
    def tok(f: String): String = {
      val p = java.nio.file.Paths.get(f)
      // ADVICE r12: a dataset may be a DIRECTORY whose part files are
      // rewritten in place (parent mtime unchanged) — hash child count +
      // total size + max child mtime, not the top-level entry alone; a
      // missing input falls through to the normal read error instead of
      // NoSuchFileException here
      val sig =
        if (!java.nio.file.Files.exists(p)) s"$f|missing"
        else if (java.nio.file.Files.isDirectory(p)) {
          val kids = listDir(p)
          val total = kids.map(k =>
            try java.nio.file.Files.size(k) catch { case _: java.io.IOException => 0L }).sum
          val maxM = (p +: kids).map(k =>
            try java.nio.file.Files.getLastModifiedTime(k).toMillis
            catch { case _: java.io.IOException => 0L }).max
          s"$f|d${kids.size}|$total|$maxM"
        } else s"$f|${java.nio.file.Files.size(p)}|" +
          java.nio.file.Files.getLastModifiedTime(p).toMillis
      java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(sig))
    }
    val suf = tok(s"$d/lineitem.parquet") + "_" + tok(s"$d/orders.parquet") +
      "_p" + ProcessHandle.current().pid()
    val lt = s"g70_li_$suf"; val ot = s"g70_o_$suf"
    def ensure(name: String, df: DataFrame, key: String): Unit =
      if (!s.catalog.tableExists(name)) {
        val path = java.nio.file.Paths.get(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_fixtures",
          name).toString
        df.repartition(8, col(key))
          .write.mode("overwrite")
          .bucketBy(8, key).sortBy(key)
          .option("path", path).saveAsTable(name)
      }
    ensure(lt, t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
      "l_orderkey")
    ensure(ot, t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority")), "o_orderkey")
    val li = s.table(lt); val o = s.table(ot)
    li.hint("merge").join(o.hint("merge"), li("l_orderkey") === o("o_orderkey"))
  }

  val faces: Seq[Face] = Seq(
    // §2.5 group_by().agg() with the full core agg set (sum/mean/min/max/
    // count/len) — reference lazy.rs:168-184, expr.rs:208-211,881-888,1125-1130
    Face("q01_groupby_agg", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"),
          (sum(dec2(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(col("l_quantity")).as("cnt_qty"),
          graft.api.syntax.len().as("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty,
        |  count(l_quantity) AS cnt_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // §2.3 filter + select + arithmetic/comparison exprs — lazy.rs:84-88,
    // expr.rs:222-243
    Face("q02_filter_project", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_quantity") > lit(30.0) && col("l_discount") <= lit(0.05))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
            .cast("double").as("revenue"),
          (col("l_quantity") + col("l_tax")).as("qty_plus_tax"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  l_quantity + l_tax AS qty_plus_tax
        |FROM lineitem WHERE l_quantity > 30.0 AND l_discount <= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // §2.4 inner equi-join (multi-table) + agg — lazy.rs:462-488
    Face("q03_join_inner", (s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders"); val c = t(s, d, "customer")
      // pre-aggregate revenue per order BEFORE the customer join: shrinks the
      // join input from lineitem-cardinality to orders-cardinality, the
      // orderkey exchange is reused by the join, and countDistinct(o_orderkey)
      // degenerates to a plain count (one row per order survives the pre-agg),
      // eliminating the distinct expand. Decimal sums re-associate exactly, so
      // the result is bit-identical to the single big aggregate.
      val perOrder = li.groupBy(col("l_orderkey")).agg(
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .as("order_rev"))
      perOrder.join(o, perOrder("l_orderkey") === o("o_orderkey"), "inner")
        .join(c, o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(col("order_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }, oracle =
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // §2.4 left join with null-producing right side — utils.rs:98-107 (code 1)
    Face("q04_join_left", (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.joinCoalesced(o.groupBy(col("o_custkey")).agg(
          count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total_spend")),
        Seq("c_custkey"), Seq("o_custkey"), JoinHow.Left)
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spend"), lit(0.0)).as("total_spend"))
        .orderBy(col("c_custkey"))
    }, oracle =
      """SELECT c_custkey, c_name,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(total_spend, 0.0) AS total_spend
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |  FROM orders GROUP BY o_custkey
        |) o ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin),

    // §2.4 semi join (code 4)
    Face("q05_join_semi", (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.joinCoalesced(o.filter(col("o_totalprice") > lit(100000.0)),
          Seq("c_custkey"), Seq("o_custkey"), JoinHow.Semi)
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, oracle =
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0)
        |ORDER BY c_custkey""".stripMargin),

    // §2.4 anti join (code 5)
    Face("q06_join_anti", (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.joinCoalesced(o, Seq("c_custkey"), Seq("o_custkey"), JoinHow.Anti)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }, oracle =
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin),

    // §2.4 cross join (code 3) — small dims
    Face("q07_join_cross", (s, d) => {
      val r = t(s, d, "region"); val n = t(s, d, "nation")
      r.joinCoalesced(n, Seq(), Seq(), JoinHow.Cross)
        .select(col("r_regionkey"), col("r_name"), col("n_nationkey"), col("n_name"))
        .orderBy(col("r_regionkey"), col("n_nationkey"))
    }, oracle =
      """SELECT r_regionkey, r_name, n_nationkey, n_name
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin),

    // §2.7 multi-key sort + limit (top-k) — lazy.rs:99-164
    Face("q08_sort_limit", (s, d) => {
      t(s, d, "orders")
        .sortBy(Seq(("o_totalprice", true), ("o_orderkey", false)))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }, oracle =
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // §2.3 distinct/unique (SQL-path parity)
    Face("q09_distinct", (s, d) => {
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .unique()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracle =
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // §2.6 expr.over(partition) — whole-partition window agg broadcast back
    // to rows (expr.rs:994-1013)
    Face("q10_window_over", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
      t(s, d, "orders")
        .withColumn("cust_total",
          sum(dec2(col("o_totalprice"))).over(w).cast("double"))
        .withColumn("cust_n", count(lit(1)).over(w))
        .filter(col("o_totalprice") > col("cust_total") / col("cust_n"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("cust_total"), col("cust_n"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey, o_custkey, o_totalprice, cust_total, cust_n
        |FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE) AS cust_total,
        |    count(*) OVER (PARTITION BY o_custkey) AS cust_n
        |  FROM orders
        |) WHERE o_totalprice > cust_total / cust_n
        |ORDER BY o_orderkey""".stripMargin),

    // §2.11 if_else / is_between / cast / math — expr.rs:706-723,865-876,1103-1122
    Face("q11_case_cast_math", (s, d) => {
      t(s, d, "part")
        .select(
          col("p_partkey"),
          ifElse(col("p_size").isBetween(lit(10), lit(30)), lit("mid"), lit("extreme")).as("size_class"),
          col("p_size").cast("long").as("size_l"),
          col("p_retailprice").roundTo(0).as("price_round"),
          abs(col("p_size") - lit(25)).as("size_dist"),
          sqrt(col("p_size").cast("double")).as("size_sqrt"),
          pow(col("p_size").cast("double"), lit(2.0)).as("size_sq"))
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey,
        |  CASE WHEN p_size BETWEEN 10 AND 30 THEN 'mid' ELSE 'extreme' END AS size_class,
        |  CAST(p_size AS BIGINT) AS size_l,
        |  round(p_retailprice, 0) AS price_round,
        |  abs(p_size - 25) AS size_dist,
        |  sqrt(CAST(p_size AS DOUBLE)) AS size_sqrt,
        |  pow(CAST(p_size AS DOUBLE), 2.0) AS size_sq
        |FROM part ORDER BY p_partkey""".stripMargin),

    // §2.11 lenient cast semantics (expr.rs:1015-1033 strict=false):
    // overflow and unparseable input → null, matching TRY_CAST on the oracle
    // side. The strict twin (castStrict, ANSI raise) is spec-verified in
    // ExprSpec — an oracle can't observe a thrown error.
    Face("q40_try_cast", (s, d) => {
      t(s, d, "part")
        .select(
          col("p_partkey"),
          col("p_partkey").castLenient("tinyint").as("small_key"),
          col("p_name").castLenient("double").as("name_num"),
          concat(lit("BAD"), col("p_brand")).castLenient("date").as("bad_date"),
          col("p_size").castLenient("smallint").as("size_small"))
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey,
        |  TRY_CAST(p_partkey AS TINYINT) AS small_key,
        |  TRY_CAST(p_name AS DOUBLE) AS name_num,
        |  TRY_CAST('BAD' || p_brand AS DATE) AS bad_date,
        |  TRY_CAST(p_size AS SMALLINT) AS size_small
        |FROM part ORDER BY p_partkey""".stripMargin),

    // §2.11 string namespace — upper/lower/len/contains/slice/extract/
    // replace/starts/ends (expr.rs:262-499)
    Face("q12_str_funcs", (s, d) => {
      t(s, d, "part")
        .select(
          col("p_partkey"),
          col("p_name").str.toUppercase.as("name_upper"),
          col("p_name").str.lenChars.as("name_len"),
          col("p_name").str.contains("ste").as("has_ste"),
          col("p_name").str.slice(0, 5).as("name_head"),
          col("p_brand").str.extract("Brand#(\\d+)", 1).as("brand_num"),
          col("p_type").str.replaceAll(" ", "_", useRegex = false).as("type_snake"),
          col("p_type").str.startsWith("STANDARD").as("is_std"),
          col("p_type").str.endsWith("TIN").as("is_tin"))
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey,
        |  upper(p_name) AS name_upper,
        |  length(p_name) AS name_len,
        |  regexp_matches(p_name, 'ste') AS has_ste,
        |  substr(p_name, 1, 5) AS name_head,
        |  CASE WHEN regexp_extract(p_brand, 'Brand#(\d+)', 1) = '' THEN NULL
        |       ELSE regexp_extract(p_brand, 'Brand#(\d+)', 1) END AS brand_num,
        |  replace(p_type, ' ', '_') AS type_snake,
        |  starts_with(p_type, 'STANDARD') AS is_std,
        |  p_type LIKE '%TIN' AS is_tin
        |FROM part ORDER BY p_partkey""".stripMargin),

    // §2.11 temporal namespace — year/month/day/hour/weekday/ordinal/truncate
    // (expr.rs:247-257,568-579)
    Face("q13_dt_funcs", (s, d) => {
      t(s, d, "events")
        .select(
          col("event_id"),
          col("ts").dt.year.as("y"),
          col("ts").dt.month.as("mo"),
          col("ts").dt.day.as("dom"),
          col("ts").dt.ordinalDay.as("doy"),
          col("ts").dt.weekday.as("wd"),
          col("ts").dt.hour.as("h"),
          col("ts").dt.minute.as("mi"),
          col("ts").dt.truncate("1h").cast("timestamp_ntz").as("ts_hour"),
          col("ts").dt.timestamp("us").as("epoch_us"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id,
        |  year(ts) AS y, month(ts) AS mo, day(ts) AS dom,
        |  dayofyear(ts) AS doy, isodow(ts) AS wd,
        |  hour(ts) AS h, minute(ts) AS mi,
        |  date_trunc('hour', ts) AS ts_hour,
        |  epoch_us(ts) AS epoch_us
        |FROM events ORDER BY event_id""".stripMargin),

    // §2.3 explode + §2.11 str.split (expr.rs:374-386, lazy.rs:275-309)
    Face("q14_split_explode", (s, d) => {
      t(s, d, "documents")
        .filter(col("doc_id") < lit(50L))
        .select(col("doc_id"), col("text").str.split(" ").as("words"))
        .explodeCol("words")
        .groupBy(col("words")).agg(count(lit(1)).as("n"))
        .orderBy(col("words"))
    }, oracle =
      """SELECT words, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS words
        |  FROM documents WHERE doc_id < 50
        |) GROUP BY words ORDER BY words""".stripMargin),

    // §2.8 concat diagonal (unionByName w/ null-fill) — lazy.rs:450
    Face("q15_concat_diagonal", (s, d) => {
      val a = t(s, d, "customer").select(col("c_custkey").as("key"), col("c_name").as("name"))
      val b = t(s, d, "supplier").select(col("s_suppkey").as("key"), col("s_acctbal").as("bal"))
      a.concatDiagonal(b)
        .orderBy(col("key"), col("name"), col("bal"))
    }, oracle =
      """SELECT key, name, bal FROM (
        |  SELECT c_custkey AS key, c_name AS name, NULL::DOUBLE AS bal FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS key, NULL AS name, s_acctbal AS bal FROM supplier
        |) ORDER BY key, name, bal""".stripMargin),

    // §2.9 unpivot/melt — lazy.rs:345-406
    Face("q16_unpivot", (s, d) => {
      t(s, d, "part")
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retail"))
        .unpivotOn(Seq("p_partkey"), Seq("size", "retail"), "variable", "value")
        .orderBy(col("p_partkey"), col("variable"))
    }, oracle =
      """SELECT p_partkey, variable, value FROM (
        |  SELECT p_partkey, 'size' AS variable, CAST(p_size AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'retail' AS variable, p_retailprice AS value FROM part
        |) ORDER BY p_partkey, variable""".stripMargin),

    // §2.9 pivot — eager.rs:553-605 (sum agg)
    Face("q17_pivot", (s, d) => {
      t(s, d, "lineitem")
        .pivotOn(Seq("l_returnflag"), "l_linestatus", "l_quantity", "sum")
        .orderBy(col("l_returnflag"))
    }, oracle =
      """SELECT l_returnflag,
        |  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS "F",
        |  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // §2.11 fill_null / coalesce + drop_nulls interplay — expr.rs:242
    Face("q18_fill_null", (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.joinCoalesced(
          o.groupBy(col("o_custkey")).agg(max(col("o_totalprice")).as("max_price")),
          Seq("c_custkey"), Seq("o_custkey"), JoinHow.Left)
        .select(col("c_custkey"),
          col("max_price").fillNull(lit(-1.0)).as("max_price_filled"),
          col("max_price").isNull.as("was_null"))
        .orderBy(col("c_custkey"))
    }, oracle =
      """SELECT c_custkey,
        |  coalesce(max_price, -1.0) AS max_price_filled,
        |  max_price IS NULL AS was_null
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, max(o_totalprice) AS max_price FROM orders GROUP BY o_custkey
        |) o ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin),

    // §2.5 median/quantile — expr.rs:1147-1176 (linear interpolation =
    // DuckDB quantile_cont; quantities are integers so exact)
    Face("q19_quantile", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          median(col("l_quantity")).as("med_qty"),
          percentile(col("l_quantity"), lit(0.25)).as("q25_qty"),
          percentile(col("l_quantity"), lit(0.9)).as("q90_qty"))
        .orderBy(col("l_returnflag"))
    }, oracle =
      """SELECT l_returnflag,
        |  median(l_quantity) AS med_qty,
        |  quantile_cont(l_quantity, 0.25) AS q25_qty,
        |  quantile_cont(l_quantity, 0.9) AS q90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // §2.6 shift/diff over ordered window — expr.rs:1035-1062
    Face("q20_shift_diff", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("value_diff",
          (dec4(col("value")) - dec4(lag(col("value"), 1).over(w))).cast("double"))
        .select(col("event_id"), col("user_id"), col("value"), col("prev_value"), col("value_diff"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id, user_id, value, prev_value,
        |  CAST(CAST(value AS DECIMAL(18,4)) - CAST(prev_value AS DECIMAL(18,4)) AS DOUBLE) AS value_diff
        |FROM (
        |  SELECT event_id, user_id, value,
        |    lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |  FROM events
        |) ORDER BY event_id""".stripMargin),

    // §2.4 as-of join BACKWARD with by-groups — lazy.rs:501-569; the
    // union+window composition (one shuffle, no range explosion)
    Face("q21_asof_backward", (s, d) => {
      val ev = t(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
        .withColumn("click_ts", col("ts"))
      graft.operators.AsofJoin.join(p, c, "ts", "ts", Seq(("user_id", "user_id")))
        .orderBy(col("event_id"))
    }, oracle = asofBackwardSql),

    // §2.4 as-of join with tolerance — lazy.rs:533-547
    Face("q22_asof_tolerance", (s, d) => {
      val ev = t(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
      graft.operators.AsofJoin.join(p, c, "ts", "ts", Seq(("user_id", "user_id")),
          tolerance = Some("1h"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT p.event_id, p.user_id, p.ts,
        |  CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000 THEN c.value END AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),

    // §2.4 as-of join FORWARD — strategy map lazy.rs:526-531
    Face("q23_asof_forward", (s, d) => {
      val ev = t(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val c = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value").as("err_value"))
      graft.operators.AsofJoin.join(p, c, "ts", "ts", Seq(("user_id", "user_id")),
          strategy = graft.operators.AsofJoin.Forward)
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT p.event_id, p.user_id, p.ts, c.value AS err_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') c
        |  ON p.user_id = c.user_id AND p.ts <= c.ts
        |ORDER BY p.event_id""".stripMargin),

    // §2.4 as-of join NEAREST (tie → backward, Polars semantics)
    Face("q24_asof_nearest", (s, d) => {
      val ev = t(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("near_value"))
      graft.operators.AsofJoin.join(p, c, "ts", "ts", Seq(("user_id", "user_id")),
          strategy = graft.operators.AsofJoin.Nearest)
        .orderBy(col("event_id"))
    }, oracle =
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM events WHERE event_type = 'click'),
        |b AS (SELECT p.event_id, c.ts AS bt, c.value AS bv FROM p
        |      ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
        |f AS (SELECT p.event_id, c.ts AS ft, c.value AS fv FROM p
        |      ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts)
        |SELECT p.event_id, p.user_id, p.ts,
        |  CASE WHEN ft IS NULL OR (bt IS NOT NULL
        |            AND epoch_us(p.ts) - epoch_us(bt) <= epoch_us(ft) - epoch_us(p.ts))
        |       THEN bv ELSE fv END AS near_value
        |FROM p JOIN b USING (event_id) JOIN f USING (event_id)
        |ORDER BY p.event_id""".stripMargin),

    // §2.5 group_by_dynamic: 6h tumbling windows by event_type —
    // lazy.rs:186-273 → Spark window() expression
    Face("q25_group_by_dynamic", (s, d) => {
      graft.operators.DynamicGroupBy(t(s, d, "events"), "ts", every = "6h",
          by = Seq("event_type"))(
          sum(dec4(col("value"))).cast("double").as("sum_value"),
          count(lit(1)).as("n"))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .orderBy(col("ts"), col("event_type"))
    }, oracle =
      """SELECT time_bucket(INTERVAL '6 hours', ts) AS ts, event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY ts, event_type""".stripMargin),

    // §2.6 rolling fixed-row window (rowsBetween) — expr.rs:102-141
    Face("q26_rolling_rows", (s, d) => {
      val spec = graft.operators.Rolling.fixedSpec("7i",
        Seq(col("o_orderdate"), col("o_orderkey")), Seq(col("o_custkey")))
      t(s, d, "orders")
        .withColumn("roll_sum", sum(dec2(col("o_totalprice"))).over(spec).cast("double"))
        .withColumn("roll_n", count(lit(1)).over(spec))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("roll_sum"), col("roll_n"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
        |  count(*) OVER w AS roll_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin),

    // §2.6 rolling time-based window (rangeBetween, closed=Both) —
    // expr.rs:151-191
    Face("q27_rolling_time", (s, d) => {
      val spec = graft.operators.Rolling.timeSpec("3d", col("ts"),
        Seq(col("user_id")), graft.operators.Rolling.Both)
      t(s, d, "events")
        .withColumn("roll_3d_sum", sum(dec4(col("value"))).over(spec).cast("double"))
        .select(col("event_id"), col("user_id"), col("value"), col("roll_3d_sum"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id, user_id, value,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS roll_3d_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 3 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // §2.6 forward/backward fill — expr.rs:1066-1101
    Face("q28_fill_directional", (s, d) => {
      val masked = when(col("event_type") =!= "error", col("value"))
      t(s, d, "events")
        .withColumn("value_masked", masked)
        .withColumn("value_ffill", graft.operators.Fill.forwardFill(
          masked, Seq(col("ts"), col("event_id")), Seq(col("user_id"))))
        .withColumn("value_bfill", graft.operators.Fill.backwardFill(
          masked, Seq(col("ts"), col("event_id")), Seq(col("user_id"))))
        .select(col("event_id"), col("user_id"), col("value_masked"),
          col("value_ffill"), col("value_bfill"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id, user_id,
        |  CASE WHEN event_type <> 'error' THEN value END AS value_masked,
        |  last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
        |  first_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value_bfill
        |FROM events ORDER BY event_id""".stripMargin),

    // §2.4 as-of WITHOUT by-keys (lazy.rs:501-569 allows it) — exercises the
    // range-partitioned boundary-carry path, oracle'd by DuckDB global ASOF.
    // The right side is pre-deduped to unique ts (max value) so ties are
    // deterministic on both engines.
    Face("q41_asof_unkeyed", (s, d) => {
      val ev = t(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"))
      val c = ev.filter(col("event_type") === "click")
        .groupBy(col("ts"))
        .agg(max(dec4(col("value"))).cast("double").as("click_value"))
      graft.operators.AsofJoin.join(p, c, "ts", "ts")
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT p.event_id, p.ts, c.click_value
        |FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT ts, CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY ts) c
        |  ON p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),

    // §2.6 unkeyed whole-frame forward fill — Fill.fillGlobal's
    // range-partition + broadcast-carry plan vs a DuckDB global window.
    Face("q42_fill_global", (s, d) => {
      val ev = t(s, d, "events")
        .withColumn("value_ffill", when(col("event_type") =!= "error", col("value")))
      graft.operators.Fill.fillGlobal(ev, Seq("value_ffill"), Seq(col("ts"), col("event_id")))
        .select(col("event_id"), col("value_ffill"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id,
        |  last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
        |    OVER (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value_ffill
        |FROM events ORDER BY event_id""".stripMargin),

    // §2.6 UNKEYED whole-frame rolling — the boundary-context scale path
    // (Rolling.fixedGlobal / timeGlobal) vs DuckDB global window frames.
    Face("q45_rolling_global_rows", (s, d) => {
      graft.operators.Rolling.fixedGlobal(
          t(s, d, "orders"), "25i", Seq(col("o_orderkey")),
          Seq("roll_sum" -> (w => sum(dec2(col("o_totalprice"))).over(w).cast("double")),
              "roll_n" -> (w => count(lit(1)).over(w))))
        .select(col("o_orderkey"), col("roll_sum"), col("roll_n"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
        |  count(*) OVER w AS roll_n
        |FROM orders
        |WINDOW w AS (ORDER BY o_orderkey ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin),

    Face("q46_rolling_global_time", (s, d) => {
      // diffSums/diffCounts: O(n) running-difference plan — the sliding
      // range frame would rebuild its buffer per row (O(n·w): 141 s at
      // sf0.1, this ~2 s). Both subtractable aggregates go through the
      // two-incremental-frames path (round-11 directive 6: the count face
      // is oracle-graded here, not just grammar-33 fuzzed).
      graft.operators.Rolling.timeGlobal(t(s, d, "events"), "3d", col("ts"),
          diffSums = Seq("roll_sum" -> dec4(col("value"))),
          diffCounts = Seq("roll_n" -> lit(1)))
        .select(col("event_id"), col("roll_sum").cast("double").as("roll_sum"),
          col("roll_n"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS roll_sum,
        |  count(*) OVER w AS roll_n
        |FROM events
        |WINDOW w AS (ORDER BY ts RANGE BETWEEN INTERVAL 3 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // §2.5 calendar-true monthly group_by_dynamic ("1mo" = real month
    // boundaries, not 30-day grids) vs DuckDB date_trunc('month').
    Face("q43_calendar_month", (s, d) => {
      graft.operators.DynamicGroupBy(t(s, d, "events"), "ts", every = "1mo",
          by = Seq("event_type"))(
          sum(dec4(col("value"))).cast("double").as("sum_value"),
          count(lit(1)).as("n"))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .orderBy(col("ts"), col("event_type"))
    }, oracle =
      """SELECT date_trunc('month', ts) AS ts, event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY ts, event_type""".stripMargin),

    // §2.11 calendar-true offset_by / truncate (mo/q units) — DuckDB's
    // INTERVAL month arithmetic clamps day-of-month exactly like Polars'
    // offset_by, so both sides are deterministic and comparable.
    Face("q44_calendar_offset", (s, d) => {
      t(s, d, "orders")
        .select(col("o_orderkey"),
          col("o_orderdate").cast("timestamp").as("ts0"))
        .select(col("o_orderkey"),
          col("ts0").dt.offsetBy("1mo").cast("timestamp_ntz").as("plus_1mo"),
          col("ts0").dt.offsetBy("1q").cast("timestamp_ntz").as("plus_1q"),
          col("ts0").dt.offsetBy("-1y").cast("timestamp_ntz").as("minus_1y"),
          col("ts0").dt.offsetBy("1mo2d").cast("timestamp_ntz").as("plus_mixed"),
          col("ts0").dt.truncate("1mo").cast("timestamp_ntz").as("trunc_mo"),
          col("ts0").dt.truncate("1q").cast("timestamp_ntz").as("trunc_q"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS TIMESTAMP) + INTERVAL 1 MONTH AS plus_1mo,
        |  CAST(o_orderdate AS TIMESTAMP) + INTERVAL 3 MONTH AS plus_1q,
        |  CAST(o_orderdate AS TIMESTAMP) - INTERVAL 12 MONTH AS minus_1y,
        |  CAST(o_orderdate AS TIMESTAMP) + INTERVAL 1 MONTH + INTERVAL 2 DAY AS plus_mixed,
        |  date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS trunc_mo,
        |  date_trunc('quarter', CAST(o_orderdate AS TIMESTAMP)) AS trunc_q
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // §2.11 dt.to_string across the specifier space Spark's date_format
    // cannot express: ISO week fields compile to expressions (Spark bans
    // Java week-based pattern letters outright), composites expand, literal
    // runs quote — DuckDB's independent C-style strftime is the oracle
    Face("q55_strftime_iso", (s, d) => {
      t(s, d, "events")
        .select(col("event_id"),
          col("ts").dt.toString("%G-W%V-%u").as("iso_week_date"),
          col("ts").dt.toString("%Y-%m-%dT%H:%M:%S.%f").as("iso_ts"),
          col("ts").dt.toString("%A, %B %d (%a %b) day %j").as("verbose"),
          col("ts").dt.toString("%I:%M %p").as("clock12"),
          col("ts").dt.toString("%w|%u").as("weekday_conventions"))
        .orderBy(col("event_id"))
    }, oracle =
      // DuckDB's strftime is an independent C-style implementation of the
      // same chrono specifier set (%w is C's Sunday-0 weekday, %u ISO's
      // Monday-1; %f is the µs fraction on both — the engine's documented
      // chrono-%f delta)
      """SELECT event_id,
        |  strftime(ts, '%G-W%V-%u') AS iso_week_date,
        |  strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS iso_ts,
        |  strftime(ts, '%A, %B %d (%a %b) day %j') AS verbose,
        |  strftime(ts, '%I:%M %p') AS clock12,
        |  strftime(ts, '%w|%u') AS weekday_conventions
        |FROM events ORDER BY event_id""".stripMargin),

    // §2.1/2.2 CSV round-trip, driver-graded like q47's JDBC one: write a
    // lineitem slice (quoted comment strings, doubles, timestamps) to CSV,
    // scan it back with the explicit schema, compare against the parquet
    // truth. Java's shortest-round-trip double printing makes the numeric
    // cells bit-exact; the oracle never sees the CSV
    Face("q56_csv_roundtrip", (s, d) => {
      val dir = scratchDir("q56")
      val src = t(s, d, "lineitem").filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"),
          // synthesized comma+quote payload: the column that makes the CSV
          // writer actually quote and escape
          concat(col("l_returnflag"), lit(", \""), col("l_linestatus"), lit("\""))
            .as("quoted_note"),
          col("l_shipdate"))
      graft.sources.IO.sinkCsv(src, dir)
      graft.sources.IO.scanCsv(s, dir, Some(src.schema))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, oracle =
      // round-trip oracles: the SQL is the parquet truth; any write/read
      // fidelity loss (quoting, type mapping, timestamp format) breaks the hash
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  l_returnflag || ', "' || l_linestatus || '"' AS quoted_note,
        |  l_shipdate
        |FROM lineitem WHERE l_orderkey % 7 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // §2.1/2.2 Arrow-IPC (Feather) round-trip through the custom
    // batch-granular reader/streamed writer
    Face("q57_ipc_roundtrip", (s, d) => {
      val dir = scratchDir("q57")
      val path = dir + "/events.arrow"
      val src = t(s, d, "events").filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.sources.ArrowIpc.write(src, path)
      graft.sources.ArrowIpc.read(s, path).orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id, user_id, ts, value
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin),

    // §2.1/2.2 NDJSON round-trip (schema re-asserted after inference:
    // JSON has no int32, so inferred longs cast back to the parquet types)
    Face("q58_ndjson_roundtrip", (s, d) => {
      val dir = scratchDir("q58")
      val src = t(s, d, "part").filter(col("p_partkey") % 3 === 0)
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"), col("p_size"))
      graft.sources.IO.sinkJson(src, dir)
      val back = graft.sources.IO.scanNdjson(s, dir)
      back.select(src.schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey, p_name, p_retailprice, p_size
        |FROM part WHERE p_partkey % 3 = 0
        |ORDER BY p_partkey""".stripMargin),

    // §2.14 SQL context: register frames, run ANSI SQL through the facade —
    // the same text DuckDB executes as the oracle (join + grouped agg +
    // having + order, exercising the whole register/execute path)
    Face("q59_sql_context", (s, d) => {
      val ctx = graft.api.SqlContext(s)
        .register("g59_orders", t(s, d, "orders"))
        .register("g59_customer", t(s, d, "customer"))
      val out = ctx.execute(
        """SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
          |  count(*) AS n,
          |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM g59_orders o JOIN g59_customer c ON o.o_custkey = c.c_custkey
          |WHERE o.o_orderstatus <> 'P'
          |GROUP BY c.c_mktsegment, o.o_orderpriority
          |HAVING count(*) > 5
          |ORDER BY seg, prio""".stripMargin)
      // the plan is resolved at execute(); drop the views so repeated
      // invocations don't leak catalog entries into the long-lived session
      ctx.unregister("g59_orders").unregister("g59_customer")
      out
    }, oracle =
      """SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
        |  count(*) AS n,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderstatus <> 'P'
        |GROUP BY c.c_mktsegment, o.o_orderpriority
        |HAVING count(*) > 5
        |ORDER BY seg, prio""".stripMargin),

    // §1.1 Series: the eager single-column surface driven end to end —
    // fromColumn → vectorized arith/abs/sqrt chain → toFrame. The result is
    // a keyless single column; the driver compare sorts rows, so the value
    // multiset is the contract
    Face("q60_series_ops", (s, d) => {
      val ser = graft.api.Series.fromColumn("l_quantity", t(s, d, "lineitem"))
      ((ser * 2.0) - 5.0).abs.sqrt.rename("sv").toFrame
    }, oracle =
      """SELECT sqrt(abs(l_quantity * CAST(2.0 AS DOUBLE) - CAST(5.0 AS DOUBLE))) AS sv
        |FROM lineitem""".stripMargin),

    // §2.13 typed scalar UDFs (Expr.Map parity): dtype-changing int->string
    // map + double arithmetic map, both optimizer barriers like the reference
    Face("q29_udf_map", (s, d) => {
      val priceBump = graft.functions.Udfs.map((x: Double) => x * 1.1)
      val sizeTag = graft.functions.Udfs.map((n: Int) => s"size_$n")
      t(s, d, "part")
        .select(col("p_partkey"),
          priceBump(col("p_retailprice")).as("bumped"),
          sizeTag(col("p_size")).as("size_tag"))
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey, p_retailprice * 1.1 AS bumped,
        |  'size_' || CAST(p_size AS VARCHAR) AS size_tag
        |FROM part ORDER BY p_partkey""".stripMargin),

    // §2.11 str extras: byte length, char strip sets, prefix strip, split+join
    Face("q30_str_extra", (s, d) => {
      t(s, d, "part")
        .select(col("p_partkey"),
          col("p_name").str.lenBytes.cast("long").as("n_bytes"),
          col("p_brand").str.stripPrefix("Brand#").as("brand_id"),
          col("p_name").str.stripChars("aeiou ").as("consonant_trim"),
          col("p_type").str.split(" ").list.join("-").as("type_dashed"))
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey,
        |  strlen(p_name) AS n_bytes,
        |  CASE WHEN starts_with(p_brand, 'Brand#') THEN substr(p_brand, 7) ELSE p_brand END AS brand_id,
        |  trim(p_name, 'aeiou ') AS consonant_trim,
        |  list_aggregate(string_split(p_type, ' '), 'string_agg', '-') AS type_dashed
        |FROM part ORDER BY p_partkey""".stripMargin),

    // §2.11 dt extras: strftime, time-of-day nanos, epoch ms
    Face("q31_dt_extra", (s, d) => {
      t(s, d, "events")
        .select(col("event_id"),
          col("ts").dt.toString("%Y-%m-%d %H:%M").as("formatted"),
          col("ts").dt.time.as("tod_nanos"),
          col("ts").dt.timestamp("ms").as("epoch_ms"),
          col("ts").dt.date.as("d"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M') AS formatted,
        |  (epoch_us(ts) - epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP))) * 1000 AS tod_nanos,
        |  epoch_ms(ts) AS epoch_ms,
        |  CAST(ts AS DATE) AS d
        |FROM events ORDER BY event_id""".stripMargin),

    // §2.11 list namespace over real array data
    Face("q32_list_ops", (s, d) => {
      t(s, d, "embeddings")
        .select(col("vec_id"),
          col("embedding").list.get(0).as("f0"),
          col("embedding").list.len.cast("long").as("dim"),
          col("embedding").list.min.as("vmin"),
          col("embedding").list.max.as("vmax"),
          graft.functions.VectorFunctions.dot(
            slice(col("embedding"), 1, 4), slice(col("embedding"), 1, 4)).as("head_sq"))
        .orderBy(col("vec_id"))
    }, oracle =
      """SELECT vec_id,
        |  embedding[1] AS f0,
        |  len(embedding) AS dim,
        |  list_min(embedding) AS vmin,
        |  list_max(embedding) AS vmax,
        |  list_sum(list_transform(embedding[1:4], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS head_sq
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // §2.11 struct namespace: as_struct + field access + json encode
    Face("q33_struct_ops", (s, d) => {
      val st = asStruct(col("c_name").as("name"),
        (dec2(col("c_acctbal")) * 100).cast("long").as("bal_cents"))
      t(s, d, "customer")
        .select(col("c_custkey"),
          st.struct_.fieldByName("name").as("name"),
          st.struct_.jsonEncode.as("as_json"))
        .orderBy(col("c_custkey"))
    }, oracle =
      """SELECT c_custkey, c_name AS name,
        |  CAST(to_json(struct_pack(name := c_name,
        |    bal_cents := CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))) AS VARCHAR) AS as_json
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // §2.8 horizontal concat: positional zip of two differently-ordered
    // projections (row-index join under the hood)
    Face("q34_concat_horizontal", (s, d) => {
      val c = t(s, d, "customer")
      val a = c.orderBy(col("c_custkey")).select(col("c_custkey"), col("c_name"))
      val b = c.orderBy(col("c_custkey").desc).select(col("c_acctbal").as("rev_bal"))
      a.concatHorizontal(b).orderBy(col("c_custkey"))
    }, oracle =
      """WITH a AS (SELECT c_custkey, c_name, row_number() OVER (ORDER BY c_custkey) AS rn FROM customer),
        |b AS (SELECT c_acctbal AS rev_bal, row_number() OVER (ORDER BY c_custkey DESC) AS rn FROM customer)
        |SELECT a.c_custkey, a.c_name, b.rev_bal FROM a JOIN b USING (rn)
        |ORDER BY c_custkey""".stripMargin),

    // §2.5 group_by_dynamic label=Right + include_boundaries
    Face("q35_gbd_boundaries", (s, d) => {
      graft.operators.DynamicGroupBy(t(s, d, "events"), "ts", every = "12h",
          label = graft.operators.DynamicGroupBy.LabelRight,
          includeBoundaries = true)(
          count(lit(1)).as("n"))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .withColumn("_lower_boundary", col("_lower_boundary").cast("timestamp_ntz"))
        .withColumn("_upper_boundary", col("_upper_boundary").cast("timestamp_ntz"))
        .orderBy(col("ts"))
    }, oracle =
      """SELECT time_bucket(INTERVAL '12 hours', ts) + INTERVAL 12 HOURS AS ts,
        |  time_bucket(INTERVAL '12 hours', ts) AS _lower_boundary,
        |  time_bucket(INTERVAL '12 hours', ts) + INTERVAL 12 HOURS AS _upper_boundary,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2, 3 ORDER BY ts""".stripMargin),

    // §2.5 quantile interpolation modes (nearest/higher/lower/midpoint/
    // linear — expr.rs:1156-1176) via sorted-group-list composition
    Face("q37_quantile_modes", (s, d) => {
      val Q = graft.functions.Quantiles
      val v = col("l_quantity")
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Q.quantile(v, 0.35, Q.Lower).as("q_lower"),
          Q.quantile(v, 0.35, Q.Higher).as("q_higher"),
          Q.quantile(v, 0.35, Q.Nearest).as("q_nearest"),
          Q.quantile(v, 0.35, Q.Midpoint).as("q_midpoint"),
          Q.quantile(v, 0.35, Q.Linear).as("q_linear"))
        .orderBy(col("l_returnflag"))
    }, oracle =
      """WITH s AS (
        |  SELECT l_returnflag, list_sort(list(CAST(l_quantity AS DOUBLE))) AS xs
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_returnflag,
        |  xs[CAST(floor(0.35 * (len(xs) - 1)) AS INT) + 1] AS q_lower,
        |  xs[CAST(ceil(0.35 * (len(xs) - 1)) AS INT) + 1] AS q_higher,
        |  xs[CAST(floor(0.35 * (len(xs) - 1) + 0.5) AS INT) + 1] AS q_nearest,
        |  (xs[CAST(floor(0.35 * (len(xs) - 1)) AS INT) + 1]
        |   + xs[CAST(ceil(0.35 * (len(xs) - 1)) AS INT) + 1]) / 2.0 AS q_midpoint,
        |  xs[CAST(floor(0.35 * (len(xs) - 1)) AS INT) + 1]
        |   + (0.35 * (len(xs) - 1) - floor(0.35 * (len(xs) - 1)))
        |     * (xs[CAST(ceil(0.35 * (len(xs) - 1)) AS INT) + 1]
        |        - xs[CAST(floor(0.35 * (len(xs) - 1)) AS INT) + 1]) AS q_linear
        |FROM s ORDER BY l_returnflag""".stripMargin),

    // §2.12 selector algebra driving a projection: numeric columns of part
    // minus the key, via set operations resolved against the schema
    Face("q38_selectors", (s, d) => {
      import graft.api.{Selectors => Sel}
      t(s, d, "part")
        .selectSel((Sel.numeric - Sel.byName("p_partkey")) | Sel.matches("^p_partkey$"))
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey, p_size, p_retailprice FROM part ORDER BY p_partkey""".stripMargin),

    // §2.15 describe-style stats as typed columns (count/null_count/mean/
    // min/quantiles/max — the reference Describe stat set, DataFrame.cs:665-727)
    Face("q39_describe_stats", (s, d) => {
      val Q = graft.functions.Quantiles
      val v = col("p_retailprice")
      t(s, d, "part").agg(
        count(v).as("cnt"),
        sum(when(v.isNull, 1L).otherwise(0L)).as("null_count"),
        (sum(dec2(v)).cast("double") / count(v)).as("mean"),
        min(v).as("vmin"),
        Q.quantile(v, 0.25, Q.Nearest).as("q25"),
        Q.quantile(v, 0.5, Q.Nearest).as("q50"),
        Q.quantile(v, 0.75, Q.Nearest).as("q75"),
        max(v).as("vmax"))
    }, oracle =
      """WITH s AS (SELECT list_sort(list(CAST(p_retailprice AS DOUBLE))) AS xs FROM part)
        |SELECT
        |  (SELECT count(p_retailprice) FROM part) AS cnt,
        |  (SELECT CAST(sum(CASE WHEN p_retailprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM part) AS null_count,
        |  (SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(p_retailprice) FROM part) AS mean,
        |  (SELECT min(p_retailprice) FROM part) AS vmin,
        |  xs[CAST(floor(0.25 * (len(xs) - 1) + 0.5) AS INT) + 1] AS q25,
        |  xs[CAST(floor(0.5 * (len(xs) - 1) + 0.5) AS INT) + 1] AS q50,
        |  xs[CAST(floor(0.75 * (len(xs) - 1) + 0.5) AS INT) + 1] AS q75,
        |  (SELECT max(p_retailprice) FROM part) AS vmax
        |FROM s""".stripMargin),

    // §2.3 deterministic seeded sampling (hash-ranked exact-n), verdict-
    // emitting: the drawn SET is seed/hash-valued (no SQL formulation), but
    // its invariants are exact — exactly n rows, no duplicates (without
    // replacement), and every drawn row is a real orders row. The draw's
    // determinism and seed-sensitivity stay pinned by the sampling spec.
    Face("q36_sample", (s, d) => {
      val orders = t(s, d, "orders")
      val samp = orders.sampleN(100, seed = 7)
        .select(col("o_orderkey"), col("o_custkey"))
      val notInOrders = samp.join(
        orders.select(col("o_orderkey"), col("o_custkey")),
        Seq("o_orderkey", "o_custkey"), "left_anti")
      samp.agg(count(lit(1)).as("__n"),
          countDistinct(col("o_orderkey")).as("__nd"))
        .crossJoin(notInOrders.agg(count(lit(1)).as("__bad")))
        .select((col("__n") === 100).as("n_ok"),
          (col("__nd") === 100).as("distinct_ok"),
          (col("__bad") === 0).as("subset_ok"))
    }, oracle = "SELECT true AS n_ok, true AS distinct_ok, true AS subset_ok"),

    // §2.1/§2.2 database round-trip e2e: write customer to an embedded Derby
    // DB (real JDBC engine, IntegrationTests.cs intent), scan it back
    // partitioned — the oracle sees only the parquet, so any fidelity loss in
    // the DB hop (types, nulls, values) breaks the hash
    Face("q47_jdbc_roundtrip", (s, d) => {
      System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
      val url = "jdbc:derby:memory:graft_q47;create=true"
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      graft.sources.IO.writeJdbc(cust, url, "q47_customer")
      graft.sources.IO.scanJdbcPartitioned(s, url, "q47_customer",
          "c_custkey", 1L, 150000L, 8)
        .orderBy(col("c_custkey"))
    }, oracle =
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // composite pipeline: scan → keyed as-of join → group_by_dynamic (1d
    // tumble, by user bucket) → pivot buckets to columns. Exercises operator
    // INTERACTION (as-of payload feeding a dynamic grid feeding a reshape),
    // which single-op queries can't catch
    Face("q48_pipeline_asof_pivot", (s, d) => {
      val ev = t(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
      val asof = graft.operators.AsofJoin.join(p, c, "ts", "ts",
        Seq(("user_id", "user_id")))
      val bucketed = asof.withColumn("bucket", (col("user_id") % 3).cast("int"))
      graft.operators.DynamicGroupBy(bucketed, "ts", every = "1d",
          by = Seq("bucket"))(
          sum(dec4(col("click_value"))).cast("double").as("v"))
        // bucket values pinned: total schema even if a bucket is empty at
        // some scale, and no eager distinct-values scan
        .pivotOn(index = Seq("ts"), columns = "bucket", values = "v",
          columnValues = Seq(0, 1, 2))
        .withColumnRenamed("0", "b0").withColumnRenamed("1", "b1")
        .withColumnRenamed("2", "b2")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .orderBy(col("ts"))
    }, oracle =
      """WITH aj AS (
        |  SELECT p.event_id, p.user_id, p.ts, c.value AS click_value
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND p.ts >= c.ts
        |)
        |SELECT time_bucket(INTERVAL '1 day', ts) AS ts,
        |  CAST(sum(CASE WHEN user_id % 3 = 0 THEN CAST(click_value AS DECIMAL(18,4)) END) AS DOUBLE) AS b0,
        |  CAST(sum(CASE WHEN user_id % 3 = 1 THEN CAST(click_value AS DECIMAL(18,4)) END) AS DOUBLE) AS b1,
        |  CAST(sum(CASE WHEN user_id % 3 = 2 THEN CAST(click_value AS DECIMAL(18,4)) END) AS DOUBLE) AS b2
        |FROM aj GROUP BY 1 ORDER BY ts""".stripMargin),

    // §1.2 Categorical (datatypes.rs:76): dictionary-encode, aggregate on the
    // dense int codes (the compute-side win of a physical categorical), then
    // decode through the broadcast dictionary
    Face("q50_categorical", (s, d) => {
      val (enc, dict) = graft.functions.Categorical.encode(
        t(s, d, "customer"), "c_mktsegment", "seg_code")
      enc.groupBy(col("seg_code"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("c_acctbal"))).cast("double").as("bal_sum"))
        // left join: a null-category group (null code) must survive decode,
        // matching the oracle's GROUP BY null-row semantics
        .join(broadcast(dict), Seq("seg_code"), "left")
        .select(col("c_mktsegment"), col("seg_code"), col("n"), col("bal_sum"))
        .orderBy(col("c_mktsegment"))
    }, oracle =
      """WITH g AS (
        |  SELECT c_mktsegment, count(*) AS n,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        |  FROM customer GROUP BY 1
        |)
        |SELECT c_mktsegment,
        |  CAST(row_number() OVER (ORDER BY c_mktsegment) - 1 AS INT) AS seg_code,
        |  n, bal_sum
        |FROM g ORDER BY c_mktsegment""".stripMargin),

    // §2.1 multiline-JSON ARRAY read (reference ReadJson io.rs:130-142, vs
    // the NDJSON scan q58 covers): the nation table — fixed 25 rows at every
    // SF by the TPC-H spec, so the array document is bounded — round-trips
    // through a single pretty-printed JSON array that only
    // option("multiLine") can parse.
    Face("q62_json_multiline", (s, d) => {
      val dir = scratchDir("q62")
      val src = t(s, d, "nation")
      val docs = src.orderBy(col("n_nationkey")).toJSON.collect() // 25 rows by spec
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "nation.json"),
        docs.mkString("[\n  ", ",\n  ", "\n]"))
      graft.sources.IO.readJson(s, dir + "/nation.json")
        .select(src.schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
        .orderBy(col("n_nationkey"))
    }, oracle =
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // §2.1 Arrow in-memory stream interchange (the reference's zero-copy
    // handoff into the host language, eager.rs:824-926): frame → Arrow IPC
    // stream bytes → frame. The byte buffer is driver-local BY DESIGN — this
    // is the in-process interchange surface, not a file scan — bounded here
    // to the filtered supplier slice (s_suppkey % 5, ≈ supplier/5 rows).
    Face("q63_arrow_handoff", (s, d) => {
      val src = t(s, d, "supplier").filter(col("s_suppkey") % 5 === 0)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
        .orderBy(col("s_suppkey"))
      val bytes = graft.sources.ArrowIpc.toArrowStreamBytes(src)
      graft.sources.ArrowIpc.fromArrowStreamBytes(s, bytes)
        .orderBy(col("s_suppkey"))
    }, oracle =
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier WHERE s_suppkey % 5 = 0 ORDER BY s_suppkey""".stripMargin),

    // §2.1 anonymous scan (AnonymousScan lazy.rs:646-763): four parallel
    // deterministic generators through the V2 source (projection + limit
    // pushdown wired); the oracle recomputes the generator formulas over
    // DuckDB's range(). Scores are multiples of 1/8 so the double sum is
    // exact under any accumulation order.
    Face("q64_anonymous_scan", (s, d) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("grp", IntegerType, nullable = false),
        StructField("score", DoubleType, nullable = false)))
      val parts = 4
      val perPart = 2500
      val factories: Seq[() => Iterator[org.apache.spark.sql.Row]] =
        (0 until parts).map { p => () =>
          Iterator.tabulate(perPart) { i =>
            val id = p.toLong * perPart + i
            org.apache.spark.sql.Row(id, (id % 7).toInt, (id * 31 % 1000) / 8.0)
          }
        }
      graft.sources.IteratorSource.scanPartitioned(s, "q64", schema, factories)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("score")).as("score_sum"))
        .orderBy(col("grp"))
    }, oracle =
      """SELECT CAST(i % 7 AS INTEGER) AS grp, count(*) AS n,
        |  sum(CAST((i * 31) % 1000 AS DOUBLE) / 8.0) AS score_sum
        |FROM range(0, 10000) t(i) GROUP BY 1 ORDER BY grp""".stripMargin),

    // §2.1 async read/collect (CollectAsync/ScanAsync DataFrame.cs:163-196):
    // the Future-based surface awaited back to a frame, then a normal
    // aggregation — proves the async path yields the same plan the sync
    // scan does.
    Face("q65_async_read", (s, d) => {
      import scala.concurrent.ExecutionContext.Implicits.global
      val fut = graft.sources.IO.scanParquetAsync(s, s"$d/orders.parquet")
      val orders = scala.concurrent.Await.result(
        fut, scala.concurrent.duration.Duration(120, "s"))
      orders.filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("o_orderstatus"))
    }, oracle =
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // §2.1 from objects/records: a case-class Seq through the product
    // encoder (Dataset[G66Rec]) joined (broadcast) against a real table —
    // the construction surface plus proof it composes with scans.
    Face("q66_from_records", (s, d) => {
      val recs = (0 until 60).map(i =>
        G66Rec(i.toLong, "rec_" + (i % 8), (i * 13 % 40) / 4.0))
      val nat = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      import s.implicits._
      s.createDataset(recs).toDF()
        .join(broadcast(nat), col("id") % 25 === col("n_nationkey"))
        .select(col("id"), col("name"), col("score"), col("n_name"))
        .orderBy(col("id"))
    }, oracle =
      """SELECT i AS id, 'rec_' || CAST(i % 8 AS VARCHAR) AS name,
        |  CAST((i * 13) % 40 AS DOUBLE) / 4.0 AS score, n_name
        |FROM range(0, 60) t(i) JOIN nation ON i % 25 = n_nationkey
        |ORDER BY id""".stripMargin),

    // §2.2 batch export (pl_dataframe_export_batches io.rs:608-657): stream
    // the region table — fixed 5 rows at every SF — to the caller via the
    // partition-at-a-time iterator and rebuild a frame from the exported
    // rows. Driver-side BY CONTRACT: the reference streams batches into the
    // host process the same way.
    Face("q67_export_batches", (s, d) => {
      val src = t(s, d, "region").select(col("r_regionkey"), col("r_name"))
      val exported = graft.sources.IO.exportBatches(src).toSeq // 5 rows by spec
      s.createDataFrame(java.util.Arrays.asList(exported: _*), src.schema)
        .orderBy(col("r_regionkey"))
    }, oracle = """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""".stripMargin),

    // §2.3 drop / rename / drop_nulls as the Frame-API chain (eager.rs:
    // 291-326) — nulls injected first so drop_nulls has real work, two
    // renames so the rename path is exercised on both a synthesized and an
    // original column.
    Face("q68_drop_rename_nulls", (s, d) => {
      t(s, d, "lineitem")
        .withColumn("qty_or_null",
          when(col("l_quantity") % 5 === 0, lit(null)).otherwise(col("l_quantity")))
        .dropNulls("qty_or_null")
        .rename("qty_or_null", "qty")
        .rename("l_returnflag", "flag")
        .select(col("l_orderkey"), col("l_linenumber"), col("flag"), col("qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_returnflag AS flag, l_quantity AS qty
        |FROM lineitem WHERE l_quantity % 5 <> 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // beyond-reference: gap-based SESSIONIZATION, batch face — the
    // declarative twin of the streaming state machine (Sessionize.sessions,
    // FidelitySpec proves stream == batch): per-user 30-min-gap sessions
    // over click events, vs DuckDB's lag/running-sum recomputation
    Face("q72_sessionize", (s, d) => {
      graft.streaming.Sessionize.sessionsBatch(
          t(s, d, "events").filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("value"), col("event_id")),
          "user_id", "ts", "value", gap = "30m", tieCols = Seq("event_id"))
        .orderBy(col("user_id"), col("session_id"))
    }, oracle =
      // NB: session_id is CAST to BIGINT — DuckDB's integer window sum
      // returns HUGEINT (int128), which the driver's hasher renders unlike
      // Spark's BIGINT even when every cell value matches (r11's only red
      // cell). Both window orderings carry event_id as the tie-break so the
      // lag pass and the running-sum pass agree on any duplicate (user, ts).
      """WITH e AS (
        |  SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'click'
        |), b AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM b
        |)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |  max(ts) AS session_end, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),

    // Multi-dimensional Z-order (Morton) layout — bucketing's sibling
    // (q70) for the 100 TB table filtered on several columns at once:
    // sorting by the interleaved-bit curve bounds EVERY interleaved
    // column's range within each parquet row group, so footer min/max
    // stats prune scans on ANY of them (LayoutSpec measures the pruning
    // with reader metrics against a single-sort control). The curve is
    // exact integer bit arithmetic, graded here against a bit-for-bit
    // generated SQL mirror.
    Face("q80_zorder_curve", (s, d) => {
      val b = t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_partkey").cast("long"), lit(1024L)).as("zx"),
        pmod(col("l_suppkey").cast("long"), lit(1024L)).as("zy"))
      b.withColumn("z",
          graft.operators.Layout.zValue(Seq(col("zx"), col("zy")), 10))
        .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    }, oracle = {
      // q80 mirror: the identical Morton interleave, GENERATED from the same
      // (bits, cols) parameters so the two formulas cannot drift — bit i of
      // column j lands at position i*n + j
      val terms = (0 until 10).flatMap(i => Seq(
        s"(((zx >> $i) & 1) << ${2 * i})",
        s"(((zy >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH b AS (
         |  SELECT l_orderkey, l_linenumber,
         |    l_partkey % 1024 AS zx, l_suppkey % 1024 AS zy
         |  FROM lineitem
         |)
         |SELECT l_orderkey, l_linenumber, zx, zy, ($terms) AS z
         |FROM b ORDER BY z, l_orderkey, l_linenumber LIMIT 100""".stripMargin
    }),

    // The full Z-order layout CYCLE driver-graded: write lineitem z-ordered
    // on two dims of very different widths (x spans the full 0..1023,
    // y = suppkey%1024 only 0..#suppliers — ~100 at sf0.01), read the
    // footer min/max stats back DISTRIBUTED, and reduce to the clustering
    // diagnostic. The RANK path is load-bearing here: raw interleave gives
    // the narrow dim no high-bit discrimination (measured cf 0.79 — the
    // curve traverses its whole range inside every group), while
    // quantile-rank spreads it over the full bit space (cf ~0.1). Global
    // min/max per column are exact (the union of group ranges IS the
    // column range — DuckDB recomputes them from the data); the clustering
    // factors depend on sampled range/quantile boundaries, so they grade
    // as a contract verdict (both dims under 0.6 — at 16 KiB groups the
    // rank curve sits near sqrt(groupRows/total), 0.1–0.45 across SFs).
    Face("q81_layout_stats", (s, d) => {
      val L = graft.operators.Layout
      val dir = scratchDir("q81")
      val base = t(s, d, "lineitem").select(
        pmod(col("l_partkey").cast("long"), lit(1024L)).as("x"),
        pmod(col("l_suppkey").cast("long"), lit(1024L)).as("y"),
        col("l_orderkey"))
      // r18 (guide §2.5/§5): targetFiles was pinned at 4 — four tasks
      // sorted the whole table regardless of scale (the r15 sf10
      // pathology: 15M rows/sorter, 418 MB spill/lane, the 115 s wall).
      // r19 (verdict item 6): the count is DATA-derived — AutoFiles sizes
      // from the knownSize-guarded input estimate at the PRODUCTION
      // 128 MB block (sizingBlockBytes), so the file count scales with
      // table bytes (max(shuffle-parallelism floor, ceil(bytes/256 MB)):
      // both graded SFs sit at the floor — identical to the r18 explicit
      // value — and a 100 TB table derives ~400k files instead of
      // inheriting a machine constant). The 16 KiB blockBytes DEMO
      // geometry stays for the WRITE only — row-group size, not file
      // count, sets the pruning granularity, so the clustering-factor
      // contract and the exact global min/max are unchanged (oracle
      // re-proven hash-exact).
      L.writeZOrderedByRank(base, Seq("x", "y"), bits = 10, dir,
        targetFiles = L.AutoFiles,
        blockBytes = 16L << 10,
        sizingBlockBytes = 128L << 20)
      // persist the row-group-stats frame ONCE (ADVICE r13: it feeds two
      // plan branches — clusteringFactor + the gmin/gmax agg — which would
      // otherwise open and parse every parquet footer twice). PERSIST, not
      // localize (r18): the stats frame is row-group-count-sized, and the
      // 16 KiB demo geometry yields 176k rows at sf10 — past the 100k
      // driver guard that aborted this face's sf10 bench coverage (r17
      // verdict). The stats stay distributed; only the 2-row diagnostic
      // verdict localizes, which also lets the cache release before return.
      val stats = L.rowGroupStats(s, dir, Seq("x", "y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try
        localize(s, L.clusteringFactor(stats)
          .join(stats.groupBy(col("column")).agg(
            min(col("min_value")).as("gmin"), max(col("max_value")).as("gmax")),
            Seq("column"))
          .select(col("column").as("col_name"), col("gmin"), col("gmax"),
            (col("clustering_factor") < 0.6).as("clustered"))
          .orderBy(col("col_name")))
      finally stats.unpersist(blocking = true)
    }, oracle =
      // q81 mirror: the union of row-group ranges is the exact column range,
      // so DuckDB recomputes gmin/gmax from the data; the sampled-boundary-
      // dependent clustering factors grade as a TRUE contract verdict
      """SELECT 'x' AS col_name,
        |  CAST(min(l_partkey % 1024) AS DOUBLE) AS gmin,
        |  CAST(max(l_partkey % 1024) AS DOUBLE) AS gmax,
        |  TRUE AS clustered
        |FROM lineitem
        |UNION ALL
        |SELECT 'y',
        |  CAST(min(l_suppkey % 1024) AS DOUBLE),
        |  CAST(max(l_suppkey % 1024) AS DOUBLE),
        |  TRUE
        |FROM lineitem
        |ORDER BY col_name""".stripMargin),

    // §2.1/2.2 beyond-reference: ORC round-trip (write → scan vs the
    // parquet truth, the q56/q57/q58 pattern) — covers lakes already on
    // Spark's other native columnar format, with timestamps in the payload
    Face("q71_orc_roundtrip", (s, d) => {
      val dir = scratchDir("q71")
      val src = t(s, d, "events").filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.sources.IO.sinkOrc(src, dir)
      graft.sources.IO.scanOrc(s, dir).orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id, user_id, ts, value
        |FROM events WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin),

    // §2.4 at 100 TB: BUCKETED co-located fact-fact join. Both tables are
    // laid out once per (JVM, SF) as 8-bucket key-sorted tables (repartition
    // to one file per bucket first), after which the join plans as a
    // ZERO-EXCHANGE sort-merge join — the shuffle that dominates a 100 TB
    // fact-fact join is paid once at layout time and amortized over every
    // subsequent join (PlanSpec asserts the exchange-free shape).
    Face("q70_bucketed_join", (s, d) => {
      q70Join(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("rev"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .orderBy(col("o_orderpriority"))
    }, oracle =
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // §2.7 per-row list.sort (+ unique / join) — the fuzz-grammar-25
    // rendering promoted to a driver-graded row: sort_array/array_join vs
    // DuckDB list_sort/list_aggregate over the same split words.
    Face("q69_list_sort", (s, d) => {
      t(s, d, "part")
        .select(col("p_partkey"),
          split(col("p_name"), " ").list.sort(descending = true)
            .list.join("-").as("sorted_desc"),
          array_join(array_sort(array_distinct(split(col("p_name"), " "))), "|")
            .as("uniq_asc"))
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey,
        |  list_aggregate(list_sort(string_split(p_name, ' '), 'DESC'),
        |    'string_agg', '-') AS sorted_desc,
        |  list_aggregate(list_sort(list_distinct(string_split(p_name, ' ')), 'ASC'),
        |    'string_agg', '|') AS uniq_asc
        |FROM part ORDER BY p_partkey""".stripMargin),
  )
}
