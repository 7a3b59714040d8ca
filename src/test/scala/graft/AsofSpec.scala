package graft

import org.apache.spark.sql.functions._
import graft.operators.AsofJoin

/** As-of join golden tests on the reference's trades/quotes scenario
  * (FIXTURES.md F3; README.md:44-58; ComplexTests.fs:475). */
class AsofSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private lazy val trades = Seq(
    (ts("2024-01-01 10:00:03"), "A", 100.0),
    (ts("2024-01-01 10:00:05"), "A", 101.0),
    (ts("2024-01-01 10:00:05"), "B", 50.0),
    (ts("2024-01-01 09:59:00"), "B", 49.0))
    .toDF("time", "symbol", "price")

  private lazy val quotes = Seq(
    (ts("2024-01-01 10:00:01"), "A", 99.5),
    (ts("2024-01-01 10:00:04"), "A", 100.5),
    (ts("2024-01-01 10:00:05"), "B", 50.5),
    (ts("2024-01-01 10:00:10"), "A", 101.5))
    .toDF("time", "symbol", "bid")

  test("backward: most recent quote at-or-before each trade, by symbol") {
    val got = AsofJoin.join(trades, quotes, "time", "time", Seq(("symbol", "symbol")))
      .orderBy("symbol", "time").select("symbol", "price", "bid").collect()
    // order: A 10:00:03, A 10:00:05, B 09:59, B 10:00:05
    assert(got(0).getDouble(1) == 100.0 && got(0).getDouble(2) == 99.5)
    assert(got(1).getDouble(1) == 101.0 && got(1).getDouble(2) == 100.5)
    // B 09:59 has no quote <= it -> null; B 10:00:05 matches 50.5 (eq allowed)
    assert(got(2).getDouble(1) == 49.0 && got(2).isNullAt(2))
    assert(got(3).getDouble(1) == 50.0 && got(3).getDouble(2) == 50.5)
  }

  test("allowEq=false excludes equal timestamps") {
    val got = AsofJoin.join(trades, quotes, "time", "time", Seq(("symbol", "symbol")),
        allowEq = false)
      .orderBy("symbol", "time").select("symbol", "price", "bid").collect()
    // B 10:00:05 quote is at the same instant -> excluded -> null
    assert(got(3).getDouble(1) == 50.0 && got(3).isNullAt(2))
  }

  test("forward: earliest quote at-or-after") {
    val got = AsofJoin.join(trades, quotes, "time", "time", Seq(("symbol", "symbol")),
        strategy = AsofJoin.Forward)
      .orderBy("symbol", "time").select("symbol", "price", "bid").collect()
    // A 10:00:03 -> 10:00:04 quote (100.5); A 10:00:05 -> 10:00:10 (101.5)
    assert(got(0).getDouble(2) == 100.5)
    assert(got(1).getDouble(2) == 101.5)
    // B 09:59 -> 10:00:05 (50.5); B 10:00:05 -> same instant (eq allowed)
    assert(got(2).getDouble(2) == 50.5)
    assert(got(3).getDouble(2) == 50.5)
  }

  test("nearest picks closer side; tie goes backward") {
    val got = AsofJoin.join(trades, quotes, "time", "time", Seq(("symbol", "symbol")),
        strategy = AsofJoin.Nearest)
      .orderBy("symbol", "time").select("symbol", "price", "bid").collect()
    // A 10:00:03: backward 10:00:01 (2s), forward 10:00:04 (1s) -> forward 100.5
    assert(got(0).getDouble(2) == 100.5)
    // A 10:00:05: backward 10:00:04 (1s), forward 10:00:10 (5s) -> backward 100.5
    assert(got(1).getDouble(2) == 100.5)
    // B 09:59: only forward exists -> 50.5; B 10:00:05: backward at 0s -> 50.5
    assert(got(2).getDouble(2) == 50.5)
    assert(got(3).getDouble(2) == 50.5)
  }

  test("tolerance nulls matches farther than the bound") {
    val got = AsofJoin.join(trades, quotes, "time", "time", Seq(("symbol", "symbol")),
        tolerance = Some("2s"))
      .orderBy("symbol", "time").select("symbol", "price", "bid").collect()
    // A 10:00:03 matched 10:00:01 exactly 2s away -> kept (<=); B 09:59 null
    assert(got(0).getDouble(2) == 99.5)
    assert(got(2).isNullAt(2))
  }

  test("no by-groups: global as-of ordering") {
    val l = Seq((1L, 10L), (2L, 25L)).toDF("id", "t")
    val r = Seq((5L, 100.0), (20L, 200.0)).toDF("t", "v")
    val got = AsofJoin.join(
        l.select(col("id"), timestamp_micros(col("t")).as("t")),
        r.select(timestamp_micros(col("t")).as("t"), col("v")),
        "t", "t")
      .orderBy("id").select("v").collect()
    assert(got(0).getDouble(0) == 100.0 && got(1).getDouble(0) == 200.0)
  }

  // Unkeyed as-of must match the keyed plan's semantics while staying
  // parallel (lazy.rs:501-569 — no `by` is legal). Equivalence oracle: the
  // same join with a constant by-key takes the keyed single-group window
  // path; results must be identical row-for-row across the full strategy ×
  // allowEq × tolerance matrix, on data wide enough to span many range
  // partitions (boundary-carry rows exercised).
  test("unkeyed as-of matches constant-key as-of across strategies (boundary carry)") {
    val l = (0 until 4000).map(i => (i.toLong, i.toLong * 7 + 3)).toDF("id", "tl")
      .select(col("id"), timestamp_micros(col("tl")).as("t"), lit(1).as("k"))
    val r = (0 until 1500).map(i => (i.toLong * 17 + 5, i.toDouble)).toDF("tr", "v")
      .select(timestamp_micros(col("tr")).as("t"), col("v"), lit(1).as("k"))
    for {
      strat <- Seq(AsofJoin.Backward, AsofJoin.Forward, AsofJoin.Nearest)
      eq <- Seq(true, false)
      tol <- Seq(None, Some("40us"))
    } {
      val unkeyed = AsofJoin.join(l.drop("k"), r.drop("k"), "t", "t",
          strategy = strat, allowEq = eq, tolerance = tol)
        .orderBy("id").select("id", "v").collect()
      val keyed = AsofJoin.join(l, r, "t", "t", by = Seq(("k", "k")),
          strategy = strat, allowEq = eq, tolerance = tol)
        .orderBy("id").select("id", "v").collect()
      assert(unkeyed.toSeq == keyed.toSeq, s"strategy=$strat allowEq=$eq tol=$tol")
    }
  }

  test("unkeyed as-of stays multi-partition (no global window collapse)") {
    val l = (0 until 4000).map(i => (i.toLong, i.toLong * 7 + 3)).toDF("id", "tl")
      .select(col("id"), timestamp_micros(col("tl")).as("t"))
    val r = (0 until 1500).map(i => (i.toLong * 17 + 5, i.toDouble)).toDF("tr", "v")
      .select(timestamp_micros(col("tr")).as("t"), col("v"))
    // AQE rightly coalesces a tiny shuffle to 1 partition; disable coalescing
    // so the assertion reflects what a real-size input would plan.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val joined = AsofJoin.join(l, r, "t", "t")
      assert(joined.rdd.getNumPartitions > 1,
        "unkeyed as-of must range-bucket, not collapse to one task")
      // r17: the exchange hash-partitions on the VALUE-derived RangeId
      // bucket, which every plan subtree computes identically
      assert(joined.queryExecution.executedPlan.toString.contains("hashpartitioning(__pid"),
        "expected the RangeId bucket exchange in the unkeyed as-of plan")
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
  }

  /** Seeded generated data with heavy left/right timestamp ties, compared
    * against an in-memory O(n^2)-style reference across strategies ×
    * allow_eq × tolerance — catches semantic drift the fixed golden
    * scenarios and the (tie-deduped) oracle cannot. `unkeyed` joins
    * WITHOUT by-keys (one key in the pool), taking the bucketed carry path. */
  private def bruteForce(unkeyed: Boolean, label: String): Unit = {
    val rnd = new scala.util.Random(2024)
    val keyPool = if (unkeyed) Array("a") else Array("a", "b", "c")
    def tstamp(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    for (trial <- 1 to 2) {
      val leftRows = (1 to 40).map(i =>
        (i.toLong, keyPool(rnd.nextInt(keyPool.length)), 1000L + rnd.nextInt(120)))
      // right unique per (k, t) so the matched VALUE is unambiguous even
      // where the engine's intra-tie pick is arbitrary
      val rightRaw = (1 to 60).map(_ => (keyPool(rnd.nextInt(keyPool.length)), 1000L + rnd.nextInt(120)))
        .distinct.map { case (k, t) => (k, t, rnd.nextDouble()) }
      val left = leftRows.map { case (id, k, t) => (id, k, tstamp(t)) }.toDF("id", "k", "t")
      val right = rightRaw.map { case (k, t, v) => (k, tstamp(t), v) }.toDF("k", "t", "rv")
      val byKey: Map[String, Seq[(Long, Double)]] =
        rightRaw.groupBy(_._1).map { case (k, xs) => k -> xs.map(x => (x._2, x._3)).sortBy(_._1) }
      for {
        strat <- Seq(AsofJoin.Backward, AsofJoin.Forward, AsofJoin.Nearest)
        allowEq <- Seq(true, false)
        tolSec <- Seq(None, Some(30L))
      } {
        def expected(k: String, t: Long): Option[Double] = {
          val cands = byKey.getOrElse(k, Nil)
          val b = cands.filter(c => if (allowEq) c._1 <= t else c._1 < t).lastOption
            .filter(c => tolSec.forall(t - c._1 <= _))
          val f = cands.filter(c => if (allowEq) c._1 >= t else c._1 > t).headOption
            .filter(c => tolSec.forall(c._1 - t <= _))
          strat match {
            case AsofJoin.Backward => b.map(_._2)
            case AsofJoin.Forward => f.map(_._2)
            case AsofJoin.Nearest => (b, f) match {
              case (Some(bb), Some(ff)) =>
                Some(if (t - bb._1 <= ff._1 - t) bb._2 else ff._2) // tie -> backward
              case (x, y) => x.orElse(y).map(_._2)
            }
          }
        }
        val tol = tolSec.map(s => s"${s}s")
        val joined =
          if (unkeyed) AsofJoin.join(left.drop("k"), right.drop("k"), "t", "t",
            strategy = strat, tolerance = tol, allowEq = allowEq)
          else AsofJoin.join(left, right, "t", "t", Seq(("k", "k")),
            strategy = strat, tolerance = tol, allowEq = allowEq)
        val got = joined.select(col("id"), col("rv")).collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
        leftRows.foreach { case (id, k, t) =>
          assert(got(id) == expected(k, t),
            s"$label trial=$trial strat=$strat allowEq=$allowEq tol=$tolSec id=$id k=$k t=$t: " +
              s"got=${got(id)} want=${expected(k, t)}")
        }
      }
    }
  }

  test("randomized brute-force equivalence: strategies x allow_eq x tolerance (seeded)") {
    bruteForce(unkeyed = false, "keyed")
  }

  test("randomized brute-force equivalence, unkeyed: bucket edges on tied times (3 and 7 shuffle partitions)") {
    // right rows are unique per timestamp and left/right times tie heavily,
    // so RangeId bucket edges land on tied times: the unkeyed carry must
    // match brute force with no boundary equality guard
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    for (parts <- Seq("3", "7")) {
      spark.conf.set(key, parts)
      try bruteForce(unkeyed = true, s"unkeyed partitions=$parts")
      finally spark.conf.set(key, saved)
    }
  }
}
