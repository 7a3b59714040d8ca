package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Frame-level operations mirroring the reference's DataFrame/LazyFrame
  * surface (reference: native_shim/src/{lazy,eager}.rs; Polars.CSharp/
  * {DataFrame,LazyFrame}.cs).
  *
  * The reference keeps separate eager/lazy types but eager ops are literally
  * `clone().lazy().op().collect()` (eager.rs:35-56); Spark DataFrames are lazy
  * plans already, so ONE type covers both — `collect()`/`show()`/`write` are
  * the actions. Import `graft.api.frame._`.
  */
object frame {

  /** Polars join-type codes (reference utils.rs:98-107; C# Enums.cs:8-11). */
  object JoinHow {
    val Inner = "inner"; val Left = "left"; val Full = "full"
    val Cross = "cross"; val Semi = "left_semi"; val Anti = "left_anti"
  }

  implicit class GraftFrame(val df: DataFrame) extends AnyVal {

    // ----- projection / row ops (lazy.rs:84-94; eager.rs:88-93,278-326) -----

    def withColumnsMap(cols: Map[String, Column]): DataFrame = df.withColumns(cols)

    /** tail(n) without a full sort: Spark Dataset.tail is driver-side; for a
      * distributed plan we expose it only as an action (lazy.rs:94). */
    def tailRows(n: Int): Array[org.apache.spark.sql.Row] = df.tail(n)

    /** drop_nulls(subset) — eager.rs:306-326. */
    def dropNulls(subset: String*): DataFrame =
      if (subset.isEmpty) df.na.drop() else df.na.drop(subset)

    /** rename — eager.rs:291-304. */
    def rename(oldName: String, newName: String): DataFrame =
      df.withColumnRenamed(oldName, newName)

    /** sample fraction w/ seed — eager.rs:347-369. */
    def sampleFrac(frac: Double, withReplacement: Boolean = false, seed: Long = 42L): DataFrame =
      df.sample(withReplacement, frac, seed)

    /** sample exactly n rows (reference computes height*frac rows; exact-n via
      * sort on a seeded hash so the choice is deterministic and distributed —
      * no driver-side materialization). */
    def sampleN(n: Int, seed: Long = 42L): DataFrame = {
      val cols = df.columns.map(col).toSeq
      df.withColumn("__rand", xxhash64(struct(cols: _*), lit(seed)))
        .orderBy(col("__rand")).limit(n).drop("__rand")
    }

    /** unique / distinct (reference: SQL-only `SELECT DISTINCT`; SURVEY §2.3). */
    def unique(): DataFrame = df.distinct()
    def unique(subset: Seq[String]): DataFrame = df.dropDuplicates(subset)

    // ----- explode / unnest (lazy.rs:275-309; eager.rs:510-549,707-731) -----

    /** explode one list column in place, keeping all other columns. */
    def explodeCol(name: String): DataFrame =
      df.withColumn(name, explode(col(name)))

    /** explode keeping rows whose list is null/empty (Polars yields null row). */
    def explodeOuter(name: String): DataFrame =
      df.withColumn(name, explode_outer(col(name)))

    /** unnest struct columns → top-level columns (eager.rs:707-731). */
    def unnest(structCols: String*): DataFrame = {
      val out = df.schema.fields.flatMap { f =>
        if (structCols.contains(f.name)) f.dataType match {
          case st: StructType =>
            st.fieldNames.map(n => col(s"${f.name}.$n").as(n)).toSeq
          case _ => Seq(col(f.name))
        } else Seq(col(f.name))
      }
      df.select(out.toIndexedSeq: _*)
    }

    // ----- selector-powered selection (SURVEY §2.12) -----

    def selectSel(sel: Selector): DataFrame =
      df.select(sel.resolve(df.schema).map(col).toIndexedSeq: _*)

    // ----- sorts (lazy.rs:99-164) -----

    /** multi-sort with per-key descending flags; nulls last = Polars default
      * SortOptions (SURVEY §2.7). */
    def sortBy(keys: Seq[(String, Boolean)]): DataFrame =
      df.orderBy(keys.map { case (k, desc) =>
        if (desc) col(k).desc_nulls_last else col(k).asc_nulls_last
      }.toIndexedSeq: _*)

    def topK(k: Int, byCol: String, descending: Boolean = true): DataFrame =
      df.orderBy(if (descending) col(byCol).desc_nulls_last else col(byCol).asc_nulls_last).limit(k)

    // ----- joins (lazy.rs:462-488; utils.rs:98-107) -----

    /** Equi-join with Polars key-coalescing semantics: the join keys appear
      * ONCE in the output (left's values; for full joins coalesce(l,r)), and
      * right-side non-key name collisions get the "_right" suffix — matching
      * Polars' default join output (SURVEY §2.4).
      */
    def joinCoalesced(right: DataFrame, leftOn: Seq[String], rightOn: Seq[String],
                      how: String): DataFrame = {
      require(leftOn.length == rightOn.length, "leftOn/rightOn length mismatch")
      how match {
        case JoinHow.Cross => crossJoinSuffixed(right)
        case JoinHow.Semi | JoinHow.Anti =>
          val cond = joinCond(df, right, leftOn, rightOn)
          df.join(right, cond, how)
        case _ =>
          val l = df.alias("__l"); val r = right.alias("__r")
          val cond = leftOn.zip(rightOn).map { case (lk, rk) =>
            col(s"__l.$lk") === col(s"__r.$rk")
          }.reduce(_ && _)
          val joined = l.join(r, cond, how)
          val rightKeySet = rightOn.toSet
          val leftNames = df.columns.toSet
          val keyCols: Seq[Column] = leftOn.zip(rightOn).map { case (lk, rk) =>
            if (how == JoinHow.Full) coalesce(col(s"__l.$lk"), col(s"__r.$rk")).as(lk)
            else col(s"__l.$lk").as(lk)
          }
          val leftRest = df.columns.filterNot(leftOn.contains)
            .map(n => col(s"__l.$n").as(n)).toSeq
          val rightRest = right.columns.filterNot(rightKeySet.contains).map { n =>
            val outName = if (leftNames.contains(n)) s"${n}_right" else n
            col(s"__r.$n").as(outName)
          }.toSeq
          // preserve left column order, then right extras — Polars layout
          val ordered = df.columns.map { n =>
            if (leftOn.contains(n)) keyCols(leftOn.indexOf(n))
            else col(s"__l.$n").as(n)
          }.toSeq ++ rightRest
          joined.select(ordered.toIndexedSeq: _*)
      }
    }

    private def crossJoinSuffixed(right: DataFrame): DataFrame = {
      val leftNames = df.columns.toSet
      val r2 = right.columns.foldLeft(right) { (acc, n) =>
        if (leftNames.contains(n)) acc.withColumnRenamed(n, s"${n}_right") else acc
      }
      df.crossJoin(r2)
    }

    // ----- concat (lazy.rs:410-457; eager.rs:665-703) -----

    /** Vertical concat — schemas must match (UnionArgs default). */
    def concatVertical(others: DataFrame*): DataFrame =
      others.foldLeft(df)(_ unionAll _)

    /** Diagonal concat — align by name, null-fill missing (lazy.rs:450). */
    def concatDiagonal(others: DataFrame*): DataFrame =
      others.foldLeft(df)(_.unionByName(_, allowMissingColumns = true))

    /** Horizontal concat — zip frames row-by-row (lazy.rs:447).
      *
      * No Spark primitive. Two plans:
      *
      *   - FAST PATH (co-partitioned): when both inputs are projection-only
      *     views of the same underlying plan — the common case, e.g. zipping
      *     two column subsets of one parent — their partitions line up
      *     one-to-one and `zipPartitions` merges them in a single narrow
      *     pass: no extra job, no shuffle, no row index.
      *   - FALLBACK (unaligned): a join on a per-partition-computed global
      *     row index. zipWithIndex needs one extra pass per input plus the
      *     final index shuffle, but it is the only correct plan when the
      *     inputs have genuinely different row orders (e.g. two different
      *     sorts), since positional identity then only exists globally.
      */
    def concatHorizontal(others: DataFrame*): DataFrame = {
      // resolve name collisions up front: each colliding column takes the
      // first "_right"-suffixed name that is free in BOTH the output so far
      // and the input's own not-yet-visited columns, applied positionally via
      // toDF (withColumnRenamed would rename every same-named attribute), so
      // no input combination can yield duplicate output columns
      val renamedOthers = others.foldLeft((Vector.empty[DataFrame], collection.mutable.Set(df.columns: _*))) {
        case ((acc, used), o) =>
          val pending = collection.mutable.Set(o.columns: _*)
          val newNames = o.columns.map { n =>
            pending -= n
            val target =
              if (!used.contains(n)) n
              else {
                var nn = s"${n}_right"
                while (used.contains(nn) || pending.contains(nn)) nn = s"${nn}_right"
                nn
              }
            used += target
            target
          }
          (acc :+ o.toDF(newNames.toIndexedSeq: _*), used)
      }._1
      // the plan choice is all-or-nothing: once any input is unaligned, every
      // frame must carry the SAME global index or 3-way pairing breaks
      if (renamedOthers.forall(o => frame.partitionAligned(df, o)))
        // zipAligned preserves df's partition structure, so alignment with df
        // carries through the fold without re-checking
        renamedOthers.foldLeft(df)(frame.zipAligned)
      else
        renamedOthers.foldLeft(frame.withRowIndex(df)) { (acc, o) =>
          acc.join(frame.withRowIndex(o), Seq("__idx"), "full")
        }.drop("__idx")
    }

    // ----- reshape (eager.rs:553-661; lazy.rs:345-406) -----

    /** pivot (eager-only in the reference because the output schema depends on
      * the data — same in Spark: groupBy().pivot() triggers a values scan).
      * agg ∈ {first,sum,min,max,mean,median,count,len,last} (eager.rs:579-589).
      * `columnValues`, when given, pins the output columns up front: a total
      * schema regardless of which values occur in the data, AND no eager
      * distinct-values job (the scale path for pivots on known categories).
      * CAUTION: rows whose pivot value is NOT in the list are silently
      * dropped (Spark pivot semantics) — pin only closed domains. */
    def pivotOn(index: Seq[String], columns: String, values: String,
                aggName: String = "first",
                columnValues: Seq[Any] = Nil): DataFrame = {
      val v = col(values)
      val aggExpr = aggName match {
        case "first" => first(v, ignoreNulls = false)
        case "last" => last(v, ignoreNulls = false)
        case "sum" => sum(v)
        case "min" => min(v)
        case "max" => max(v)
        case "mean" => avg(v)
        case "median" => median(v)
        case "count" => count(v)
        case "len" => count(lit(1))
        case other => throw new IllegalArgumentException(s"bad pivot agg: $other")
      }
      val grouped = df.groupBy(index.map(col).toIndexedSeq: _*)
      val pivoted =
        if (columnValues.nonEmpty) grouped.pivot(columns, columnValues)
        else grouped.pivot(columns)
      pivoted.agg(aggExpr)
    }

    /** unpivot/melt; empty `on` = all non-index columns (lazy.rs:374-379). */
    def unpivotOn(index: Seq[String], on: Seq[String],
                  variableName: String = "variable",
                  valueName: String = "value"): DataFrame = {
      val onCols = if (on.nonEmpty) on else df.columns.toSeq.filterNot(index.contains)
      df.unpivot(index.map(col).toArray, onCols.map(col).toArray, variableName, valueName)
    }

    // ----- struct schema ops (expr.rs:932-982) -----

    /** field_by_index — resolves the field name from the frame's schema. */
    def structFieldByIndex(structCol: String, idx: Int): Column = {
      val st = df.schema(structCol).dataType.asInstanceOf[StructType]
      col(structCol).getField(st.fieldNames(idx))
    }

    /** rename_fields — rebuild the struct with new field names (positional). */
    def renameStructFields(structCol: String, newNames: String*): DataFrame = {
      val st = df.schema(structCol).dataType.asInstanceOf[StructType]
      require(newNames.length == st.fields.length,
        s"expected ${st.fields.length} names, got ${newNames.length}")
      val rebuilt = struct(st.fieldNames.zip(newNames).map { case (old, nw) =>
        col(structCol).getField(old).as(nw)
      }.toIndexedSeq: _*)
      df.withColumn(structCol, rebuilt)
    }

    // ----- metadata / describe (SURVEY §2.15) -----

    def height: Long = df.count()
    def width: Int = df.columns.length

    /** Plan rendering — pl_lazy_explain(optimized) (lazy.rs:605-613):
      * optimized=false shows the declared (analyzed) plan, true the
      * Catalyst-optimized one. */
    def explainPlan(optimized: Boolean = true): String =
      if (optimized) df.queryExecution.optimizedPlan.toString
      else df.queryExecution.analyzed.toString

    /** Eager cell access — pl_dataframe_get_i64/f64/string
      * (eager.rs:386-500; ScalarTests.cs direct scalar access). Positional on
      * the frame's current order (deterministic after a sort, like the
      * reference's materialized frames); None when out of range or null.
      * Driver-side by contract — this is the eager escape hatch, not a
      * distributed op. */
    def valueAt(row: Int, colName: String): Option[Any] = {
      val rows = df.select(org.apache.spark.sql.functions.col(colName)).limit(row + 1).collect()
      if (rows.length <= row || rows(row).isNullAt(0)) None else Some(rows(row).get(0))
    }

    /** Notebook HTML rendering — twin of the reference's `ToHtml`
      * (Polars.CSharp/DataFrame.cs:1005-1085): styled table, header cells
      * carrying name + dtype, `null` styled distinctly, cells HTML-escaped
      * and truncated at 50 chars, footer with the hidden-row count. Eager
      * display helper by contract: collects `limit` rows (+1 probe row;
      * the exact hidden count runs one count job only when truncated). */
    def toHtml(limit: Int = 10): String = {
      require(limit >= 0, s"limit must be >= 0, got $limit")
      def esc(s: String): String = s
        .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace("\"", "&quot;").replace("'", "&#39;")
      val rows = df.limit(limit + 1).collect()
      val shown = rows.take(limit)
      val sb = new StringBuilder
      sb.append(
        """<style>
          |.gr-dataframe { font-family: sans-serif; border-collapse: collapse; width: auto; }
          |.gr-dataframe th { background-color: #f0f0f0; color: #333; font-weight: bold; text-align: left; padding: 8px; border-bottom: 2px solid #ddd; }
          |.gr-dataframe td { padding: 8px; border-bottom: 1px solid #ddd; text-align: left; color: #444; }
          |.gr-dtype { font-size: 0.8em; color: #888; display: block; font-weight: normal; }
          |.gr-null { color: #d66; font-style: italic; }
          |.gr-dim { font-size: 0.8em; color: #666; margin-top: 5px; }
          |</style>""".stripMargin)
      sb.append("<table class='gr-dataframe'><thead><tr>")
      df.schema.fields.foreach { f =>
        sb.append(s"<th>${esc(f.name)}<span class='gr-dtype'>${esc(f.dataType.simpleString)}</span></th>")
      }
      sb.append("</tr></thead><tbody>")
      shown.foreach { row =>
        sb.append("<tr>")
        row.toSeq.foreach {
          case null => sb.append("<td class='gr-null'>null</td>")
          case v =>
            val s0 = v match {
              case d: Double => "%.6g".format(d)
              case x => String.valueOf(x)
            }
            val s = if (s0.length > 50) s0.substring(0, 47) + "..." else s0
            sb.append(s"<td>${esc(s)}</td>")
        }
        sb.append("</tr>")
      }
      sb.append("</tbody></table>")
      if (rows.length > limit) {
        val hidden = df.count() - shown.length
        sb.append(s"<div class='gr-dim'>... and $hidden more rows.</div>")
      }
      sb.toString
    }

    /** describe(): count, null_count, mean, std, min, 25%, 50%, 75%, max —
      * the reference composes this client-side from Select/Concat
      * (DataFrame.cs:665-727); we compose one distributed aggregation.
      * Quantiles use "nearest" interpolation like the reference. */
    def describeAll(): DataFrame = {
      val spark = df.sparkSession
      val numCols = df.schema.fields.filter(_.dataType.isInstanceOf[NumericType]).map(_.name)
      val stats = Seq("count", "null_count", "mean", "std", "min", "25%", "50%", "75%", "max")
      val aggs: Seq[Column] = df.columns.toSeq.flatMap { n =>
        val c = col(n)
        val isNum = numCols.contains(n)
        def s(x: Column) = if (isNum) x.cast("string") else lit(null).cast("string")
        Seq(
          count(c).cast("string").as(s"${n}__count"),
          sum(when(c.isNull, 1).otherwise(0)).cast("string").as(s"${n}__null_count"),
          s(avg(c)).as(s"${n}__mean"),
          s(stddev_samp(c)).as(s"${n}__std"),
          min(c).cast("string").as(s"${n}__min"),
          // exact nearest-interpolation quantiles — the reference's
          // Describe() uses "nearest" (DataFrame.cs:686-688)
          s(graft.functions.Quantiles.quantile(c, 0.25, graft.functions.Quantiles.Nearest)).as(s"${n}__p25"),
          s(graft.functions.Quantiles.quantile(c, 0.5, graft.functions.Quantiles.Nearest)).as(s"${n}__p50"),
          s(graft.functions.Quantiles.quantile(c, 0.75, graft.functions.Quantiles.Nearest)).as(s"${n}__p75"),
          max(c).cast("string").as(s"${n}__max"))
      }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val out = stats.zipWithIndex.map { case (st, i) =>
        org.apache.spark.sql.Row.fromSeq(st +: df.columns.indices.map(j => row.getString(j * 9 + i)))
      }
      val schema = StructType(StructField("statistic", StringType) +:
        df.columns.map(n => StructField(n, StringType)))
      spark.createDataFrame(spark.sparkContext.parallelize(out.toIndexedSeq), schema)
    }
  }

  private def joinCond(l: DataFrame, r: DataFrame, leftOn: Seq[String], rightOn: Seq[String]): Column =
    leftOn.zip(rightOn).map { case (lk, rk) => l(lk) === r(rk) }.reduce(_ && _)

  // ----- concatHorizontal internals -----

  /** True when both frames are projection-only views of the same plan AND
    * that plan replays with deterministic per-partition row order: strip
    * Project/SubqueryAlias layers (per-row, order-preserving — they cannot
    * change which row lands where) and compare what remains canonically.
    *
    * The remainder must additionally be a deterministic-replay chain
    * (Filter over a scan leaf): the two sides execute as INDEPENDENT
    * physical queries, so any node whose intra-partition order depends on
    * runtime fetch order — aggregates, joins, sorts-with-ties, anything
    * downstream of an exchange — could pair row i of one run with a
    * different row i of the other without tripping the length check. Those
    * parents (and any other node) take the index-join fallback, which is
    * order-exact by construction. The leaf-only rule also keeps the
    * partition-count probe job-free: scan chains carry no exchange, so
    * `toRdd` here only plans, never runs, stages. */
  private[graft] def partitionAligned(a: DataFrame, b: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => strip(child)
      case SubqueryAlias(_, child) => strip(child)
      case other => other
    }
    @annotation.tailrec
    def deterministicReplay(p: LogicalPlan): Boolean = p match {
      case Filter(cond, child) if cond.deterministic => deterministicReplay(child)
      // file/local/range scans replay partitions in identical order; NOT
      // LogicalRDD (can wrap shuffle lineage whose intra-partition order is
      // fetch-dependent) and NOT cached plans (evicted blocks recompute with
      // the same hazard) — those take the order-exact index-join fallback
      case _: LogicalRelation | _: DataSourceV2Relation | _: LocalRelation |
          _: Range => true
      case _ => false
    }
    val (sa, sb) = (strip(a.queryExecution.analyzed), strip(b.queryExecution.analyzed))
    sa.sameResult(sb) && deterministicReplay(sa) &&
      a.queryExecution.toRdd.getNumPartitions == b.queryExecution.toRdd.getNumPartitions
  }

  /** Narrow one-pass merge of co-partitioned frames: partition i of `a` zips
    * with partition i of `b` row-by-row — on SERIALIZED InternalRows
    * (`JoinedRow` over the two sides), never boxing into external Rows; the
    * result re-enters SQL as a LogicalRDD scan whose unsafe projection feeds
    * codegen. No shuffle, no extra job, no index. Guarded by
    * [[partitionAligned]]; a mid-partition length mismatch means the
    * alignment premise broke, so fail loudly rather than mis-zip. */
  private[api] def zipAligned(a: DataFrame, b: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.InternalBridge
    val schema = StructType(a.schema.fields ++ b.schema.fields)
    val zipped = InternalBridge.toInternalRdd(a)
      .zipPartitions(InternalBridge.toInternalRdd(b)) { (ia, ib) =>
        val jr = new org.apache.spark.sql.catalyst.expressions.JoinedRow
        new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
          def hasNext: Boolean = ia.hasNext || ib.hasNext
          def next(): org.apache.spark.sql.catalyst.InternalRow = {
            if (!ia.hasNext || !ib.hasNext)
              throw new IllegalStateException(
                "concatHorizontal fast path: per-partition row counts diverged")
            jr(ia.next(), ib.next())
          }
        }
      }
    InternalBridge.fromInternalRdd(a.sparkSession, zipped, schema)
  }

  /** Stable global row index without collapsing to one partition:
    * zipWithIndex computes per-partition offsets with one lightweight
    * count-per-partition job, preserving partition-parallelism. */
  private[api] def withRowIndex(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    val schema = StructType(StructField("__idx", LongType, nullable = false) +: d.schema.fields)
    val rdd = d.rdd.zipWithIndex.map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(i +: row.toSeq)
    }
    spark.createDataFrame(rdd, schema)
  }
}
