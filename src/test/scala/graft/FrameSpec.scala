package graft

import org.apache.spark.sql.functions._
import graft.api.frame._
import graft.api.syntax._

/** Frame-op tests mirroring the reference's DataFrameTests/LazyFrameTests
  * (fixtures F1/F6/F8), plus the driver tables. */
class FrameSpec extends SparkSpec {
  import spark.implicits._

  private lazy val people = Seq(
    ("Alice", 25L, 50000L, "eng"), ("Bob", 30L, 60000L, "eng"),
    ("Charlie", 35L, 70000L, "sales"), ("David", 40L, 80000L, "sales"))
    .toDF("name", "age", "salary", "department")

  test("filter+select basics: F1 golden (DataFrameTests.cs:8-48)") {
    val got = people.filter(col("age") > 30).select("name").as[String].collect().sorted
    assert(got.toSeq == Seq("Charlie", "David"))
  }

  test("README query: groupBy avg salary + len, sorted desc (README.md:20-38)") {
    val got = people.filter(col("age") > lit(18))
      .groupBy(col("department"))
      .agg(avg(col("salary")).as("avg_salary"), graft.api.syntax.len().as("count"))
      .orderBy(col("avg_salary").desc)
      .collect()
    assert(got(0).getString(0) == "sales" && got(0).getDouble(1) == 75000.0 && got(0).getLong(2) == 2L)
    assert(got(1).getString(0) == "eng" && got(1).getDouble(1) == 55000.0)
  }

  test("joinCoalesced keeps ONE key column and suffixes collisions (SURVEY 2.4)") {
    val l = Seq((1, "a", 10), (2, "b", 20)).toDF("id", "tag", "v")
    val r = Seq((1, "x", 77), (3, "y", 99)).toDF("rid", "tag", "w")
    val inner = l.joinCoalesced(r, Seq("id"), Seq("rid"), JoinHow.Inner)
    assert(inner.columns.toSeq == Seq("id", "tag", "v", "tag_right", "w"))
    assert(inner.count() == 1)
    val full = l.joinCoalesced(r, Seq("id"), Seq("rid"), JoinHow.Full)
    assert(full.columns.toSeq == Seq("id", "tag", "v", "tag_right", "w"))
    assert(full.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("concat vertical/diagonal/horizontal (lazy.rs:410-457)") {
    val a = Seq((1, "x")).toDF("id", "s")
    val b = Seq((2, "y")).toDF("id", "s")
    assert(a.concatVertical(b).count() == 2)
    val c = Seq((3, 1.5)).toDF("id", "f")
    val diag = a.concatDiagonal(c)
    assert(diag.columns.toSeq == Seq("id", "s", "f") && diag.count() == 2)
    val h = a.concatHorizontal(Seq(9.9).toDF("z"))
    assert(h.columns.toSeq == Seq("id", "s", "z"))
    val row = h.collect()(0)
    assert(row.getInt(0) == 1 && row.getDouble(2) == 9.9)
    // height mismatch (fallback index join): longer frame keeps its tail,
    // shorter side null-padded — Polars hstack behavior
    val long = Seq((1, "x"), (2, "y")).toDF("id", "s")
    val pad = long.concatHorizontal(Seq(7.7).toDF("z")).orderBy("id").collect()
    assert(pad.length == 2 && pad(0).getDouble(2) == 7.7 && pad(1).isNullAt(2))
    // an input already holding BOTH a colliding name and its _right variant
    // must still come out with all-unique columns
    val tricky = a.concatHorizontal(Seq((8, 9)).toDF("s", "s_right"))
    assert(tricky.columns.distinct.length == tricky.columns.length,
      tricky.columns.mkString(","))
  }

  test("concatHorizontal: shuffle-parent views take the order-exact fallback") {
    // two projections of an AGGREGATE share a plan, but the fast zip would
    // pair rows from two independent executions whose intra-partition order
    // after a shuffle is fetch-order-dependent — must use the index join
    val agg = sf("customer").groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("keysum"))
    assert(!graft.api.frame.partitionAligned(
      agg.select(col("c_mktsegment")), agg.select(col("n"))))
    val z = agg.select(col("c_mktsegment"), col("n")).concatHorizontal(agg.select(col("keysum")))
    // pairing must still be row-faithful whichever path ran
    val direct = agg.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    z.collect().foreach(r => assert(direct(r.getString(0)) == r.getLong(1)))
  }

  test("profile(): executes and returns per-node timings (Polars profile twin)") {
    val q = sf("lineitem").filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
    val (rows, timings) = graft.api.Profile.profile(q)
    assert(rows.nonEmpty)
    val t = timings.collect()
    assert(t.length >= 3, s"expected a multi-node profile, got:\n${t.mkString("\n")}")
    val names = t.map(_.getString(1))
    assert(names.exists(_.contains("HashAggregate")), names.mkString(","))
    assert(names.exists(_.toLowerCase.contains("scan")), names.mkString(","))
    // the agg's metered output rows reflect the actual group count
    val aggRows = t.filter(_.getString(1).contains("HashAggregate"))
      .flatMap(r => Option(r.get(2)).map(_.asInstanceOf[Long]))
    assert(aggRows.exists(_ >= rows.length), s"agg rows metered: ${aggRows.toSeq}")
  }

  test("explode + explodeOuter keep empty-list rows as null") {
    val df = Seq((1, Seq("a", "b")), (2, Seq.empty[String])).toDF("id", "xs")
    assert(df.explodeCol("xs").count() == 2)
    val outer = df.explodeOuter("xs")
    assert(outer.count() == 3)
    assert(outer.filter(col("id") === 2).collect()(0).isNullAt(1))
  }

  test("unnest flattens struct columns (eager.rs:707-731)") {
    val df = Seq((1, ("bob", 42))).toDF("id", "p")
      .select(col("id"), col("p._1").as("name"), col("p._2").as("age"))
      .select(col("id"), struct(col("name"), col("age")).as("profile"))
    val got = df.unnest("profile")
    assert(got.columns.toSeq == Seq("id", "name", "age"))
    assert(got.collect()(0).getString(1) == "bob")
  }

  test("pivot/unpivot round shape (eager.rs:553-661)") {
    val df = Seq(("a", "q1", 1.0), ("a", "q2", 2.0), ("b", "q1", 3.0))
      .toDF("id", "quarter", "v")
    val wide = df.pivotOn(Seq("id"), "quarter", "v", "sum").orderBy("id")
    assert(wide.columns.toSeq == Seq("id", "q1", "q2"))
    assert(wide.collect()(0).getDouble(1) == 1.0)
    val long = wide.unpivotOn(Seq("id"), Seq("q1", "q2"))
    assert(long.count() == 4) // includes b/q2 null
    // pinned column values: total schema (absent q3 present as nulls) and no
    // eager distinct-values scan
    val pinned = df.pivotOn(Seq("id"), "quarter", "v", "sum",
      columnValues = Seq("q1", "q2", "q3")).orderBy("id")
    assert(pinned.columns.toSeq == Seq("id", "q1", "q2", "q3"))
    assert(pinned.collect().forall(_.isNullAt(3)))
  }

  test("Categorical: dict-encode round-trips, codes dense+deterministic, joins broadcast") {
    val df = Seq((1L, "b"), (2L, "a"), (3L, "b"), (4L, null), (5L, "c"))
      .toDF("id", "cat")
    val (enc, dict) = graft.functions.Categorical.encode(df, "cat", "code")
    // dense 0-based codes in category sort order
    assert(dict.orderBy("code").collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("a", 0), ("b", 1), ("c", 2)))
    // null category -> null code; decode restores the original frame exactly
    assert(enc.filter(col("id") === 4L).collect()(0).isNullAt(enc.columns.indexOf("code")))
    val back = graft.functions.Categorical.decode(enc, dict, "code")
    assert(back.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet ==
      df.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet)
    // compute on codes == compute on strings
    val byCode = enc.groupBy("code").count()
    val decoded = graft.functions.Categorical.decode(byCode, dict, "code")
      .collect().map(r => Option(r.getString(1)).getOrElse("NULL") -> r.getLong(0)).toMap
    val byString = df.groupBy("cat").count()
      .collect().map(r => Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
    assert(decoded == byString)
    // the dictionary joins must broadcast (never shuffle the data side)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("dropNulls/rename/sample determinism") {
    val df = Seq[(java.lang.Integer, String)]((1, "a"), (null, "b")).toDF("x", "s")
    assert(df.dropNulls("x").count() == 1)
    assert(df.rename("x", "y").columns.contains("y"))
    val li = sf("lineitem")
    val s1 = li.sampleN(100, seed = 7).agg(sum("l_orderkey")).collect()(0).getLong(0)
    val s2 = li.sampleN(100, seed = 7).agg(sum("l_orderkey")).collect()(0).getLong(0)
    assert(s1 == s2)
    assert(li.sampleN(100, seed = 7).count() == 100)
  }

  test("describe produces the reference stat set (DataFrame.cs:665-727)") {
    val d = people.describeAll().collect()
    val stats = d.map(_.getString(0)).toSeq
    assert(stats == Seq("count", "null_count", "mean", "std", "min", "25%", "50%", "75%", "max"))
    val mean = d(2)
    assert(mean.getString(2).toDouble == 32.5) // mean age
  }

  test("SqlContext facade registers and queries (sql.rs:12-65)") {
    val ctx = graft.api.SqlContext(spark)
    ctx.register("people_t", people)
    val got = ctx.execute("SELECT count(*) AS n FROM people_t WHERE age > 30").collect()(0)
    assert(got.getLong(0) == 2L)
    ctx.unregister("people_t")
  }

  test("IO: csv/json round-trip with schema override (io.rs:16-155)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_io").toString
    graft.sources.IO.sinkCsv(people, s"$dir/people_csv")
    val back = graft.sources.IO.scanCsv(spark, s"$dir/people_csv")
    assert(back.count() == 4)
    assert(back.schema("age").dataType == org.apache.spark.sql.types.IntegerType ||
      back.schema("age").dataType == org.apache.spark.sql.types.LongType)
    graft.sources.IO.sinkJson(people, s"$dir/people_json")
    assert(graft.sources.IO.scanNdjson(spark, s"$dir/people_json").count() == 4)
  }

  test("explainPlan renders analyzed vs optimized plans (lazy.rs:605-613)") {
    import graft.api.frame._
    val q = people.filter(org.apache.spark.sql.functions.col("age") > 30).select("name")
    assert(q.explainPlan(optimized = false).contains("Filter"))
    // optimizer collapses to a pruned scan-level plan; rendering is non-empty
    // and distinct from the analyzed form
    assert(q.explainPlan().nonEmpty)
  }

  test("IO: Arrow IPC round-trip across the type matrix (io.rs:159-179, 308-319)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc").toString + "/t"
    val df = spark.range(0, 1000).select(
      col("id"),
      col("id").cast("int").as("i32"),
      col("id").cast("smallint").as("i16"),
      (col("id") * 1.5).cast("float").as("f32"),
      (col("id") * 2.5).as("f64"),
      concat(lit("s"), col("id")).as("s"),
      (col("id") % 2 === 0).as("b"),
      when(col("id") % 7 =!= 0, col("id") * 10).as("nullable_l"), // nulls
      to_date(lit("2024-03-01")).as("d"),
      timestamp_micros(col("id") * 1000000L + 123456L).as("ts"),
      col("id").cast("decimal(12,2)").as("dec"),
      array(col("id").cast("float"), col("id").cast("float") * 2f).as("vec"),
      encode(concat(lit("b"), col("id")), "UTF-8").as("bin"),
      (col("id") % 100).cast("tinyint").as("i8"),
      timestamp_micros(col("id") * 1000000L + 654321L).cast("timestamp_ntz").as("ntz"),
      array(concat(lit("t"), col("id")), lit(null).cast("string")).as("strs"))
      .repartition(4)
    graft.sources.ArrowIpc.write(df, dir, batchSize = 100)
    // the file's Arrow schema, field by field: what pyarrow / DuckDB and
    // readers of earlier files see
    locally {
      import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit}
      import org.apache.arrow.vector.types.pojo.ArrowType
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val ch = java.nio.file.Files.newByteChannel(java.nio.file.Path.of(s"$dir/part-00000.arrow"))
      val rdr = new org.apache.arrow.vector.ipc.ArrowFileReader(ch, alloc)
      val fields = try rdr.getVectorSchemaRoot.getSchema finally { rdr.close(); ch.close(); alloc.close() }
      assert(fields.findField("ts").getType == new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))
      assert(fields.findField("ntz").getType == new ArrowType.Timestamp(TimeUnit.MICROSECOND, null))
      assert(fields.findField("dec").getType == new ArrowType.Decimal(12, 2, 128))
      val vec = fields.findField("vec")
      assert(vec.getType == ArrowType.List.INSTANCE && vec.getChildren.size == 1)
      assert(vec.getChildren.get(0).getName == "element" &&
        vec.getChildren.get(0).getType == new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
    }
    // 4 partitions x ceil(250/100) batches = 12 parallel read tasks
    val back = graft.sources.ArrowIpc.read(spark, dir)
    assert(back.schema == df.schema ||
      back.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)),
      s"schema mismatch:\n${back.schema}\n${df.schema}")
    assert(back.count() == 1000)
    val a = df.orderBy("id").collect()
    val b = back.orderBy("id").collect()
    assert(a.zip(b).forall { case (x, y) => x == y }, s"first diff: ${a.zip(b).find { case (x, y) => x != y }}")
    // empty frame round-trips schema
    val edir = java.nio.file.Files.createTempDirectory("graft_ipc_e").toString + "/e"
    graft.sources.ArrowIpc.write(df.filter(lit(false)), edir)
    val eback = graft.sources.ArrowIpc.read(spark, edir)
    assert(eback.count() == 0 && eback.schema.fieldNames.sameElements(df.schema.fieldNames))
  }

  test("IO: in-memory Arrow stream export/import across the type matrix (io.rs:351-389)") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 500).select(
      col("id"),
      col("id").cast("int").as("i32"),
      (col("id") * 1.5).cast("float").as("f32"),
      (col("id") * 2.5).as("f64"),
      concat(lit("s"), col("id")).as("s"),
      (col("id") % 2 === 0).as("b"),
      when(col("id") % 7 =!= 0, col("id") * 10).as("nullable_l"),
      to_date(lit("2024-03-01")).as("d"),
      timestamp_micros(col("id") * 1000000L + 123456L).as("ts"),
      col("id").cast("decimal(12,2)").as("dec"),
      array(col("id").cast("float"), col("id").cast("float") * 2f).as("vec"),
      encode(concat(lit("b"), col("id")), "UTF-8").as("bin"),
      (col("id") % 100).cast("tinyint").as("i8"),
      timestamp_micros(col("id") * 1000000L + 654321L).cast("timestamp_ntz").as("ntz"),
      array(concat(lit("t"), col("id")), lit(null).cast("string")).as("strs"))
    val bytes = graft.sources.ArrowIpc.toArrowStreamBytes(df, batchSize = 128)
    // the handoff is a standard Arrow IPC stream: an independent arrow-java
    // reader (not our import path) must see schema + batched rows
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    var rows = 0L; var batches = 0
    while (rdr.loadNextBatch()) { rows += rdr.getVectorSchemaRoot.getRowCount; batches += 1 }
    assert(rdr.getVectorSchemaRoot.getSchema.getFields.size() == df.schema.size)
    rdr.close(); alloc.close()
    assert(rows == 500 && batches >= 4, s"rows=$rows batches=$batches")
    // and our own import path round-trips values exactly
    val back = graft.sources.ArrowIpc.fromArrowStreamBytes(spark, bytes)
    assert(back.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)),
      s"schema mismatch:\n${back.schema}\n${df.schema}")
    val a = df.orderBy("id").collect()
    val b = back.orderBy("id").collect()
    assert(a.zip(b).forall { case (x, y) => x == y },
      s"first diff: ${a.zip(b).find { case (x, y) => x != y }}")
    // empty frame still hands off its schema
    val ebytes = graft.sources.ArrowIpc.toArrowStreamBytes(df.filter(lit(false)))
    val eback = graft.sources.ArrowIpc.fromArrowStreamBytes(spark, ebytes)
    assert(eback.count() == 0 && eback.schema.fieldNames.sameElements(df.schema.fieldNames))
  }

  test("IO: Arrow stream import is a sized LocalRelation; export runs as one SQL execution") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.QueryExecution
    val df = spark.range(0, 50).select(col("id"), concat(lit("s"), col("id")).as("s"))
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = names.add(funcName)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val bytes = try {
      val b = graft.sources.ArrowIpc.toArrowStreamBytes(df)
      // listener callbacks arrive asynchronously on the listener bus
      val deadline = System.nanoTime() + 10000000000L
      while (!names.contains("toArrowStreamBytes") && System.nanoTime() < deadline) Thread.sleep(20)
      b
    } finally spark.listenerManager.unregister(listener)
    assert(names.contains("toArrowStreamBytes"), s"listener saw: $names")
    // an imported frame keeps its real size, so a join against it can
    // broadcast (an RDD scan would report spark.sql.defaultSizeInBytes)
    val back = graft.sources.ArrowIpc.fromArrowStreamBytes(spark, bytes)
    assert(back.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r }.size == 1)
    val size = back.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < 1000000, s"sizeInBytes=$size")
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("IO: csv skip_rows drops physical lines before the header, no global window") {
    val dir = java.nio.file.Files.createTempDirectory("graft_skip").toString
    // 2 junk preamble lines, then the REAL header, then 5000 rows — enough
    // that a single-partition plan would be visible in the plan shape
    val body = (1 to 5000).map(i => s"$i,v$i").mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$dir/f.csv"),
      s"junk preamble\n# another comment line\nid,name\n$body\n")
    val df = graft.sources.IO.scanCsv(spark, s"$dir/f.csv", skipRows = 2)
    assert(df.columns.toSeq == Seq("id", "name"), "header must be the line AFTER the skipped ones")
    assert(df.count() == 5000)
    val got = df.orderBy("id").head()
    assert(got.getInt(0) == 1 && got.getString(1) == "v1") // inferSchema saw ints
    assert(!df.queryExecution.executedPlan.toString.contains("Window"),
      "skip_rows must not plan a global window")
  }
}
