package graft

import java.nio.file.Files
import java.time.LocalDate
import graft.app.EtlEltWine
import graft.flow.Pipeline._
import graft.sources.TableStore
import org.apache.spark.sql.functions.col

/** End-to-end recomposition of the reference's DAGs (SURVEY §3):
  * ETL + ELT + dataset-triggered downstream chart, including W10
  * idempotency (rerun must not duplicate rows). */
class EtlEltWineSpec extends SparkSpec {

  def freshApp(): EtlEltWine = {
    val dir = Files.createTempDirectory("graft_store_").toString
    new EtlEltWine(spark, new TableStore(spark, dir))
  }

  val monday = RunConfig(clock = () => LocalDate.of(2026, 8, 10))
  val sunday = RunConfig(clock = () => LocalDate.of(2026, 8, 9))

  /** A source in the reference file's dialect (`;`-separated, header
    * row) written to a temp dir; returns its path. */
  def wineCsv(rows: Seq[(Double, Int)]): String = {
    val header = graft.model.Schemas.wineRaw.fieldNames.mkString(";")
    val lines = rows.zipWithIndex.map { case ((alcohol, quality), i) =>
      Seq(6.0 + i % 10 * 0.1, 0.2 + i % 7 * 0.01, 0.3, 1.0 + i % 13,
        0.04, 30.0 + i % 11, 100.0 + i * 7 % 60, 0.99, 3.1 + i % 5 * 0.02,
        0.5, alcohol).map(v => f"$v%.3f".replace(',', '.')).mkString(";") +
        s";$quality"
    }
    val f = Files.createTempDirectory("graft_wine_src_").resolve("wine.csv")
    Files.write(f, (header +: lines).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f.toString
  }

  /** 600 rows, quality 5..9 round-robin (3 in 5 reach the threshold 7,
    * enough for the ML branch), alcohol spread over the chart grid. */
  val syntheticRows: Seq[(Double, Int)] =
    (0 until 600).map(i => (8.0 + i * 37 % 63 / 10.0, 5 + i % 5))

  def syntheticApp(src: String,
                   root: String = Files.createTempDirectory("graft_store_").toString)
      : EtlEltWine =
    new EtlEltWine(spark, new TableStore(spark, root), src)

  // the model-selection seed that picks linear_poly2 alone: the grid's GBT
  // candidates would cost most of the test's time
  val fastModel = 104L

  test("ETL loads 1,060 filtered rows; both datasets trigger downstream") {
    val app = freshApp()
    val (etl, down) = app.runAll(sunday) // Sunday → report branch (fast)
    assert(etl.succeeded("load_duckdb"))
    assert(etl.value[Map[String, Long]]("load_duckdb")("row_count") === 1060L)
    assert(etl.value[Map[String, Long]]("load_postgres")("row_count") === 4898L)
    // branch: Sunday → print_report, ml skipped (reference weekday<=5 logic)
    assert(etl.succeeded("print_report"))
    assert(etl.outcomes("ml_train") === Skipped)
    // W4: both datasets updated → downstream fired
    assert(down.isDefined)
    val d = down.get
    // Sunday weekday=6 → duckdb extract branch
    assert(d.succeeded("extract_duckdb"))
    assert(d.outcomes("extract_pg") === Skipped)
    assert(d.value[Map[String, Long]]("chart_kde")("row_count") === 1060L)
    // KDE table: 3 classes × 14 grid points
    assert(app.store.read("kde_chart").count() === 42L)
  }

  test("W10: rerunning the ETL is idempotent (keyed append ignores dups)") {
    val app = freshApp()
    app.runAll(sunday)
    val (etl2, _) = app.runAll(sunday)
    assert(etl2.value[Map[String, Long]]("load_duckdb")("row_count") === 1060L)
  }

  test("upsertKeyed replaces same-key rows and appends new keys") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_").toString
    val store = new graft.sources.TableStore(spark, dir)
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val n = store.upsertKeyed("t", "k", Seq((2L, "B"), (3L, "c")).toDF("k", "v"))
    assert(n === 3L)
    val rows = store.read("t").orderBy("k").as[(Long, String)].collect().toSeq
    assert(rows === Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("compact merges accumulated small files, preserving rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_").toString
    val store = new graft.sources.TableStore(spark, dir)
    store.overwrite("t", Seq((1L, "a")).toDF("k", "v"))
    (2L to 6L).foreach { i =>
      store.appendKeyed("t", "k", Seq((i, s"v$i")).toDF("k", "v"))
    }
    def nFiles = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/t"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val before = store.read("t").orderBy("k").as[(Long, String)].collect().toSeq
    assert(nFiles >= 6, s"expected one file per append, saw $nFiles")
    val n = store.compact("t")
    assert(n === 6L)
    assert(nFiles === 1, "compaction should leave a single data file")
    val after = store.read("t").orderBy("k").as[(Long, String)].collect().toSeq
    assert(after === before)
  }

  test("compact preserves nested partition layout (values byte-identical) " +
    "and refuses bucketed tables") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact2_").toString
    val store = new graft.sources.TableStore(spark, dir)
    // two partition levels; leading-zero values catch type-inference
    // round-trips (code=01 must NOT come back as code=1)
    store.overwritePartitioned("pt",
      Seq((1L, "01", "x"), (2L, "02", "y"), (3L, "01", "y"))
        .toDF("k", "code", "grp"), Seq("code", "grp"))
    store.compact("pt")
    def ls(rel: String): Seq[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$rel"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.contains("=")).toSeq.sorted
      } finally s.close()
    }
    assert(ls("pt") === Seq("code=01", "code=02"))
    assert(ls("pt/code=01") === Seq("grp=x", "grp=y"))
    assert(store.read("pt").count() === 3)
    store.overwriteBucketed("bt_compact", Seq((1L, "x")).toDF("k", "v"), "k", 4)
    try {
      val e = intercept[IllegalArgumentException](store.compact("bt_compact"))
      assert(e.getMessage.contains("bucketed"))
      // a DIFFERENT store whose same-named table is plain parquet must not
      // trip the guard (the catalog entry lives at another location)
      val dir2 = java.nio.file.Files.createTempDirectory("graft_compact3_").toString
      val store2 = new graft.sources.TableStore(spark, dir2)
      store2.overwrite("bt_compact", Seq((9L, "z")).toDF("k", "v"))
      assert(store2.compact("bt_compact") === 1L)
    } finally spark.sql("DROP TABLE IF EXISTS bt_compact")
  }

  test("appendKeyed releases its checkpoint blocks after the write") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val store = new graft.sources.TableStore(spark, dir)
    store.overwrite("t", Seq((1L, "a")).toDF("k", "v"))
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    (2L to 4L).foreach { i =>
      store.appendKeyed("t", "k", Seq((i, s"v$i")).toDF("k", "v"))
    }
    assert(persisted <= before,
      s"checkpoint blocks leaked: $before -> $persisted persistent RDDs")
  }

  test("partitioned store: writes partition dirs, reads prune at plan time") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_part_").toString
    val store = new graft.sources.TableStore(spark, dir)
    val n = store.overwritePartitioned("ev",
      env.events.withColumn("day", to_date(col("ts"))), Seq("day"))
    assert(n === env.events.count())
    // partition pruning visible in the scan: one day selected → the plan's
    // file index reports a partition filter, not a full scan + filter
    spark.catalog.clearCache()
    val q = store.read("ev").filter(col("day") === "2024-01-05")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"expected partition filter in plan:\n$plan")
    assert(q.count() > 0)
  }

  test("Observation metrics ride the load without a second scan " +
    "(the reference's XCom row_count, Spark-native)") {
    // the reference XComs {"row_count": n} after each load by re-counting;
    // observe() attaches the metrics to the write job itself — at 100 TB
    // a second count() pass over the loaded table is a real cost
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit, sum}
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_obs_").toString)
    val obs = Observation("load_metrics")
    val df = env.orders.observe(obs,
      count(lit(1)).as("row_count"),
      sum("o_totalprice").as("total_price"))
    store.overwrite("orders_observed", df)
    val m = obs.get
    assert(m("row_count") == env.orders.count())
    assert(m("total_price").asInstanceOf[Double] > 0)
  }

  test("format round trip: orc/csv/json overwrite + schema'd read-back ≡ parquet") {
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_fmt_").toString)
    val df = env.orders
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .limit(500)
    val want = df.collect().map(_.toString).sorted.toSeq
    for (fmt <- Seq("orc", "csv", "json")) {
      store.overwriteFormat(s"orders_$fmt", df, fmt)
      val back = store.readFormat(s"orders_$fmt", fmt, df.schema)
      assert(back.schema == df.schema, s"$fmt schema drift")
      assert(back.collect().map(_.toString).sorted.toSeq == want,
        s"$fmt round trip lost or altered rows")
    }
  }

  test("W3: expandPar runs the fan-out concurrently with ordered results") {
    import graft.flow.FanOut
    val out = FanOut.expandPar(Seq(3, 1, 2), parallelism = 3) { x =>
      Thread.sleep(x * 50L); x * 10
    }
    assert(out.flatMap(_.toOption) === Seq(30, 10, 20))
    val failing = FanOut.expandPar(Seq(1, 2))(x =>
      if (x == 2) throw new RuntimeException("boom") else x)
    assert(failing.head.isSuccess && failing(1).isFailure)
  }

  test("ELT in-store transform filters and projects") {
    val app = freshApp()
    val (etl, _) = app.runAll(sunday)
    val n = etl.value[Long]("transform_in_store")
    assert(n > 0 && n < 4898)
  }

  test("a synthetic Sunday and Monday: outcomes, counts, idempotent re-run, " +
    "and each day's Spark jobs stay within budget") {
    val src = wineCsv(syntheticRows)
    val app = syntheticApp(src)
    val filtered = syntheticRows.count(_._2 >= 7).toLong
    val sc = spark.sparkContext
    val ((sun, sunDown), sunJobs) = JobCounter(sc)(
      app.runAll(sunday.copy(seed = fastModel)))
    assert(sun.outcomes.values.forall(!_.isInstanceOf[Failed]), sun.outcomes)
    assert(sun.value[Map[String, Long]]("load_duckdb")("row_count") === filtered)
    assert(sun.value[Map[String, Long]]("load_postgres")("row_count") === 600L)
    assert(sun.value[Long]("print_report") === 3L) // classes 7, 8, 9
    assert(sun.outcomes("ml_train") === Skipped)
    assert(sun.value[Long]("transform_in_store") ===
      syntheticRows.indices.count(i => 100 + i * 7 % 60 < 125).toLong)
    val d = sunDown.get
    assert(d.succeeded("extract_duckdb") && d.outcomes("extract_pg") === Skipped)
    assert(d.value[Map[String, Long]]("chart_kde")("row_count") === filtered)
    assert(app.store.read("kde_chart").count() === 3L * 14)
    assert(Files.exists(java.nio.file.Paths.get(app.store.path("kde_chart.png"))))

    val ((mon, monDown), monJobs) = JobCounter(sc)(
      app.runAll(monday.copy(seed = fastModel)))
    assert(mon.outcomes.values.forall(!_.isInstanceOf[Failed]), mon.outcomes)
    // the batch count, not the rows appended: the re-run appends nothing
    assert(mon.value[Map[String, Long]]("load_duckdb")("row_count") === filtered)
    assert(mon.value[Seq[String]]("ml_train") === Seq("linear_poly2"))
    assert(app.store.read("wine_data").count() === filtered)
    assert(monDown.get.succeeded("extract_pg"))
    assert(monDown.get.value[Map[String, Long]]("chart_kde")("row_count") === 600L)
    assert(app.store.read("kde_chart").count() === 5L * 14)
    // W10 through the store directly, as the benchmark's reload gate does
    val again = app.store.appendKeyed("wine_data", "id",
      graft.ops.WineOps.transform(7)(graft.ops.WineOps.extract(spark, src))
        .select(app.wineTableSchema.fieldNames.map(col).toSeq: _*))
    assert(again === 0L)
    // Measured on Spark 4.1, local[4]: 17 jobs on the Sunday (one of them
    // creates wine_data) and 18 on the Monday (two train the model: the
    // scaler's moments and the linear family's statistics pass); the DAG
    // took 33 and 40 when every consumer re-ran its inputs, and the Monday
    // 23 when spark.ml pipelines fit the linear model. Two jobs of slack:
    // a value computed twice, or a read's schema-inference job, breaks the
    // budget.
    assert(sunJobs.size <= 17 + 2, sunJobs.mkString("Sunday jobs:\n", "\n", ""))
    assert(monJobs.size <= 18 + 2, monJobs.mkString("Monday jobs:\n", "\n", ""))
  }

  test("chart_kde: an all-singular day removes the previous day's chart") {
    val root = Files.createTempDirectory("graft_store_").toString
    // Tuesday: the chart reads wine_raw, which each run replaces; no ML
    val tuesday = RunConfig(clock = () => LocalDate.of(2026, 8, 11),
      params = Map("ml_sample_count_threshold" -> Long.MaxValue))
    val png = java.nio.file.Paths.get(s"$root/kde_chart.png")
    val (_, d1) = syntheticApp(wineCsv(syntheticRows), root).runAll(tuesday)
    assert(d1.get.succeeded("chart_kde") && Files.exists(png))
    // one row per class: every class is singular, so the KDE is empty
    val app = syntheticApp(wineCsv(Seq((9.5, 5), (10.5, 6), (11.5, 7))), root)
    val (_, d2) = app.runAll(tuesday)
    assert(d2.get.succeeded("chart_kde"))
    assert(d2.get.value[Map[String, Long]]("chart_kde")("row_count") === 3L)
    assert(app.store.read("kde_chart").count() === 0L)
    assert(!Files.exists(png), "a stale chart passes for this day's")
  }

  test("the pinned extract is released when the run ends, also when a " +
    "downstream stage fails") {
    val app = syntheticApp(wineCsv(syntheticRows))
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    val ok = app.etlElt.run(sunday.copy(seed = fastModel))
    assert(ok.succeeded("load_postgres") && ok.succeeded("load_duckdb"))
    assert(persisted === before,
      s"checkpoint blocks leaked: $before -> $persisted persistent RDDs")
    // a threshold of the wrong type makes transform throw; load_duckdb is
    // skipped, load_postgres still reads the pinned extract
    val failing = app.etlElt.run(sunday.copy(seed = fastModel,
      params = Map("high_quality_threshold" -> "seven")))
    assert(failing.outcomes("transform").isInstanceOf[Failed])
    assert(failing.outcomes("load_duckdb") === Skipped)
    assert(failing.succeeded("load_postgres"))
    assert(persisted === before,
      s"checkpoint blocks leaked: $before -> $persisted persistent RDDs")
  }
}
