package graft.app

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, StructField, StructType}
import graft.flow.{DatasetLatch, Pipeline}
import graft.flow.Pipeline._
import graft.ml.WinePipelines
import graft.model.Schemas
import graft.ops.{ChartOps, KdeOps, RelOps, WineOps}
import graft.sources.TableStore

/** The reference's three pipelines recomposed on the flow DSL (SURVEY §3).
  *
  * ETL+ELT (dags/etl_elt_wine.py): extract once, fan out to (a) the keyed
  * idempotent DuckDB-style load + branch to ML-or-report, and (b) the
  * raw overwrite PostgreSQL-style load + in-store transform. Both loads
  * mark datasets; the downstream chart pipeline
  * (dags/etl_elt_wine_downstream.py) fires on the conjunction (W4),
  * branches on weekday, and computes the per-class KDE table (X10).
  *
  * XCom materialization between Airflow tasks disappears: stage values are
  * lazy DataFrame plans in one JVM; only effects (writes) force execution.
  * Each value is computed once per run: the extract, read by both loads,
  * is pinned (released by the run's teardown), and a stage that needs a
  * small result several ways (the report, the KDE rows) collects it once.
  */
final class EtlEltWine(spark: SparkSession, val store: TableStore,
                       winePath: String = WineOps.defaultCsvPath) {

  val duckdbDataset = "duckdb_wine"
  val pgDataset = "pg_wine"
  val latch = new DatasetLatch(Set(duckdbDataset, pgDataset))

  /** Target schema for the keyed store (reference DDL etl_elt_wine.py:129-144:
    * id + 11 features + quality + high_quality). */
  val wineTableSchema: StructType = StructType(
    StructField("id", IntegerType) +:
      Schemas.wineRaw.fields.toSeq :+
      StructField("high_quality", BooleanType))

  /** The combined ETL+ELT pipeline (reference's single DAG, SURVEY §3.1-3.2). */
  def etlElt: Pipeline = new Pipeline("etl_elt_wine", Seq(
    Stage("create_wine_table", retries = 2, fn = _ =>        // S5, W7
      store.createIfNotExists("wine_data", wineTableSchema)),
    Stage("extract", retries = 3, fn = ctx => {              // S1-S4
      // pinned: the keyed load and load_postgres both read it, and each
      // would otherwise re-run the CSV scan and the row-id window
      val extracted = pin(WineOps.extract(spark, winePath,
        ctx.param("sample_frac", 1.0), seed = ctx.config.seed))
      ctx.onTeardown(RelOps.releaseCheckpoint(extracted))
      extracted
    }),
    Stage("transform", deps = Seq("extract"), fn = ctx =>    // P4+P5
      WineOps.transform(ctx.param("high_quality_threshold", 7))(
        ctx.xcomPull[DataFrame]("extract"))),
    Stage("load_duckdb", deps = Seq("create_wine_table", "transform"), fn = ctx => { // S6
      // reference XComs THIS batch's row count (etl_elt_wine.py:220:
      // len(filtered_wine_df)), not the rows appended nor the cumulative
      // table size — the ML branch gate reads it. Counted while the batch
      // is pinned, in the same pass: an observation inside appendKeyed's
      // plan would be lost whenever AQE prunes the anti-join's empty
      // stage (a batch that is all duplicates).
      val batch = Observation()
      val df = pin(ctx.xcomPull[DataFrame]("transform")
        .select(wineTableSchema.fieldNames.map(col): _*)
        .observe(batch, count(lit(1)).as("rows")))
      try store.appendKeyed("wine_data", "id", df)
      finally RelOps.releaseCheckpoint(df)
      latch.markUpdated(duckdbDataset)
      Map("row_count" -> batch.get("rows").asInstanceOf[Long])
    }),
    Stage("branch", deps = Seq("load_duckdb"), branch = true, fn = ctx => { // W2
      val n = ctx.xcomPull[Map[String, Long]]("load_duckdb")("row_count")
      val weekday = ctx.config.clock().getDayOfWeek.getValue - 1 // pendulum Mon=0
      // reference (etl_elt_wine.py:303-307) selects the ML group AND the
      // report together on ML days; the report always runs
      if (n >= ctx.param("ml_sample_count_threshold", 200L) && weekday <= 5)
        Seq("ml_train", "print_report")
      else Seq("print_report")
    }),
    Stage("ml_train", deps = Seq("branch"), fn = ctx => {    // M1-M12, W3
      val data = store.read("wine_data")                     // S9 re-read
      val chosen = WinePipelines.chooseCandidates(
        WinePipelines.modelGrid, ctx.config.seed)            // M10
      val metrics = WinePipelines.trainAndEvaluate(data, chosen)
      store.overwrite("ml_metrics", metrics)                 // M12 lineage sink
      chosen.map(_.name)
    }),
    Stage("print_report", deps = Seq("branch"), fn = _ => {  // A1+S11
      // one execution: the report is at most one row per quality class
      val report = WineOps.flagshipReport(store.read("wine_data"))
      val rows = report.collect()
      rowsFrame(rows, report.schema).show(20, truncate = false)
      rows.length.toLong
    }),
    // ELT path (shares extract; SURVEY §3.2)
    Stage("load_postgres", deps = Seq("extract"), fn = ctx => { // S7
      val n = store.overwrite("wine_raw", ctx.xcomPull[DataFrame]("extract"))
      latch.markUpdated(pgDataset)
      Map("row_count" -> n)
    }),
    Stage("transform_in_store", deps = Seq("load_postgres"), fn = _ => // S8
      WineOps.eltTransform(store.read("wine_raw")).count())
  ))

  /** Downstream chart pipeline (SURVEY §3.3) — call when latch fires. */
  def downstream: Pipeline = new Pipeline("downstream_chart", Seq(
    Stage("branch", branch = true, fn = ctx => {             // W2+F4
      val weekday = ctx.config.clock().getDayOfWeek.getValue - 1
      if (weekday < 3) Seq("extract_pg") else Seq("extract_duckdb")
    }),
    Stage("extract_pg", deps = Seq("branch"), fn = _ =>      // S8+P1
      store.read("wine_raw").select("quality", "alcohol")),
    Stage("extract_duckdb", deps = Seq("branch"), fn = _ =>  // S9+P1
      store.read("wine_data").select("quality", "alcohol")),
    Stage("chart_kde", deps = Seq("extract_pg", "extract_duckdb"),
      trigger = NoneFailedMinOneSuccess, fn = ctx => {       // W5+W6+X10
        val branched = ctx.xcomPull[Seq[String]]("branch")
        val src = ctx.xcomPull[DataFrame](branched.head)     // dynamic pull
        val grid = (16 to 29).map(_ * 0.5)                   // alcohol 8.0-14.5
        // one row per class; their counts sum to src's row count (A2)
        val statsPlan = KdeOps.classStats("quality", "alcohol")(src)
        val stats = statsPlan.collect()
        // the KDE rows (usable classes × grid), computed once: the table,
        // the emptiness test and the chart all come from these rows
        val kdePlan = KdeOps.kdeFromStats("quality", "alcohol", grid,
          rowsFrame(stats, statsPlan.schema))(src)
        val kdeRows = kdePlan.collect()
        val kde = rowsFrame(kdeRows, kdePlan.schema)
        // one file, as the aggregate's single output partition wrote it
        store.overwrite("kde_chart", kde.coalesce(1))
        // S10 rendering leaf: the per-class KDE chart as a PNG artifact
        // (the reference's utils.py:306-318 matplotlib step, pure JVM).
        // kdeByClass drops singular classes — an all-singular input
        // yields an empty table, which stores fine but has nothing to
        // draw; no artifact then, and none left over from an earlier run
        // to pass for this one's.
        val png = Paths.get(store.path("kde_chart.png"))
        if (kdeRows.isEmpty) Files.deleteIfExists(png)
        else Files.write(png, ChartOps.renderKdePng(kde, "quality"))
        Map("row_count" -> stats.map(_.getAs[Long]("kde_n")).sum)
      })
  ))

  /** `df` computed once and held in executor memory (a local checkpoint).
    * For single-partition frames only — the row-id window makes the
    * extract one. coalesce(1) restates that partitioning, which a
    * checkpoint taken under AQE drops, so the keyed load dedups without a
    * shuffle and in source order, as on the unpinned plan. */
  private def pin(df: DataFrame): DataFrame = df.localCheckpoint().coalesce(1)

  /** Collected rows as a frame again: projections, filters and limits on
    * it (show, the chart's select) run on the driver, with no Spark job. */
  private def rowsFrame(rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Run ETL+ELT, then the downstream pipeline iff both datasets updated
    * (W4 conjunction). Returns (etl result, Option(downstream result)). */
  def runAll(config: RunConfig = RunConfig()): (RunResult, Option[RunResult]) = {
    val etl = etlElt.run(config)
    val down = if (latch.fireIfReady()) Some(downstream.run(config)) else None
    (etl, down)
  }
}
