package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.app.EtlEltWine
import graft.flow.Pipeline.{Failed, Outcome, RunConfig, Skipped, Succeeded}
import graft.ops.WineOps
import graft.sources.TableStore

/** etl_elt_daily: the paper's system, one op per simulated day: the
  * ETL/ELT DAG, the chart DAG its dataset latch fires, and the Metabase
  * analyst's read-only star-schema queries (BiSession). The source CSV
  * grows by a fixed batch each day with earlier rows as a stable prefix,
  * and the clock is injected, so the calendar fixes the day mix: day 1 is
  * a Sunday (report-only day, DuckDB-side chart extract), day 2 a Monday
  * (ML day, Postgres-side extract). Day 0 is the initial load, run with
  * training disabled through the pipeline's own
  * `ml_sample_count_threshold` parameter. */
object EtlDaily {
  val start: LocalDate = LocalDate.of(2024, 1, 6) // a Saturday
  /** Model-selection seed of every day: WinePipelines.chooseCandidates
    * picks linear_poly2 alone with it. The grid's GBT candidates cost
    * about 20 s per ML day on 4 cores, more than a run can hold. */
  val modelSeed = 104L

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(ctx.in, "wine.json").toFile)
    val (startRows, dailyRows, maxDays) = (meta.get("start_rows").asInt,
      meta.get("daily_rows").asInt, meta.get("days").asInt)
    val lines = Files.readAllLines(Paths.get(ctx.in, "wine.csv")).asScala
    val src = Paths.get(ctx.freshRoot("source"), "wine.csv")
    def rowsOn(day: Int) = startRows + day * dailyRows
    /** The source system's file as of `day`; returns the new rows' bytes. */
    def publish(day: Int): Long = {
      val upTo = 1 + rowsOn(day)
      Files.write(src, (lines.take(upTo).mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8))
      lines.slice(1 + (if (day == 0) 0 else rowsOn(day - 1)), upTo)
        .map(_.length + 1L).sum
    }
    def config(day: Int, params: Map[String, Any] = Map.empty) =
      RunConfig(params = params, clock = () => start.plusDays(day),
        seed = modelSeed)

    // the report stage prints its table; keep the harness output clean
    val quiet = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())
    def runDay(app: EtlEltWine, cfg: RunConfig) = Console.withOut(quiet) {
      val etl = ctx.span("flow", "etl_run")(app.etlElt.run(cfg))
      val down = if (app.latch.fireIfReady())
        Some(ctx.span("flow", "downstream_run")(app.downstream.run(cfg)))
      else None
      (etl, down)
    }

    // the analyst's queries: warm each once (per-plan codegen and class
    // loading belong to set-up), then every day runs the whole pool in
    // that day's seeded order
    val bi = new BiSession(ctx, Paths.get(ctx.in, "star").toString,
      Files.readAllLines(Paths.get(ctx.in, "bi_schedule.txt")).asScala.toSeq
        .filter(_.nonEmpty).map(_.split(',').toSeq))
    bi.warm()

    // the initial load (day 0), the last step of set-up
    val root = ctx.freshRoot("store")
    publish(0)
    val app = new EtlEltWine(spark, new TableStore(spark, root), src.toString)
    val load = Console.withOut(quiet)(app.etlElt.run(config(0,
      Map("ml_sample_count_threshold" -> Long.MaxValue))))
    require(load.outcomes.values.forall(!_.isInstanceOf[Failed]),
      s"initial load failed: ${load.outcomes}")
    ctx.watch(root)
    val store = app.store

    var day = 1
    while ((!ctx.timeUp || day <= 2) && day <= maxDays) {
      val newBytes = publish(day)
      ctx.op("day", start.plusDays(day).getDayOfWeek.toString.toLowerCase,
          userBytes = newBytes, rows = dailyRows.toLong) {
        val ran = runDay(app, config(day))
        (ran, bi.runDay(day - 1))
      } { case ((etl, down), queries) =>
        val data = store.read("wine_data")
        val stats = data.agg(count(lit(1)), min("alcohol"), max("alcohol"))
          .head()
        val perClass = data.groupBy("quality").count().collect()
          .map(r => r.getInt(0).toString -> r.getLong(1)).toMap
        val outcomes = etl.outcomes ++ down.fold(Map.empty[String, Outcome])(
          _.outcomes.map { case (k, v) => s"downstream.$k" -> v })
        Map(
          "day" -> day,
          "weekday" -> (start.plusDays(day).getDayOfWeek.getValue - 1),
          "filtered" -> stats.getLong(0),
          "min_alcohol" -> stats.getDouble(1),
          "max_alcohol" -> stats.getDouble(2),
          "per_class" -> perClass,
          "raw" -> store.read("wine_raw").count(),
          "succeeded" -> outcomes.collect { case (k, Succeeded(_)) => k }
            .toSeq.sorted,
          "skipped" -> outcomes.collect { case (k, Skipped) => k }
            .toSeq.sorted,
          "failed" -> outcomes.collect {
            case (k, Failed(e)) => s"$k: ${e.getMessage}"
          }.toSeq.sorted,
          "kde_rows" -> (if (down.isDefined) store.read("kde_chart").count()
                         else 0L),
          "chart_png" -> Files.exists(Paths.get(store.path("kde_chart.png"))),
          "queries" -> bi.check(queries))
      }
      day += 1
    }
    // idempotence: re-loading day 1's prefix through the keyed load must
    // append nothing (outside the measured loop)
    publish(1)
    val again = store.appendKeyed("wine_data", "id",
      WineOps.transform(7)(WineOps.extract(spark, src.toString))
        .select(app.wineTableSchema.fieldNames.map(col).toSeq: _*))
    ctx.record("reload_appended", again)
    bi.finish()
  }
}
