package perfbench

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row}

/** The Metabase analyst: read-only star-schema queries from
  * SparkEntry.queries over a directory of parquet tables. Each day runs
  * the whole pool in the day's seeded order, timing build (the query's
  * DataFrame), plan (`queryExecution.executedPlan`) and exec (collect) as
  * spans of the `queries` layer. The first result of each query goes into
  * the record for run.py's DuckDB oracle check; every later result of the
  * same query must have the same digest (sorted rows). */
final class BiSession(ctx: Ctx, dir: String, schedule: Seq[Seq[String]]) {
  private val queries = graft.SparkEntry.queries
  private val names = schedule.head.sorted
  names.foreach(n => require(queries.contains(n), s"unknown query $n"))
  private val first = scala.collection.mutable.HashMap[String, String]()
  private val results = scala.collection.mutable.LinkedHashMap[String, Any]()

  /** One untimed execution of each query. */
  def warm(): Unit = names.foreach(n => queries(n)(ctx.spark, dir).collect())

  def runDay(day: Int): Seq[(String, DataFrame, Array[Row])] =
    schedule(day % schedule.size).map { name =>
      val df = ctx.span("queries", "build")(queries(name)(ctx.spark, dir))
      ctx.span("queries", "plan")(df.queryExecution.executedPlan)
      (name, df, ctx.span("queries", "exec")(df.collect()))
    }

  def check(ran: Seq[(String, DataFrame, Array[Row])]): Seq[Map[String, Any]] =
    ran.map { case (name, df, rows) =>
      val d = BiSession.digest(rows)
      if (!first.contains(name)) {
        first(name) = d
        results(name) = Map("columns" -> df.columns.toSeq,
          "rows" -> rows.toSeq.map(_.toSeq.map(BiSession.cell)))
      }
      Map("name" -> name, "rows_out" -> rows.length,
        "same_as_first" -> (first(name) == d))
    }

  def finish(): Unit = {
    ctx.record("results", results)
    ctx.record("oracle", names.map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap)
  }
}

object BiSession {
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(10.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** A result cell as JSON: numbers and strings as themselves, temporal
    * and decimal values tagged so run.py compares them exactly. */
  def cell(v: Any): Any = v match {
    case t: java.sql.Timestamp =>
      s"ts:${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}"
    case t: java.time.Instant => s"ts:${t.getEpochSecond * 1000000L + t.getNano / 1000}"
    case d: java.sql.Date => s"date:${d.toLocalDate.toEpochDay}"
    case d: java.time.LocalDate => s"date:${d.toEpochDay}"
    case d: java.math.BigDecimal => s"dec:${d.stripTrailingZeros.toPlainString}"
    case d: scala.math.BigDecimal => cell(d.bigDecimal)
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case f: Float => f.toDouble
    case other => other
  }
}
