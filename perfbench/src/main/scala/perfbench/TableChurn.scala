package perfbench

import java.nio.file.Paths
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotSql, SnapshotStore}

/** Row formulas shared with gen.py (churn_value, churn_group,
  * churn_row_hash): the generated script names keys, these give the rows. */
object ChurnCols {
  def value(seed: Long, op: Long): Column =
    (col("k") * 7919L + lit(op * 104729L + seed * 15485863L)) % 1000003L
  val group: Column = (col("k") * 2654435761L) % 50021L
  val checksum: String =
    "sum(((k * 1000003 + v) % 2147483647) * (v % 1009 + 1) + " +
      "(g % 65521) * (k % 7919 + 1))"

  def rows(keys: DataFrame, seed: Long, op: Long): DataFrame =
    keys.select(col("k")).withColumn("g", group)
      .withColumn("v", value(seed, op))
}

/** table_churn: writes beside reads on one versioned keyed table (range-
  * clustered on `k` with zone stats, bloom filter on `g`), one client,
  * plus a corpus-dedup ingest stream into a versioned MinHash index in the
  * same store. Every round of the generated script runs a zoned append,
  * a scattered key delete, a CoW upsert skewed to recent keys (its commit
  * folds the delete vector), a range delete and one ingest batch, between
  * them SQL aggregates, range and point reads, time travel and a
  * changelog read, then small-file optimize and expire + vacuum, and the
  * redelivery of the round's batch. Reads return (count, checksum) or
  * rows, which run.py checks against its model; ingest results are
  * checked against the planted duplicates. */
object TableChurn {
  val table = "t"

  /** Files the scans of an executed plan opened (scan-node numFiles). */
  def filesOpened(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesOpened(a.executedPlan)
    case q: QueryStageExec => filesOpened(q.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => other.children.map(filesOpened).sum +
      other.subqueries.map(filesOpened).sum
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val script = new ObjectMapper().readTree(Paths.get(ctx.in, "churn.json").toFile)
    val seed = script.get("seed").asLong
    val nRows = script.get("rows").asLong
    def keysOf(o: JsonNode): DataFrame = {
      val ks = o.get("keys").elements().asScala.map(_.asLong: java.lang.Long).toSeq
      spark.createDataset(ks)(org.apache.spark.sql.Encoders.LONG).toDF("k")
    }

    // set-up: the table's initial load and the index build over the base
    // corpus
    val ingest = new Ingest(ctx)
    val root = ctx.freshRoot("store")
    val store = new SnapshotStore(spark, root)
    store.declareBloom(table, "g")
    store.commitOverwriteKeyed(table, "k",
      ChurnCols.rows(spark.range(0, nRows).toDF("k"), seed, 0L), numFiles = 8)
    ctx.span("ops.SimilarityOps", "build")(ingest.build(store))
    ctx.watch(root)

    // collect() (not head()) so the aggregate's own executed plan carries
    // the scan metrics files_opened reads
    def agg(df: DataFrame): (DataFrame, (Long, Long)) = {
      val a = df.selectExpr("count(*)", s"coalesce(${ChurnCols.checksum}, 0)")
      val r = a.collect()(0)
      (a, (r.getLong(0), r.getLong(1)))
    }
    def aggPayload(df: DataFrame, res: (Long, Long)): Map[String, Any] =
      Map("n" -> res._1, "cks" -> res._2,
        "files_opened" -> filesOpened(df.queryExecution.executedPlan))
    def liveFloor = store.expiredBelow(table) + 1

    val rounds = script.get("rounds").elements().asScala.toSeq
    var r = 0
    while ((!ctx.timeUp || r == 0) && r < rounds.size) {
      rounds(r).elements().asScala.foreach { o =>
        val id = o.get("id").asLong
        val kind = o.get("op").asText
        val before = store.currentVersion(table)
        def write(layer: String)(body: => Any): Unit =
          commit(ctx.span("sources.SnapshotStore", layer)(body))
        def commit(body: => Any): Unit =
          ctx.op("write", kind)(body) { res =>
            val reused = res match {
              case (_: Long, n: Int) => n.toLong
              case (_: Long, _: Int, n: Int) => n.toLong
              case _ => -1L
            }
            Map("id" -> id, "before" -> before,
              "version" -> store.currentVersion(table),
              "files_reused" -> reused)
          }
        def read(layer: String)(body: => (DataFrame, (Long, Long)))
            : Unit =
          ctx.op("read", kind)(ctx.span("sources.SnapshotStore", layer)(body)) {
            case (df, res) => aggPayload(df, res) ++ Map("id" -> id,
              "version" -> store.currentVersion(table))
          }
        kind match {
          case "append" =>
            val lo = o.get("lo").asLong
            write("append")(store.commitAppendZoned(table, ChurnCols.rows(
              spark.range(lo, lo + o.get("n").asLong).toDF("k"), seed, id)))
          case "merge" =>
            val diff = ChurnCols.rows(keysOf(o), seed, id)
              .select(col("k"), lit("update").as("change_type"),
                struct(col("g"), col("v")).as("new_v"))
            write("merge_cow")(store.commitMergeCow(table, "k", diff))
          case "delete_where" =>
            write("delete_where")(store.commitDeleteWhere(table,
              s"k >= ${o.get("lo").asLong} AND k < ${o.get("hi").asLong}"))
          case "delete_keys" =>
            write("delete_keys")(store.commitDeleteKeys(table, keysOf(o)))
          case "maintain" =>
            // one maintenance step: small-file compaction under the default
            // policy (128 MiB files; at this table size every file is
            // small, so it compacts the whole table), then expire + vacuum
            commit {
              val packed = ctx.span("sources.SnapshotStore", "optimize")(
                store.optimizeSmallFiles(table))
              ctx.span("sources.SnapshotStore", "vacuum") {
                store.expireByPolicy(table, keepLast = o.get("keep").asInt)
                store.vacuum(table)
              }
              packed
            }
          case "read_sql" =>
            read("read_sql") {
              val df = ctx.span("sources.SnapshotSql", "rewrite")(
                SnapshotSql.sql(store, s"SELECT count(*) AS n, " +
                  s"coalesce(${ChurnCols.checksum}, 0) AS c FROM $table " +
                  s"WHERE k >= ${o.get("lo").asLong} AND k < ${o.get("hi").asLong}"))
              val row = df.collect()(0)
              (df, (row.getLong(0), row.getLong(1)))
            }
          case "read_range" =>
            read("read_range") {
              agg(store.readVersionWhere(table, store.currentVersion(table),
                "k", o.get("lo").asLong, o.get("hi").asLong - 1))
            }
          case "time_travel" =>
            val v = math.max(store.currentVersion(table) - o.get("back").asLong,
              liveFloor)
            ctx.op("read", kind) {
              ctx.span("sources.SnapshotStore", "time_travel") {
                agg(store.readVersion(table, v))
              }
            } { case (df, res) => aggPayload(df, res) ++ Map("id" -> id, "at" -> v) }
          case "changes" =>
            val to = store.currentVersion(table)
            val from = math.max(to - o.get("back").asLong, liveFloor)
            ctx.op("read", kind) {
              ctx.span("sources.SnapshotStore", "changes") {
                store.changesBetween(table, from, to).groupBy("_change")
                  .agg(expr("count(*)"), expr(s"coalesce(${ChurnCols.checksum}, 0)"))
                  .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2)))
                  .toMap
              }
            } { m =>
              Map("id" -> id, "from" -> from, "to" -> to,
                "ins_n" -> m.get("insert").fold(0L)(_._1),
                "ins_cks" -> m.get("insert").fold(0L)(_._2),
                "del_n" -> m.get("delete").fold(0L)(_._1),
                "del_cks" -> m.get("delete").fold(0L)(_._2))
            }
          case "ingest" =>
            val b = o.get("batch").asInt
            val docs = ingest.docs(b)
            ctx.op("write", kind,
                userBytes = docs.values.map(_.getBytes("UTF-8").length.toLong).sum,
                rows = docs.size.toLong)(ingest.batch(store, b)) { res =>
              ingest.payload(b, docs.keySet, res) ++ Map("id" -> id,
                "before" -> before, "version" -> store.currentVersion(table))
            }
          case "redeliver" =>
            // at-least-once delivery: the batch again, which must add nothing
            val b = o.get("batch").asInt
            ctx.op("write", kind)(ingest.batch(store, b)) { res =>
              ingest.payload(b, ingest.docs(b).keySet, res) ++ Map("id" -> id)
            }
          case "read_point" =>
            val groups = o.get("groups").elements().asScala.map(_.asLong).toSeq
            ctx.op("read", kind) {
              ctx.span("sources.SnapshotStore", "read_point") {
                val df = store.readVersionPoint(table,
                  store.currentVersion(table), "g", groups).select("k", "g", "v")
                (df, df.collect())
              }
            } { case (df, rows) =>
              Map("id" -> id, "n" -> rows.length.toLong,
                "points" -> rows.map(x => Seq(x.getLong(0), x.getLong(1), x.getLong(2)))
                  .sortBy(_.head).toSeq,
                "files_opened" -> filesOpened(df.queryExecution.executedPlan))
            }
        }
      }
      r += 1
    }

    // outside the loop: every live version's time-travel checksum
    val live = (liveFloor to store.currentVersion(table)).map { v =>
      val (_, (n, c)) = agg(store.readVersion(table, v))
      Map("version" -> v, "n" -> n, "cks" -> c)
    }
    ctx.record("live_versions", live)
    val (_, onDisk, files, _) = ctx.walk()
    ctx.record("space", Map("on_disk" -> onDisk, "files" -> files,
      "live_rows" -> live.last("n")))
  }
}
