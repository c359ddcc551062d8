package graft

import graft.sources.{SnapshotSql, SnapshotStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One round of versioned-table churn (the benchmark's `table_churn` op
  * mix, smaller) through JobCounter: every op may start only the jobs
  * that read or write table rows. Metadata (schemas, zone and bloom
  * sidecars, probe hashes) is read on the driver, so a regression that
  * brings back a schema-inference job or a duplicate sidecar collect
  * breaks an op's budget. */
class SnapshotJobBudgetSpec extends SparkSpec {

  import spark.implicits._

  private def rows(keys: DataFrame, op: Long): DataFrame =
    keys.select(col("k"))
      .withColumn("g", (col("k") * 2654435761L) % 50021L)
      .withColumn("v", (col("k") * 7919L + lit(op * 104729L)) % 1000003L)

  private def agg(df: DataFrame): (Long, Long) = {
    val r = df.selectExpr("count(*)", "coalesce(sum(v), 0)").collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("a churn round: each op starts at most the jobs measured for it") {
    val ss = new SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("graft_job_budget_").toString)
    ss.declareBloom("t", "g")
    ss.commitOverwriteKeyed("t", "k", rows(spark.range(0, 20000).toDF("k"), 0L),
      numFiles = 8)
    def cur = ss.currentVersion("t")
    val probe = Seq(3L, 4321L, 12345L)
    val groups = rows(probe.toDF("k"), 0L).select("g").as[Long].collect().toSeq
    val diff = rows((Seq(7L, 2500L, 19999L, 20100L) ++ (20500L until 20520L))
        .toDF("k"), 5L)
      .select(col("k"), lit("update").as("change_type"),
        struct(col("g"), col("v")).as("new_v"))
    val ops: Seq[(String, () => Any)] = Seq(
      "append" -> (() => ss.commitAppendZoned("t",
        rows(spark.range(20000, 20500).toDF("k"), 1L))),
      "read_sql" -> (() => SnapshotSql.sql(ss,
        "SELECT count(*) AS n, coalesce(sum(v), 0) AS c FROM t " +
          "WHERE k >= 100 AND k < 900").collect()),
      "delete_keys" -> (() => ss.commitDeleteKeys("t",
        Seq(5L, 1234L, 7777L, 15000L).toDF("k"))),
      "read_range" -> (() => agg(ss.readVersionWhere("t", cur, "k", 2000L, 3999L))),
      "merge" -> (() => ss.commitMergeCow("t", "k", diff)),
      "read_point" -> (() => ss.readVersionPoint("t", cur, "g", groups)
        .select("k", "g", "v").collect()),
      "delete_where" -> (() => ss.commitDeleteWhere("t", "k >= 6000 AND k < 6500")),
      "time_travel" -> (() => agg(ss.readVersion("t", cur - 2))),
      "changes" -> (() => ss.changesBetween("t", cur - 3, cur)
        .groupBy("_change").count().collect()),
      "maintain" -> (() => {
        ss.optimizeSmallFiles("t")
        ss.expireByPolicy("t", keepLast = 3)
        ss.vacuum("t")
      }))
    val jobs = ops.map { case (op, body) =>
      op -> JobCounter(spark.sparkContext)(body())._2
    }
    val report = jobs.map { case (op, js) =>
      s"$op: ${js.size}${js.map("\n    " + _).mkString}" }.mkString("\n")
    info(report)
    // Measured on Spark 4.1, local[4]. When every read inferred its schema
    // and each call collected its sidecars through Spark, the round took
    // append 8, read_sql 3, delete_keys 3, read_range 8, merge 19,
    // read_point 7, delete_where 14, time_travel 5, changes 20 and
    // maintain 9 jobs (96). What is left reads or writes rows: the staged
    // data writes, the sidecar writes (which run the zone aggregate), the
    // merge diff pin and its touch-set join, the delete discovery scan,
    // the changelog's vector-delta bounds and the callers' own actions.
    val budget = Map("append" -> 4, "read_sql" -> 2, "delete_keys" -> 2,
      "read_range" -> 3, "merge" -> 12, "read_point" -> 1, "delete_where" -> 6,
      "time_travel" -> 3, "changes" -> 10, "maintain" -> 4)
    val over = jobs.filter { case (op, js) => js.size > budget(op) }
    assert(over.isEmpty, s"over budget: ${over.map(_._1).mkString(", ")}\n$report")
    // the round did what the workload's gates check
    assert(agg(ss.readCurrent("t")) === agg(ss.readVersion("t", cur)))
    assert(ss.readCurrent("t").filter(col("k").isin(5L, 1234L, 6100L)).isEmpty)
    // 20,000 loaded + 500 appended - 4 key-deleted + 20 upserted - 500
    assert(ss.readCurrent("t").count() === 20016L)
  }

  test("a repeated store read compiles nothing, even after 150 other " +
      "classes were compiled in between") {
    val ss = new SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("graft_codegen_cache_").toString)
    ss.commitOverwriteKeyed("t", "k", rows(spark.range(0, 5000).toDF("k"), 0L),
      numFiles = 4)
    val v = ss.currentVersion("t")
    def read() = agg(ss.readVersionWhere("t", v, "k", 1000L, 2999L))
    val (first, _) = CodegenCounter(read())
    // each literal makes a distinct class: more than Spark's default cache
    // of 100 entries holds
    val (_, others) = CodegenCounter((1 to 150).foreach { i =>
      spark.range(10).selectExpr(s"id * $i + 1").collect() })
    assert(others >= 150)
    val (again, compiled) = CodegenCounter(read())
    assert(again === first)
    assert(compiled === 0L,
      s"the read compiled $compiled classes again after $others other compiles")
  }

  test("bloom probe hashes evaluated on the driver ≡ Spark's xxhash64 of " +
    "the same cast literal, for every type a bloom column can have") {
    import org.apache.spark.sql.types._
    val ss = new SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("graft_probe_hash_").toString)
    val cases: Seq[(Any, DataType)] = Seq(
      (42L, LongType), (7, LongType), (7, IntegerType), (-3L, IntegerType),
      ("déjà vu", StringType), (12L, StringType),
      (java.sql.Date.valueOf("2026-08-10"), DateType),
      (java.sql.Timestamp.valueOf("2026-08-10 12:34:56.789"), TimestampType),
      ("2026-08-10 01:02:03", TimestampType),
      (new java.math.BigDecimal("123.4500"), DecimalType(18, 4)),
      (2.5, DoubleType), (true, BooleanType))
    for ((x, dt) <- cases) {
      val viaSpark = spark.range(1).select(xxhash64(lit(x).cast(dt))).head().getLong(0)
      assert(ss.probeHashes(Seq(x), dt) === Seq(viaSpark), s"$x as $dt")
    }
  }
}
