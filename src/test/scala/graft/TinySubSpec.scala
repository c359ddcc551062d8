package graft

import graft.sources.SnapshotStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** r19 optimization round: driver-known (LocalRelation) staged frames
  * write their parquet WITHOUT a Spark job, and tiny plain subs read
  * back driver-side (the watermark pattern every view refresh pays per
  * commit). These specs pin the load-bearing claim: the fast path and
  * the Spark path see THE SAME table — identical schema and rows
  * through spark.read — and everything outside the exactness envelope
  * falls back. */
class TinySubSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_tinysub_").toString

  test("TS1: a LocalRelation meta sub staged by the fast path reads " +
      "back identically to a Spark-written one") {
    val dir = tmp()
    val ss = new SnapshotStore(spark, dir)
    // fast path: localLongRow IS a LocalRelation
    ss.commitTables("a", overwrites = Map(
      "data" -> spark.range(10).select(col("id")),
      "meta" -> graft.ops.RelOps.localLongRow(spark, "src_v" -> 7L)))
    // spark path: a projected Range never matches the fast path
    ss.commitTables("b", overwrites = Map(
      "data" -> spark.range(10).select(col("id")),
      "meta" -> spark.range(1).select(lit(7L).as("src_v"))))
    val fa = ss.readTable("a", "meta")
    val fb = ss.readTable("b", "meta")
    assert(fa.schema === fb.schema)
    assert(fa.collect().toSeq === fb.collect().toSeq)
    assert(fa.head().getLong(0) === 7L)
  }

  test("TS2: all supported types round-trip the fast path exactly, " +
      "nulls included, and readTinySubRows ≡ the Spark read") {
    val dir = tmp()
    val ss = new SnapshotStore(spark, dir)
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("s", StringType)))
    val rows = Seq(
      Row(1L, 2, 3.5, true, "x"),
      Row(null, null, null, null, null),
      Row(-9L, -7, -0.25, false, "déjà vu ✓"))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(rows.asJava, schema)
    ss.commitTables("t", overwrites = Map(
      "data" -> spark.range(3).toDF, "tiny" -> df))
    val viaSpark = ss.readTable("t", "tiny")
    assert(viaSpark.schema.map(f => (f.name, f.dataType)) ===
      schema.map(f => (f.name, f.dataType)))
    assert(viaSpark.collect().toSet === rows.toSet)
    val Some((s2, r2)) = ss.readTinySubRows("t", 1L, "tiny")
    assert(s2.map(f => (f.name, f.dataType)) ===
      viaSpark.schema.map(f => (f.name, f.dataType)))
    assert(r2.map(_.toSeq).toSet === viaSpark.collect().map(_.toSeq).toSet)
    // schema-qualified access works (the getAs[.](name) watermark read)
    assert(ss.tinySubHead("t", 1L, "tiny").getAs[Long]("l") === 1L)
  }

  test("TS3: an EMPTY LocalRelation sub still writes a schema-bearing " +
      "file (Spark's empty-write contract)") {
    val dir = tmp()
    val ss = new SnapshotStore(spark, dir)
    val empty = Seq((1L, "a")).toDF("k", "s").filter(lit(false))
    // filter(false) folds to an empty LocalRelation → fast path
    ss.commitTables("t", overwrites = Map(
      "data" -> spark.range(3).toDF, "e" -> empty))
    val back = ss.readTable("t", "e")
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      Seq(("k", LongType), ("s", StringType)))
    assert(back.count() === 0L)
    assert(ss.readTinySubRows("t", 1L, "e").exists(_._2.isEmpty))
  }

  test("TS4: unsupported types and bucketed subs fall back on both " +
      "sides") {
    val dir = tmp()
    val ss = new SnapshotStore(spark, dir)
    val dec = Seq((1L, BigDecimal("1.50"))).toDF("k", "p")
      .select(col("k"), col("p").cast("decimal(18,4)").as("p"))
    ss.commitTables("t", overwrites = Map("data" -> dec,
      "bkt" -> Seq((1L, 2L)).toDF("k", "v")),
      buckets = Map("bkt" -> graft.sources.SubBucket("k", 4)))
    // decimal sub (plain) read back fine through Spark; tiny read bails
    assert(ss.readTinySubRows("t", 1L, "data").isEmpty)
    assert(ss.readTable("t", "data").head().getAs[java.math.BigDecimal]("p")
      .compareTo(new java.math.BigDecimal("1.5000")) === 0)
    // bucketed sub: tiny read bails, catalog read serves
    assert(ss.readTinySubRows("t", 1L, "bkt").isEmpty)
    assert(ss.readTable("t", "bkt").count() === 1L)
    ss.dropCatalogTables("t")
  }

  test("TS5: single-table LocalRelation commits take the fast path " +
      "(row count preserved) and CHECK tables keep the Observation " +
      "pass — a violating literal commit still refuses") {
    val dir = tmp()
    val ss = new SnapshotStore(spark, dir)
    val lit3 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    ss.commitOverwrite("t", lit3)
    assert(ss.readCurrent("t").count() === 3L)
    ss.commitAppend("t", Seq((4L, "d")).toDF("k", "s"))
    assert(ss.readCurrent("t").orderBy("k").collect().map(_.getLong(0))
      .toSeq === Seq(1L, 2L, 3L, 4L))
    // a CHECK-bearing table must keep enforcing on literal frames
    ss.addCheck("t", "pos_k", "k > 0")
    intercept[IllegalArgumentException] {
      ss.commitAppend("t", Seq((-1L, "x")).toDF("k", "s"))
    }
    // the refused commit left the table intact and retryable
    assert(ss.readCurrent("t").count() === 4L)
    ss.commitAppend("t", Seq((5L, "e")).toDF("k", "s"))
    assert(ss.readCurrent("t").count() === 5L)
  }

  test("TS6: the changelog sees fast-path-written subs like any other " +
      "(file-granular diff over the meta overwrite)") {
    val dir = tmp()
    val ss = new SnapshotStore(spark, dir)
    ss.commitTables("t", overwrites = Map(
      "data" -> spark.range(5).toDF,
      "meta" -> graft.ops.RelOps.localLongRow(spark, "src_v" -> 1L)))
    ss.commitTables("t", overwrites = Map(
      "meta" -> graft.ops.RelOps.localLongRow(spark, "src_v" -> 2L)))
    val ch = ss.changesBetweenTable("t", "meta", 1L, 2L)
    val rows = ch.select("_change", "src_v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows === Set(("delete", 1L), ("insert", 2L)))
  }

  test("TS7: a fast-path file carries the schema key Spark's writer " +
      "stamps for the same frame, so its read starts no inference job") {
    val dir = tmp()
    val ss = new SnapshotStore(spark, dir)
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("l", LongType, nullable = false), StructField("s", StringType)))
    val df = spark.createDataFrame(Seq(Row(1L, "x"), Row(2L, null)).asJava, schema)
    ss.commitTables("t", overwrites = Map(
      "data" -> spark.range(3).toDF, "tiny" -> df))
    def parquetFiles(d: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }
    def footer(f: java.nio.file.Path) = graft.sources.ParquetFooters
      .sparkSchema(spark, new org.apache.hadoop.fs.Path(f.toUri))
    val entry = ss.readManifest("t", 1L).find(_.startsWith("tiny:")).get
    val Seq(fast) = parquetFiles(java.nio.file.Paths.get(dir, "t", "data",
      entry.stripPrefix("tiny:")))
    val sparkDir = java.nio.file.Paths.get(tmp(), "spark_written")
    df.coalesce(1).write.parquet(sparkDir.toString)
    val Seq(written) = parquetFiles(sparkDir)
    assert(footer(fast).isDefined)
    assert(footer(fast) === footer(written))
    val (read, jobs) = JobCounter(spark.sparkContext)(ss.readTable("t", "tiny"))
    assert(jobs.isEmpty, s"read started jobs $jobs")
    assert(read.schema === spark.read.parquet(fast.toString).schema)
    assert(read.collect().toSet === Set(Row(1L, "x"), Row(2L, null)))
  }
}
