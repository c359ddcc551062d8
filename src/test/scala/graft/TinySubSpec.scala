package graft

import graft.sources.SnapshotStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Driver-held (LocalRelation) staged frames are written by Spark's own
  * parquet writer called on the driver, without a Spark job, and a plain
  * sub's watermark row is read back on the driver by Spark's own reader
  * (the watermark pattern every view refresh pays per commit). These
  * specs pin the load-bearing claim: those files and rows are the ones a
  * Spark job writes and reads — identical schema, rows, codec and footer
  * keys, for any type — and bucketed subs keep the Spark read. */
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

  test("TS2: primitive types and nulls round-trip the driver write, " +
      "and tinySubHead ≡ the Spark read") {
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
    val (head, jobs) = JobCounter(spark.sparkContext)(
      ss.tinySubHead("t", 1L, "tiny"))
    assert(jobs.isEmpty, s"tinySubHead started jobs $jobs")
    assert(head === viaSpark.head())
    assert(head.schema === viaSpark.schema)
    // schema-qualified access works (the getAs[.](name) watermark read)
    assert(head.getAs[Long]("l") === 1L)
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
    // an empty sub: head()'s standard error, as from the Spark read
    intercept[NoSuchElementException](ss.tinySubHead("t", 1L, "e"))
  }

  test("TS4: every type stages and reads back on the driver with 0 jobs; " +
      "bucketed subs fall back") {
    val dir = tmp()
    val ss = new SnapshotStore(spark, dir)
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("p", DecimalType(18, 4)), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("a", ArrayType(LongType)),
      StructField("st", StructType(Seq(StructField("x", LongType),
        StructField("y", StringType)))),
      StructField("bin", BinaryType)))
    val rows = Seq(
      Row(1L, new java.math.BigDecimal("1.5000"),
        java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.123456"),
        Seq(1L, null, 3L), Row(7L, "s"), Array[Byte](1, 2, 3)),
      Row(2L, null, null, null, null, null, null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val (_, stageJobs) = JobCounter(spark.sparkContext)(
      ss.commitTables("t", overwrites = Map("lit" -> df)))
    assert(stageJobs.isEmpty, s"staging started jobs $stageJobs")
    val sparkDir = java.nio.file.Paths.get(tmp(), "spark_written").toString
    df.coalesce(1).write.parquet(sparkDir)
    val written = spark.read.parquet(sparkDir)
    val back = ss.readTable("t", "lit")
    assert(back.schema === written.schema)
    assert(back.orderBy("k").collect().toSeq ===
      written.orderBy("k").collect().toSeq)
    val entry = ss.readManifest("t", 1L).find(_.startsWith("lit:")).get
    def footerSchema(d: String) = graft.sources.ParquetFooters.inferredSchema(
      spark, Seq(java.nio.file.Paths.get(d)))
    assert(footerSchema(s"$dir/t/data/${entry.stripPrefix("lit:")}").isDefined)
    assert(footerSchema(s"$dir/t/data/${entry.stripPrefix("lit:")}") ===
      footerSchema(sparkDir))
    val (head, headJobs) = JobCounter(spark.sparkContext)(
      ss.tinySubHead("t", 1L, "lit"))
    assert(headJobs.isEmpty, s"tinySubHead started jobs $headJobs")
    assert(head === back.head())
    // bucketed sub: tinySubHead takes the catalog read
    ss.commitTables("b", overwrites = Map(
      "bkt" -> Seq((1L, 2L)).toDF("k", "v")),
      buckets = Map("bkt" -> graft.sources.SubBucket("k", 4)))
    assert(ss.tinySubHead("b", 1L, "bkt") === Row(1L, 2L))
    assert(ss.readTable("b", "bkt").count() === 1L)
    ss.dropCatalogTables("b")
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

  test("TS8: a driver-written sub follows the session's parquet codec " +
      "and carries the footer keys of a Spark write") {
    withSQLConf("spark.sql.parquet.compression.codec" -> "zstd") {
      val dir = tmp()
      val ss = new SnapshotStore(spark, dir)
      val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      ss.commitTables("t", overwrites = Map("lit" -> df))
      val sparkDir = java.nio.file.Paths.get(tmp(), "spark_written")
      df.coalesce(1).write.parquet(sparkDir.toString)
      import scala.jdk.CollectionConverters._
      def onlyFile(d: java.nio.file.Path) = {
        val s = java.nio.file.Files.list(d)
        val Seq(f) = try s.iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq finally s.close()
        f
      }
      def footer(f: java.nio.file.Path) = graft.sources.ParquetFooters
        .footer(spark.sessionState.newHadoopConf(),
          new org.apache.hadoop.fs.Path(f.toUri), skipRowGroups = false)
      def codecs(f: java.nio.file.Path) = footer(f).getBlocks.asScala
        .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
      def keys(f: java.nio.file.Path) =
        footer(f).getFileMetaData.getKeyValueMetaData.keySet.asScala.toSet
      val entry = ss.readManifest("t", 1L).find(_.startsWith("lit:")).get
      val local = onlyFile(java.nio.file.Paths.get(dir, "t", "data",
        entry.stripPrefix("lit:")))
      val written = onlyFile(sparkDir)
      assert(codecs(local) === Set("ZSTD"))
      assert(codecs(local) === codecs(written))
      assert(keys(local) === keys(written))
      assert(keys(local).contains("org.apache.spark.version"))
      assert(local.getFileName.toString.endsWith(".zstd.parquet"))
    }
  }

  test("TS9: tinySubHead reads plain, cloned and evolved-schema meta subs " +
      "from the manifest and footer with 0 jobs, equal to the Spark " +
      "read's head()") {
    val dir = tmp()
    val ss = new SnapshotStore(spark, dir)
    ss.commitTables("t", overwrites = Map(
      "data" -> spark.range(5).toDF,
      "meta" -> graft.ops.RelOps.localLongRow(spark, "src_v" -> 7L)))
    // evolved: the next meta is wider, and Spark-written (not a literal)
    ss.commitTables("t", overwrites = Map(
      "meta" -> spark.range(1).select(lit(8L).as("src_v"),
        lit("note").as("why"))))
    // cloned: the clone's meta entry cross-references t's file
    ss.cloneTable("c", "t")
    assert(ss.readManifest("c", 1L).exists(_.startsWith("meta:../../t/")))
    Seq(("t", 1L, Row(7L)), ("t", 2L, Row(8L, "note")),
        ("c", 1L, Row(8L, "note"))).foreach { case (t, v, want) =>
      val (head, jobs) = JobCounter(spark.sparkContext)(
        ss.tinySubHead(t, v, "meta"))
      assert(jobs.isEmpty, s"$t v$v: tinySubHead started jobs $jobs")
      val viaSpark = ss.readTableVersion(t, v, "meta")
      assert(head === viaSpark.head(), s"$t v$v")
      assert(head.schema === viaSpark.schema, s"$t v$v")
      assert(head === want, s"$t v$v")
    }
  }
}
