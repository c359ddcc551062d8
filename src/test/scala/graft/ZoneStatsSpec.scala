package graft

import graft.sources.SnapshotStore
import org.apache.spark.sql.functions._

/** r18 optimization round: zone sidecars derive from parquet FOOTERS
  * instead of a readback scan whenever footers can serve exact stats.
  * These specs pin the load-bearing claim — the footer path and the
  * readback-scan path produce THE SAME SIDECAR (rows, types, parquet
  * schema) on identical data — per supported type, across NULL
  * patterns, and that unsupported types (double) and declared blooms
  * still take the scan path. */
class ZoneStatsSpec extends SparkSpec {

  import spark.implicits._

  private def sidecar(dir: String, t: String, v: Long) =
    spark.read.parquet(s"$dir/$t/zones/v$v")

  private def sidecarParquetSchema(dir: String, t: String, v: Long): String = {
    val d = java.nio.file.Paths.get(s"$dir/$t/zones/v$v")
    val part = java.nio.file.Files.list(d).iterator()
    val files = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
    while (part.hasNext) {
      val p = part.next()
      val n = p.getFileName.toString
      if (!n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet"))
        files += p
    }
    assert(files.size === 1)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(files.head.toUri),
      spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema.toString finally r.close()
  }

  private def normalized(df: org.apache.spark.sql.DataFrame)
      : Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: java.math.BigDecimal => d.stripTrailingZeros()
      case x => x
    }).toSet

  /** Commit the same frame keyed on `key` twice — once through the
    * footer path, once with the scan fallback forced — and require
    * identical sidecars (row content AND the written parquet schema). */
  private def assertPathsAgree(df: org.apache.spark.sql.DataFrame,
      key: String, numFiles: Int = 4): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("zstats_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwriteKeyed("a", key, df, numFiles)
    assert(ss.lastZoneStatsFromFooters,
      s"key '$key' should be footer-servable but fell back to the scan")
    ss.zoneStatsForceScan = true
    try ss.commitOverwriteKeyed("b", key, df, numFiles)
    finally ss.zoneStatsForceScan = false
    assert(!ss.lastZoneStatsFromFooters)
    val (fa, fb) = (sidecar(dir, "a", 1), sidecar(dir, "b", 1))
    assert(fa.schema === fb.schema)
    assert(sidecarParquetSchema(dir, "a", 1)
      === sidecarParquetSchema(dir, "b", 1))
    // file names differ per write; compare (lo, hi, n) sets + file count
    val stats = (d: org.apache.spark.sql.DataFrame) =>
      normalized(d.drop("f"))
    assert(stats(fa) === stats(fb))
    assert(fa.count() === fb.count())
    // and the manifest's file-granular entries point at real files
    val entries = ss.readManifest("a", 1)
    assert(entries.nonEmpty && entries.forall(e =>
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/a/data/$e"))))
  }

  test("footer zone stats ≡ readback scan: long key with an all-NULL " +
      "low range file and a duplicate-heavy range") {
    val df = (Seq.fill(40)(null.asInstanceOf[java.lang.Long]) ++
        (1L to 200L).map(java.lang.Long.valueOf) ++
        Seq.fill(60)(java.lang.Long.valueOf(77L)))
      .map(Option(_).map(_.longValue))
      .zipWithIndex.toDF("k", "payload")
      .select(col("k"), concat(lit("p"), col("payload")).as("payload"))
    assertPathsAgree(df, "k")
  }

  test("footer zone stats ≡ readback scan: string key incl. empty, " +
      "unicode and unsigned-byte-order cases") {
    val df = Seq("", "a", "ß", "žž", "ÿ", "Z", "~tilde", "0",
        "épée", "日本", "ctl", "zz")
      .zipWithIndex.map { case (s, i) => (s, i.toLong) }.toDF("s", "i")
    assertPathsAgree(df, "s")
  }

  test("footer zone stats ≡ readback scan: date, timestamp, decimal " +
      "and int keys") {
    val base = spark.range(0, 300).select(
      col("id"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") % 97).cast("int")).as("d"),
      timestamp_seconds(lit(1700000000L) + col("id") * 37).as("ts"),
      (col("id").cast("decimal(12,2)") * lit(new java.math.BigDecimal(
        "1.05"))).cast("decimal(18,4)").as("dec"),
      (col("id") % 1000 - 500).cast("int").as("i"))
    assertPathsAgree(base, "d")
    // the session default writes INT96 timestamps (footer-opaque —
    // those fall back to the scan, covered below); MICROS-written
    // timestamps must be footer-servable
    withSQLConf(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      assertPathsAgree(base, "ts")
    }
    assertPathsAgree(base, "dec")
    assertPathsAgree(base, "i")
  }

  test("unsupported stat type (double) and a declared bloom both take " +
      "the scan fallback and still produce correct stats") {
    val dir = java.nio.file.Files.createTempDirectory("zstats_fb_").toString
    val ss = new SnapshotStore(spark, dir)
    val df = spark.range(0, 100).select(col("id"),
      (col("id") * 1.5).as("x"))
    ss.commitOverwriteKeyed("dbl", "x", df, 4)
    assert(!ss.lastZoneStatsFromFooters,
      "double stats are NaN-unreliable in footers — must scan")
    val z = sidecar(dir, "dbl", 1)
    assert(z.agg(min("lo__x"), max("hi__x"), sum("n")).head.toSeq
      === Seq(0.0, 148.5, 100L))
    // bloomed table: the bitset needs the data pass
    ss.declareBloom("blm", "id", 64, 3)
    ss.commitOverwriteKeyed("blm", "id", spark.range(0, 50).toDF("id"), 2)
    assert(!ss.lastZoneStatsFromFooters)
    val zb = sidecar(dir, "blm", 1)
    assert(zb.columns.contains("bloom"))
    assert(zb.agg(min("lo__id"), max("hi__id"), sum("n")).head.toSeq
      === Seq(0L, 49L, 50L))
  }

  test("footer stats flow through the carry tail: a CoW merge's fresh " +
      "rows union with carried rows and file-granular reuse holds") {
    val dir = java.nio.file.Files.createTempDirectory("zstats_cow_").toString
    val ss = new SnapshotStore(spark, dir)
    val base = spark.range(0, 160).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    ss.commitOverwriteKeyed("t", "k", base, 16)
    val target = base.withColumn("v",
      when(col("k").isin(3L, 7L), concat(lit("V"), col("k")))
        .otherwise(col("v")))
    val diff = graft.ops.CdcOps.snapshotDiff(base, target, "k", Seq("v"))
      .filter(col("change_type") =!= "unchanged")
    val (v2, reusedN) = ss.commitMergeCow("t", "k", diff)
    assert(v2 === 2L && reusedN >= 14)
    assert(ss.lastZoneStatsFromFooters)
    // content is exact and the sidecar still covers every live file
    val got = ss.readCurrent("t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(3L) === "V3" && got(7L) === "V7" && got(5L) === "v5")
    assert(got.size === 160)
    val z = sidecar(dir, "t", 2)
    assert(z.select("f").as[String].collect().toSet
      === ss.readManifest("t", 2).toSet)
    assert(z.agg(sum("n")).head.getLong(0) === 160L)
  }
}
