package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.SnapshotStore

/** File-level data skipping on the versioned store: a clustered commit
  * writes per-file zone stats in the same commit as its files, and range
  * reads prune against them. Pins the two claims that matter: the pruned
  * read opens FEWER files than the version holds, and returns exactly the
  * rows the full-scan filter returns. */
class DataSkippingSpec extends SparkSpec {

  import spark.implicits._

  private def store(prefix: String): SnapshotStore = new SnapshotStore(spark,
    java.nio.file.Files.createTempDirectory(prefix).toString)

  private def orders: DataFrame = env.orders.select("o_orderkey", "o_totalprice")

  private def keys(df: DataFrame): Seq[Long] =
    df.select("o_orderkey").as[Long].collect().sorted.toSeq

  /** Version `v`'s zone rows, as (file, row) pairs. */
  private def zoneRows(ss: SnapshotStore, v: Long)
      : Set[(String, Seq[Any])] =
    ss.readZones("t", v).get.collect()
      .map(r => (r.getAs[String]("f"), r.toSeq)).toSet

  test("readVersionWhere prunes files on a clustered version and matches " +
      "the full-scan filter exactly") {
    val ss = store("skip_store_")
    ss.commitOverwriteKeyed("t", "o_totalprice", orders, numFiles = 8)
    assert(ss.readZones("t", 1L).get.count() === 8) // one zone row per file
    val full = ss.readVersion("t", 1L)
    val (lo, hi) = (100000.0, 150000.0)
    val pruned = ss.readVersionWhere("t", 1L, "o_totalprice", lo, hi)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"no files skipped: ${pruned.inputFiles.length} of ${full.inputFiles.length}")
    val got = keys(pruned)
    assert(got === keys(full.filter(col("o_totalprice").between(lo, hi))))
    assert(got.nonEmpty)
  }

  test("a zoned append adds zone rows for its own files only; the carried " +
      "rows are unchanged and pruned reads see the appended rows") {
    val ss = store("skip_store3_")
    ss.commitOverwriteKeyed("t", "o_totalprice",
      orders.filter(col("o_orderkey") < 1000), numFiles = 4)
    val before = zoneRows(ss, 1L)
    val v = ss.commitAppendZoned("t",
      orders.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 1100))
    val after = zoneRows(ss, v)
    val added = after -- before
    // carried rows byte-identical, one new row per appended file
    assert(before.subsetOf(after))
    assert(added.nonEmpty && added.map(_._1) ===
      (ss.readManifest("t", v).toSet -- ss.readManifest("t", 1L)))
    assert(after.map(_._1) === ss.readManifest("t", v).toSet)
    // a pruned read over the whole range covers the appended rows too
    assert(ss.readVersionWhere("t", v, "o_totalprice", 0.0, 1e9).count()
      === ss.readVersion("t", v).count())
  }

  test("a full rewrite's zones cover exactly the live files: no zone row " +
      "of a replaced file survives, and pruned reads stay exact") {
    val ss = store("skip_store4_")
    ss.commitOverwriteKeyed("t", "o_totalprice", orders, numFiles = 6)
    // compaction replaces EVERY file
    val v = ss.compactKeyed("t", "o_totalprice", numFiles = 2)
    val zoned = zoneRows(ss, v).map(_._1)
    assert(zoned.size === 2) // one zone per compacted file
    assert(zoned === ss.readManifest("t", v).toSet)
    assert((zoned & ss.readManifest("t", 1L).toSet).isEmpty)
    val (lo, hi) = (100000.0, 150000.0)
    val got = keys(ss.readVersionWhere("t", v, "o_totalprice", lo, hi))
    assert(got === keys(ss.readVersion("t", v)
      .filter(col("o_totalprice").between(lo, hi))))
    assert(got.nonEmpty)
  }

  test("multi-column zonemap: a 2-predicate read skips more files than " +
      "either predicate alone; refresh maintains every column's zones") {
    val ss = store("skip_store5_")
    // two correlated columns (k2 = key + 1000): z-ordering on both makes
    // BOTH columns' zones narrow, so each predicate prunes
    val df = orders.withColumn("k2", col("o_orderkey") + 1000)
    ss.commitOverwriteZordered("t", Seq("o_orderkey", "k2"), df, numFiles = 8)
    val zones = ss.readZones("t", 1L).get
    assert(zones.count() === 8)
    assert(zones.columns.toSet === Set("f", "n",
      "lo__o_orderkey", "hi__o_orderkey", "lo__k2", "hi__k2"))
    val maxKey = df.agg(max("o_orderkey")).head.getLong(0)
    // predicate A: first ~quarter of keys; predicate B: keys shifted by
    // 1000 covering the second ~quarter — the conjunction intersects in
    // a sliver around the quarter boundary
    val pA = s"o_orderkey BETWEEN 0 AND ${maxKey / 4}"
    val pB = s"k2 BETWEEN ${maxKey / 5 + 1000} AND ${maxKey / 2 + 1000}"
    def opened(p: String) = ss.pruneFilesForPredicate("t", 1L, p)._1.size
    val total = ss.readManifest("t", 1L).size
    assert(opened(s"$pA AND $pB") < math.min(opened(pA), opened(pB)))
    assert(opened(pA) < total && opened(pB) < total)
    // result equality with the full-scan conjunction
    val got = keys(ss.readVersionWherePredicate("t", 1L, s"$pA AND $pB"))
    assert(got === keys(ss.readVersion("t", 1L)
      .filter(col("o_orderkey").between(0, maxKey / 4) &&
        col("k2").between(maxKey / 5 + 1000, maxKey / 2 + 1000))))
    assert(got.nonEmpty)
    // a zoned append's own zone rows carry EVERY column's range
    val v = ss.commitAppendZoned("t",
      df.filter(col("o_orderkey") > maxKey - 100)
        .withColumn("o_orderkey", col("o_orderkey") + maxKey))
    val fresh = ss.readZones("t", v).get
      .filter(!col("f").isin(ss.readManifest("t", 1L): _*))
    assert(fresh.count() > 0)
    assert(fresh.filter(col("lo__o_orderkey").isNull ||
      col("lo__k2").isNull).isEmpty)
    assert(ss.readVersionWhere("t", v, "o_orderkey", 0L, 10L * maxKey).count()
      === ss.readVersion("t", v).count())
  }

  test("z-order layout: a range predicate on EITHER clustered column " +
      "prunes files; linear clustering prunes only its own column") {
    val lin = store("skip_linear_")
    val zord = store("skip_zorder_")
    // o_orderkey and o_totalprice are statistically independent — the
    // case where a single-column sort cannot help the other predicate
    lin.commitOverwriteKeyed("t", "o_totalprice", orders, numFiles = 16)
    zord.commitOverwriteZordered("t", Seq("o_totalprice", "o_orderkey"),
      orders, numFiles = 16)
    val total = zord.readManifest("t", 1L).size
    assert(total === 16)
    val maxKey = orders.agg(max("o_orderkey")).head.getLong(0)
    // a key range on the price-clustered version: nothing skips
    assert(lin.pruneFiles("t", 1L, "o_orderkey", 0L, maxKey / 8)._2.isEmpty)
    assert(lin.pruneFiles("t", 1L, "o_totalprice", 100000.0, 150000.0)
      ._2.nonEmpty)
    // z-ordered files own key×price hypercubes: most files skip on a
    // 1/8-of-domain key slab (z-curve bound: ~sqrt fraction touched)
    val zKeyFiles = zord.pruneFiles("t", 1L, "o_orderkey", 0L, maxKey / 8)
      ._1.size
    assert(zKeyFiles * 2 <= total, s"key predicate read $zKeyFiles of $total")
    // the price predicate still prunes the z version too (both columns win)
    val zPriceFiles = zord.pruneFiles("t", 1L, "o_totalprice", 100000.0,
      150000.0)._1.size
    assert(zPriceFiles < total, s"price predicate read $zPriceFiles of $total")
    // exactness: conjunctive pruned read ≡ full-scan conjunctive filter
    val got = keys(zord.readVersionWherePredicate("t", 1L,
      s"o_orderkey BETWEEN 0 AND ${maxKey / 8} AND " +
        "o_totalprice BETWEEN 100000.0 AND 150000.0"))
    assert(got === keys(zord.readVersion("t", 1L)
      .filter(col("o_orderkey").between(0L, maxKey / 8) &&
        col("o_totalprice").between(100000.0, 150000.0))))
    assert(got.nonEmpty)
    // the rewrite loses no rows
    assert(zord.readVersion("t", 1L).count() === orders.count())
  }

  test("zone entries resolve literally under a store root containing " +
      "glob metacharacters") {
    val base = java.nio.file.Files.createTempDirectory("skip_glob_")
    // a root like .../v[1]{2}/ — every file path then contains
    // characters Hadoop's glob expansion would interpret
    val dir = base.resolve("v[1]{2}")
    java.nio.file.Files.createDirectories(dir)
    val ss = new SnapshotStore(spark, dir.toString)
    ss.commitOverwriteKeyed("t", "o_totalprice",
      orders.filter(col("o_orderkey") % 2 === 0), numFiles = 4)
    assert(ss.readVersionWhere("t", 1L, "o_totalprice", 0.0, 1e9).count()
      === ss.readVersion("t", 1L).count())
    // a zoned append feeds its new files' paths through the same reads
    val v = ss.commitAppendZoned("t",
      orders.filter(col("o_orderkey") % 2 === 1).limit(50))
    val all = ss.readVersionWhere("t", v, "o_totalprice", 0.0, 1e9).count()
    assert(all === ss.readVersion("t", v).count() && all > 0)
    val (lo, hi) = (100000.0, 150000.0)
    val pruned = ss.readVersionWhere("t", v, "o_totalprice", lo, hi)
    assert(pruned.inputFiles.length < ss.readManifest("t", v).size)
    assert(keys(pruned) === keys(ss.readVersion("t", v)
      .filter(col("o_totalprice").between(lo, hi))))
  }

  test("an unzoned plain-append dir is always chosen: the pruned read " +
      "stays exact and still skips zoned files") {
    val ss = store("skip_plain_")
    ss.commitOverwriteKeyed("t", "o_totalprice",
      orders.filter(col("o_orderkey") % 2 === 0), numFiles = 8)
    // a plain append carries the zones but adds none for its own dir
    val v = ss.commitAppend("t", orders.filter(col("o_orderkey") % 2 === 1))
    val dir = s"v$v"
    assert(ss.readManifest("t", v).contains(dir))
    assert(!zoneRows(ss, v).map(_._1).contains(dir))
    val (lo, hi) = (100000.0, 150000.0)
    val (pick, skip) = ss.pruneFiles("t", v, "o_totalprice", lo, hi)
    assert(pick.contains(dir) && skip.nonEmpty)
    // a range no zoned file holds still opens the unzoned dir
    assert(ss.pruneFiles("t", v, "o_totalprice", -2.0, -1.0)._1 === Seq(dir))
    val got = keys(ss.readVersionWhere("t", v, "o_totalprice", lo, hi))
    assert(got === keys(ss.readVersion("t", v)
      .filter(col("o_totalprice").between(lo, hi))))
    assert(got.exists(_ % 2 == 1)) // appended rows are found
  }

  test("statsFromZones answers count/min/max from the zone sidecar alone " +
      "and matches the full scan") {
    val ss = store("skip_store_soa_")
    ss.commitOverwriteZordered("t", Seq("o_orderkey", "o_totalprice"),
      orders, numFiles = 8)
    val got = ss.statsFromZones("t", 1L)
    // the aggregate reads ONLY the zone sidecar, never a data file
    assert(got.inputFiles.forall(!_.contains("/data/")),
      s"stats aggregate must not open a data file: ${got.inputFiles.toSeq}")
    val want = ss.readVersion("t", 1L).agg(
      count(lit(1)).as("n_rows"),
      min("o_orderkey").as("lo__o_orderkey"),
      max("o_orderkey").as("hi__o_orderkey"),
      min("o_totalprice").as("lo__o_totalprice"),
      max("o_totalprice").as("hi__o_totalprice")).collect()(0)
    val g = got.collect()(0)
    assert(g.getAs[Long]("n_rows") === want.getAs[Long]("n_rows"))
    Seq("lo__o_orderkey", "hi__o_orderkey").foreach(c =>
      assert(g.getAs[Long](c) === want.getAs[Long](c), c))
    Seq("lo__o_totalprice", "hi__o_totalprice").foreach(c =>
      assert(g.getAs[Double](c) === want.getAs[Double](c), c))
  }

  test("statsFromZones refuses a version with an unzoned plain append; " +
      "a zoned rewrite heals") {
    val ss = store("skip_store_soa2_")
    ss.commitOverwriteKeyed("t", "o_orderkey",
      orders.filter(col("o_orderkey") < 1000), numFiles = 4)
    val before = ss.statsFromZones("t", 1L).collect()(0)
    val v = ss.commitAppend("t",
      orders.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000))
    // entries without zone rows → refuse, never silently undercount
    val e = intercept[IllegalArgumentException](ss.statsFromZones("t", v))
    assert(e.getMessage.contains("plain append"))
    val healed = ss.compactKeyed("t", "o_orderkey", numFiles = 4)
    val after = ss.statsFromZones("t", healed).collect()(0)
    assert(after.getAs[Long]("n_rows") === ss.readVersion("t", healed).count())
    assert(after.getAs[Long]("n_rows") > before.getAs[Long]("n_rows"))
    assert(after.getAs[Long]("hi__o_orderkey") >= 1000L)
  }

  test("readVersionWhere outside every zone opens no file and returns " +
      "empty without failing") {
    val ss = store("skip_store2_")
    ss.commitOverwriteKeyed("t", "o_totalprice", orders, numFiles = 4)
    assert(ss.pruneFiles("t", 1L, "o_totalprice", -2.0, -1.0)._1.isEmpty)
    assert(ss.readVersionWhere("t", 1L, "o_totalprice", -2.0, -1.0)
      .count() === 0)
  }
}
