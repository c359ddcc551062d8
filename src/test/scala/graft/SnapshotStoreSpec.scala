package graft

import graft.sources.{SnapshotSql, SnapshotStore}
import org.apache.spark.sql.functions.{col, concat, expr, lit, when}

/** X141: versioned snapshot tables — linear history, time-travel reads,
  * metadata-only rollback, and the failure contract (a commit that dies
  * before the pointer swap is invisible). */
class SnapshotStoreSpec extends SparkSpec {

  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("X141: overwrite/append build linear versions; every old version " +
      "stays readable; rollback is a new metadata-only version") {
    val dir = java.nio.file.Files.createTempDirectory("snap_").toString
    val ss = new SnapshotStore(spark, dir)
    assert(ss.commitOverwrite("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      === 1L)
    assert(ss.commitAppend("t", Seq((3L, "c")).toDF("k", "v")) === 2L)
    assert(ss.commitOverwrite("t", Seq((9L, "z")).toDF("k", "v")) === 3L)
    assert(rows(ss.readVersion("t", 1)) === Set((1L, "a"), (2L, "b")))
    assert(rows(ss.readVersion("t", 2)) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(ss.readCurrent("t")) === Set((9L, "z")))
    // rollback: current content returns to v2, but as version 4 —
    // history is append-only and the bad v3 remains auditable
    assert(ss.rollback("t", 2) === 4L)
    assert(rows(ss.readCurrent("t")) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(ss.readVersion("t", 3)) === Set((9L, "z")))
    assert(ss.versions("t") === (1L to 4L))
  }

  test("X141: a commit that dies before the pointer swap leaves the old " +
      "version fully readable; vacuum removes only the orphan") {
    val dir = java.nio.file.Files.createTempDirectory("snap_fail_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, "a")).toDF("k", "v"))
    // the commit's pre-swap half: data + manifest staged, pointer untouched
    ss.stage("t", 2L, Some(Seq((2L, "b")).toDF("k", "v")), Seq("v2"))
    assert(ss.currentVersion("t") === 1L)
    assert(ss.versions("t") === Seq(1L))
    assert(rows(ss.readCurrent("t")) === Set((1L, "a")))
    intercept[IllegalArgumentException](ss.readVersion("t", 2L))
    // vacuum deletes exactly the abandoned dir, not committed data
    assert(ss.vacuum("t") === Seq("v2"))
    assert(rows(ss.readCurrent("t")) === Set((1L, "a")))
    // a retried commit then lands as version 2 and reads back whole
    assert(ss.commitAppend("t", Seq((2L, "b")).toDF("k", "v")) === 2L)
    assert(rows(ss.readCurrent("t")) === Set((1L, "a"), (2L, "b")))
    assert(ss.vacuum("t") === Nil)
  }

  test("X141b: commitMerge applies a CDC diff as a new version; a bad " +
      "merge is undone by metadata-only rollback") {
    val dir = java.nio.file.Files.createTempDirectory("snap_merge_").toString
    val ss = new SnapshotStore(spark, dir)
    val a = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val b = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "v")
    ss.commitOverwrite("t", a)
    // update 2, delete 3, insert 4 — applied while v1's files are read
    assert(ss.commitMerge("t", "k",
      graft.ops.CdcOps.snapshotDiff(a, b, "k", Seq("v"))) === 2L)
    assert(rows(ss.readCurrent("t")) === Set((1L, "a"), (2L, "B"), (4L, "d")))
    ss.rollback("t", 1L)
    assert(rows(ss.readCurrent("t")) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(ss.readVersion("t", 2L)) ===
      Set((1L, "a"), (2L, "B"), (4L, "d")))
  }

  test("X141d: CoW merge rewrites ONLY the files touched keys intersect; " +
      "untouched files carry by reference; content ≡ the semantics of a " +
      "full-rewrite merge; a second CoW still prunes") {
    import graft.ops.CdcOps
    val dir = java.nio.file.Files.createTempDirectory("snap_cow_").toString
    val ss = new SnapshotStore(spark, dir)
    val a = spark.range(0L, 1000L).selectExpr("id AS k",
      "CAST(id * 2 AS DOUBLE) AS v")
    ss.commitOverwriteKeyed("t", "k", a, numFiles = 8)
    val v1Files = ss.readManifest("t", 1L)
    assert(v1Files.size >= 6 && v1Files.forall(_.contains("/")),
      s"expected a file-granular manifest, got $v1Files")
    // changes touch ONLY keys < 100 (plus one out-of-range insert):
    // update evens, delete k=55, insert k=5000
    val b = a.filter($"k" >= 100 || ($"k" < 100 && $"k" =!= 55L))
      .selectExpr("k", "CASE WHEN k < 100 AND k % 2 = 0 THEN v + 0.5 " +
        "ELSE v END AS v")
      .unionByName(Seq((5000L, 1.0)).toDF("k", "v"))
    val diff = CdcOps.snapshotDiff(a, b, "k", Seq("v"))
      .filter($"change_type" =!= "unchanged")
    val (v2, reused) = ss.commitMergeCow("t", "k", diff)
    assert(v2 === 2L)
    assert(reused >= v1Files.size - 2,
      s"only the low-range file(s) may rewrite; reused $reused of ${v1Files.size}")
    // untouched files are the SAME entries, by reference
    assert(ss.readManifest("t", 2L).toSet.intersect(v1Files.toSet).size
      === reused)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").as[(Long, Double)].collect().toSet
    assert(rows(ss.readCurrent("t")) === rows(b))
    assert(rows(ss.readVersion("t", 1L)) === rows(a)) // time travel intact
    // a second CoW on the merged state keeps pruning (zones carried)
    val c = b.filter($"k" =!= 0L)
    val diff2 = CdcOps.snapshotDiff(b, c, "k", Seq("v"))
      .filter($"change_type" =!= "unchanged")
    val (v3, reused2) = ss.commitMergeCow("t", "k", diff2)
    assert(v3 === 3L && reused2 > 0)
    assert(rows(ss.readCurrent("t")) === rows(c))
    // rollback across CoW versions stays metadata-only and correct
    ss.rollback("t", 2L)
    assert(rows(ss.readCurrent("t")) === rows(b))
    // vacuum must not touch dirs whose files are still referenced
    assert(ss.vacuum("t") === Nil)
    assert(rows(ss.readCurrent("t")) === rows(b))
  }

  test("X141d: CoW merge into a stats-free table is refused with a " +
      "pointer at the full-rewrite path") {
    val dir = java.nio.file.Files.createTempDirectory("snap_cow2_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, "a")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException] {
      ss.commitMergeCow("t", "k",
        Seq((1L, "delete", "a", null.asInstanceOf[String]))
          .toDF("k", "change_type", "old_v", "new_v"))
    }
    assert(e.getMessage.contains("zone stats"))
  }

  test("X141e: expireVersions moves the history floor; vacuum reclaims " +
      "only dirs no LIVE manifest references; CoW-shared files survive " +
      "expiry of the version that wrote them") {
    import graft.ops.CdcOps
    val dir = java.nio.file.Files.createTempDirectory("snap_exp_").toString
    val ss = new SnapshotStore(spark, dir)
    val a = spark.range(0L, 1000L).selectExpr("id AS k",
      "CAST(id AS DOUBLE) AS v")
    ss.commitOverwriteKeyed("t", "k", a, numFiles = 8)
    // CoW v2 reuses most of v1's files by reference
    val b = a.filter($"k" =!= 7L)
    val (_, reusedN) = ss.commitMergeCow("t", "k",
      CdcOps.snapshotDiff(a, b, "k", Seq("v"))
        .filter($"change_type" =!= "unchanged"))
    assert(reusedN > 0)
    // expiring v1 while v2 still references v1's files: NOTHING reclaimed
    assert(ss.expireVersions("t", 2L) === Nil)
    assert(ss.versions("t") === Seq(2L))
    intercept[IllegalArgumentException](ss.readVersion("t", 1L))
    intercept[IllegalArgumentException](ss.rollback("t", 1L))
    assert(ss.readCurrent("t").count() === 999L) // shared files intact
    // a plain overwrite (v3) drops every reference to v1/v2's dirs;
    // expiring below it reclaims them
    ss.commitOverwrite("t", Seq((1L, 1.0)).toDF("k", "v"))
    val reclaimed = ss.expireVersions("t", 3L)
    assert(reclaimed === Seq("v1", "v2"))
    assert(ss.versions("t") === Seq(3L))
    assert(ss.readCurrent("t").count() === 1L)
  }

  test("X141e: compactKeyed folds the file set as a new version with " +
      "content unchanged; a later CoW merge prunes against its zones") {
    import graft.ops.CdcOps
    val dir = java.nio.file.Files.createTempDirectory("snap_cpt_").toString
    val ss = new SnapshotStore(spark, dir)
    val a = spark.range(0L, 1000L).selectExpr("id AS k",
      "CAST(id AS DOUBLE) AS v")
    ss.commitOverwriteKeyed("t", "k", a, numFiles = 16)
    assert(ss.compactKeyed("t", "k", numFiles = 4) === 2L)
    assert(ss.readManifest("t", 2L).size <= 4)
    assert(ss.readCurrent("t").count() === 1000L)
    val b = a.filter($"k" =!= 0L)
    val (_, reusedN) = ss.commitMergeCow("t", "k",
      CdcOps.snapshotDiff(a, b, "k", Seq("v"))
        .filter($"change_type" =!= "unchanged"))
    assert(reusedN > 0, "post-compaction zones must still prune")
    assert(ss.readCurrent("t").count() === 999L)
  }

  test("X141d: a plain append between keyed commits keeps CoW alive — " +
      "zones carry forward and the stats-free appended dir is " +
      "conservatively rewritten; an empty-result merge stays readable") {
    import graft.ops.CdcOps
    val dir = java.nio.file.Files.createTempDirectory("snap_mix_").toString
    val ss = new SnapshotStore(spark, dir)
    val a = spark.range(0L, 800L).selectExpr("id AS k",
      "CAST(id AS DOUBLE) AS v")
    val app = spark.range(800L, 900L).selectExpr("id AS k",
      "CAST(id AS DOUBLE) AS v")
    ss.commitOverwriteKeyed("t", "k", a, numFiles = 8)
    ss.commitAppend("t", app) // stats-free dir enters the manifest
    val union = a.unionByName(app)
    // a diff touching ONLY k < 100 must still reuse the other keyed
    // files; the appended dir (no zone rows) rewrites conservatively
    val b = union.filter($"k" =!= 7L)
    val (v3, reused) = ss.commitMergeCow("t", "k",
      CdcOps.snapshotDiff(union, b, "k", Seq("v"))
        .filter($"change_type" =!= "unchanged"))
    assert(v3 === 3L && reused > 0 && reused <= 7,
      s"keyed files away from k=7 reuse, the appended dir must not: $reused")
    assert(ss.readCurrent("t").count() === 899L)
    // delete-everything merge: version stays readable (schema-bearing)
    val diffAll = CdcOps.snapshotDiff(b,
      b.filter(lit(false)), "k", Seq("v"))
      .filter($"change_type" =!= "unchanged")
    val (v4, _) = ss.commitMergeCow("t", "k", diffAll)
    assert(v4 === 4L)
    assert(ss.readCurrent("t").count() === 0L)
    assert(ss.readCurrent("t").schema.fieldNames.toSeq === Seq("k", "v"))
    // and an empty KEYED overwrite is readable too
    ss.commitOverwriteKeyed("t", "k", a.filter(lit(false)))
    assert(ss.readCurrent("t").count() === 0L)
  }

  test("X141f: readVersionWhere opens only zone-intersecting files and " +
      "returns exactly the filtered rows; stats-free versions fall back " +
      "whole") {
    val dir = java.nio.file.Files.createTempDirectory("snap_skip_").toString
    val ss = new SnapshotStore(spark, dir)
    val a = spark.range(0L, 1000L).selectExpr("id AS k",
      "CAST(id AS DOUBLE) AS v")
    ss.commitOverwriteKeyed("t", "k", a, numFiles = 8)
    val (pick, skipped) = ss.pruneFiles("t", 1L, "k", 100L, 220L)
    assert(pick.size <= 3 && skipped.size >= 5,
      s"a ~1/8 range must skip most of 8 range-clustered files, " +
        s"picked $pick")
    val got = ss.readVersionWhere("t", 1L, "k", 100L, 220L)
      .select("k").as[Long].collect().toSet
    assert(got === (100L to 220L).toSet)
    // out-of-range probe: zero files, zero rows, no error
    assert(ss.readVersionWhere("t", 1L, "k", 5000L, 6000L).count() === 0L)
    // stats-free version: conservative full read, same rows
    ss.commitOverwrite("plain", a)
    val (_, s2) = ss.pruneFiles("plain", 1L, "k", 100L, 220L)
    assert(s2 === Nil)
    assert(ss.readVersionWhere("plain", 1L, "k", 100L, 220L).count()
      === 121L)
  }

  test("readVersionWhere prunes only on a column the sidecar carries a " +
      "range for: a keyed version read on another column, and a " +
      "z-ordered version read on either z-column or an unclustered " +
      "one, equal the filtered full read") {
    val dir = java.nio.file.Files.createTempDirectory("snap_where_").toString
    val ss = new SnapshotStore(spark, dir)
    val df = spark.range(0L, 10000L).select(col("id").as("k"),
      (lit(9999L) - col("id")).as("g"), (col("id") % 7).as("m"))
    def full(v: Long, c: String, from: Long, to: Long): Set[Long] =
      ss.readVersion("t", v).filter(col(c).between(from, to))
        .select("k").as[Long].collect().toSet
    def where(v: Long, c: String, from: Long, to: Long): Set[Long] =
      ss.readVersionWhere("t", v, c, from, to).select("k").as[Long]
        .collect().toSet
    ss.commitOverwriteKeyed("t", "k", df, numFiles = 8)               // v1
    // g is not the clustering column: k's ranges must not prune it
    assert(full(1L, "g", 0L, 100L).size === 101)
    assert(where(1L, "g", 0L, 100L) === full(1L, "g", 0L, 100L))
    assert(ss.pruneFiles("t", 1L, "g", 0L, 100L)._2 === Nil)
    ss.commitOverwriteZordered("t", Seq("k", "g"), df, numFiles = 8)  // v2
    // g is a z-column: it prunes on its own range, exactly
    assert(where(2L, "g", 0L, 100L) === full(2L, "g", 0L, 100L))
    assert(ss.pruneFiles("t", 2L, "g", 0L, 100L)._2.nonEmpty)
    // m is not clustered: every file is read
    assert(where(2L, "m", 3L, 3L) === full(2L, "m", 3L, 3L))
    assert(ss.pruneFiles("t", 2L, "m", 3L, 3L)._2 === Nil)
  }

  test("the layout survives every rewrite: range on k and z-order on " +
      "(k, c) keep their sidecar stat columns, leave no marker file, and " +
      "every clustered column still prunes exactly") {
    import org.apache.spark.sql.DataFrame
    def fat = org.apache.spark.sql.functions.concat_ws("",
      (0 to 7).map(i => org.apache.spark.sql.functions.sha2(
        concat(lit(i.toString), col("id").cast("string")), 256)): _*)
    def batch(from: Long, to: Long): DataFrame = spark.range(from, to)
      .select(col("id").as("k"), (col("id") % 50).as("c"), fat.as("v"))
    val layouts: Seq[(String, Seq[String], (SnapshotStore, DataFrame) => Long)] =
      Seq(
        ("range", Seq("k"),
          (ss, df) => ss.commitOverwriteKeyed("t", "k", df, numFiles = 4)),
        ("z-order", Seq("k", "c"),
          (ss, df) => ss.commitOverwriteZordered("t", Seq("k", "c"), df,
            numFiles = 4, bits = 4)))
    val ops: Seq[(String, SnapshotStore => Any)] = Seq(
      "commitAppendZoned" -> (ss => ss.commitAppendZoned("t", batch(5000, 5100))),
      "commitMergeCow" -> { ss =>
        val cur = ss.readCurrent("t")
        ss.commitMergeCow("t", "k", graft.ops.CdcOps.snapshotDiff(cur,
            cur.withColumn("v", when(col("k") < 20L, lit("x"))
              .otherwise(col("v"))), "k", Seq("c", "v"))
          .filter(col("change_type") =!= "unchanged"))
      },
      "commitDeleteWhere" -> (ss =>
        ss.commitDeleteWhere("t", "k >= 100 AND k < 200")),
      "commitUpdateWhere" -> (ss =>
        ss.commitUpdateWhere("t", "k < 50", Map("v" -> "concat(v, 'x')"))),
      "commitDeleteKeys+compactDeleteKeys" -> { ss =>
        ss.commitDeleteKeys("t", Seq(3L, 7L, 1500L).toDF("k"))
        ss.compactDeleteKeys("t")
      },
      "optimizeSmallFiles" -> { ss =>
        (1 to 3).foreach(i => ss.commitAppend("t",
          Seq((5000L + i, 10L + i, s"s$i")).toDF("k", "c", "v").coalesce(1)))
        ss.optimizeSmallFiles("t", targetBytes = 1L << 20,
          smallBelowBytes = 64L << 10)
      })
    for ((layout, cols, overwrite) <- layouts; (op, run) <- ops) {
      val dir = java.nio.file.Files.createTempDirectory("snap_layout_").toString
      val ss = new SnapshotStore(spark, dir)
      def statCols(v: Long): Seq[String] = ss.readZones("t", v).get.columns
        .filter(c => c.startsWith("lo__") || c.startsWith("hi__")).toSeq
      overwrite(ss, batch(0, 2000))
      assert(statCols(1L) === cols.flatMap(c => Seq(s"lo__$c", s"hi__$c")))
      run(ss)
      val v = ss.currentVersion("t")
      val what = s"$layout / $op (v$v)"
      assert(v > 1L, s"$what committed nothing")
      assert(statCols(v) === statCols(1L), s"$what changed the stat columns")
      val markers = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "t", "meta")).iterator()
      while (markers.hasNext) assert(
        !markers.next().getFileName.toString.endsWith(".zonekey"), what)
      for ((c, from, to) <- Seq(("k", 0L, 100L), ("c", 0L, 5L))
           if cols.contains(c)) {
        assert(ss.pruneFiles("t", v, c, from, to)._2.nonEmpty,
          s"$what: $c no longer prunes")
        val where = ss.readVersionWhere("t", v, c, from, to)
          .select("k", "c", "v").collect().toSet
        assert(where === ss.readVersion("t", v).filter(col(c).between(from, to))
          .select("k", "c", "v").collect().toSet, s"$what: $c read differs")
      }
    }
  }

  test("X141 property: a seeded random walk of commit/append/merge/CoW/" +
      "rollback/expire/crash ops matches an in-memory model at every " +
      "step, for current AND a random live historical version") {
    import graft.ops.CdcOps
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("snap_model_").toString
    val ss = new SnapshotStore(spark, dir)
    val rng = new scala.util.Random(42) // fixed seed — deterministic walk
    var freshKey = 1000L
    def randContent(n: Int): Map[Long, Double] =
      (0 until n).map(_ => (rng.nextInt(50).toLong,
        rng.nextInt(1000).toDouble)).toMap
    def df(m: Map[Long, Double]) =
      m.toSeq.toDF("k", "v")
    def readAsMap(d: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      d.select("k", "v").as[(Long, Double)].collect().toMap
    // model: content per committed version, zone-capability flag per
    // version, and the expiry floor
    var versions = Vector.empty[Map[Long, Double]]
    var zoned = Vector.empty[Boolean]
    var floor = 0
    def diffTo(target: Map[Long, Double]) =
      CdcOps.snapshotDiff(df(versions.last), df(target), "k", Seq("v"))
        .filter(col("change_type") =!= "unchanged")
    val c0 = randContent(30)
    ss.commitOverwriteKeyed("t", "k", df(c0), numFiles = 4)
    versions :+= c0; zoned :+= true
    // fixed-step enrichments riding the walk (X141x/X141y): a CHECK
    // that always holds (every later staged commit then runs the
    // piggybacked validation), one deliberately violating append
    // (refused, model untouched), a zero-copy clone whose content must
    // stay FROZEN at its fork while the source walks on through
    // merges/rollbacks/expiry/vacuum, and a publish back from the
    // clone (modeled as a content reset to the fork).
    var cloneContent: Map[Long, Double] = null
    var cloneZoned = false
    for (step <- 1 to 22) {
      if (step == 4) ss.addCheck("t", "nonneg", "v >= 0")
      if (step == 5) {
        intercept[IllegalArgumentException](
          ss.commitAppend("t", Seq((9999L, -1.0)).toDF("k", "v")))
        assert(ss.currentVersion("t") === versions.size.toLong,
          "a refused violating append must publish nothing")
      }
      if (step == 8) {
        ss.cloneTable("c", "t")
        cloneContent = versions.last; cloneZoned = zoned.last
      }
      if (step == 15) {
        if (ss.currentVersion("t") == ss.cloneBaseOf("c").get._2) {
          // source never moved since the fork: fast-forward publishes
          ss.commitFromTable("t", "c")
          versions :+= cloneContent; zoned :+= cloneZoned
        } else {
          // the r16 guard: publishing a STALE fork over the walked
          // source refuses instead of clobbering; the documented
          // resolution (re-clone from current, publish) lands
          intercept[graft.sources.ConcurrentCommitException](
            ss.commitFromTable("t", "c"))
          ss.cloneTable("c2", "t")
          ss.commitFromTable("t", "c2")
          versions :+= versions.last; zoned :+= zoned.last
        }
      }
      rng.nextInt(7) match {
        case 0 => // plain full replace (drops zone capability)
          val c = randContent(20)
          ss.commitOverwrite("t", df(c))
          versions :+= c; zoned :+= false
        case 1 => // append of FRESH keys (zone flag carries forward)
          val batch = (0 until 5).map { _ =>
            freshKey += 1; (freshKey, rng.nextInt(1000).toDouble)
          }.toMap
          ss.commitAppend("t", df(batch))
          versions :+= (versions.last ++ batch); zoned :+= zoned.last
        case 2 => // full-rewrite merge
          val target = randContent(25)
          ss.commitMerge("t", "k", diffTo(target))
          versions :+= target; zoned :+= false
        case 3 => // CoW merge when the current version has zones,
          // else re-establish the keyed layout
          if (zoned.last) {
            val target = randContent(25)
            ss.commitMergeCow("t", "k", diffTo(target))
            versions :+= target; zoned :+= true
          } else {
            val c = randContent(30)
            ss.commitOverwriteKeyed("t", "k", df(c), numFiles = 4)
            versions :+= c; zoned :+= true
          }
        case 4 => // metadata-only rollback to a random live version
          val live = (floor + 1) to versions.size
          val v = live(rng.nextInt(live.size))
          ss.rollback("t", v.toLong)
          versions :+= versions(v - 1); zoned :+= zoned(v - 1)
        case 5 => // expire the old history (then vacuum, inside)
          if (versions.size - floor > 2) {
            val keepFrom = floor + 2 + rng.nextInt(versions.size - floor - 1)
            ss.expireVersions("t", keepFrom.toLong)
            floor = keepFrom - 1
          } else assert(ss.vacuum("t").isEmpty ||
            true) // vacuum may or may not find stage-crash orphans
        case 6 => // a commit that dies pre-swap: invisible to everything
          ss.stage("t", versions.size + 1L,
            Some(df(randContent(5))), Seq(s"v${versions.size + 1}"))
      }
      assert(ss.currentVersion("t") === versions.size.toLong,
        s"step $step: version drift")
      assert(readAsMap(ss.readCurrent("t")) === versions.last,
        s"step $step: current content drift")
      val live = (floor + 1) to versions.size
      val v = live(rng.nextInt(live.size))
      assert(readAsMap(ss.readVersion("t", v.toLong)) === versions(v - 1),
        s"step $step: history drift at version $v")
      if (floor > 0)
        intercept[IllegalArgumentException](ss.readVersion("t", floor.toLong))
      if (cloneContent != null)
        assert(readAsMap(ss.readCurrent("c")) === cloneContent,
          s"step $step: the clone must stay frozen at its fork while " +
            "the source walks (expiry + vacuum included)")
    }
  }

  test("X141g: the commit CAS — of two interleaved committers of the " +
      "same version exactly one wins; the loser gets a retryable " +
      "conflict, retries against the new snapshot, and no committed " +
      "data is lost") {
    import graft.sources.ConcurrentCommitException
    val dir = java.nio.file.Files.createTempDirectory("snap_cas_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, "a")).toDF("k", "v"))
    // deterministic interleaving: A claims v2 (is mid-commit), then B
    // derives the same v2 and must fail BEFORE writing any data
    ss.claim("t", 2L)
    val e = intercept[ConcurrentCommitException](
      ss.commitAppend("t", Seq((9L, "B")).toDF("k", "v")))
    assert(e.getMessage.contains("claimed by another committer"))
    assert(ss.currentVersion("t") === 1L) // B's failure changed nothing
    // A completes its commit of v2...
    ss.stage("t", 2L, Some(Seq((2L, "A")).toDF("k", "v")),
      ss.readManifest("t", 1L) :+ "v2")
    ss.swapTo("t", 2L)
    // ...and B's retry re-reads the snapshot and lands as v3 — BOTH
    // commits' data present, nothing silently lost
    assert(ss.commitAppend("t", Seq((9L, "B")).toDF("k", "v")) === 3L)
    assert(rows(ss.readCurrent("t")) === Set((1L, "a"), (2L, "A"), (9L, "B")))

    // genuinely concurrent: two threads race conflicting commits with a
    // retry loop — every round exactly one wins first; with retries all
    // 2×3 commits land and every append survives into the final version
    import java.util.concurrent.{CountDownLatch, ConcurrentLinkedQueue}
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val committed = new ConcurrentLinkedQueue[Long]()
    val gate = new CountDownLatch(2)
    def committer(tag: Long): Thread = new Thread(() => {
      gate.countDown(); gate.await()
      (0 until 3).foreach { i =>
        var done = false
        while (!done) {
          try {
            committed.add(ss.commitAppend("t",
              Seq((100L * tag + i, s"w$tag")).toDF("k", "v")))
            done = true
          } catch {
            case _: ConcurrentCommitException => conflicts.incrementAndGet()
          }
        }
      }
    })
    val ts = Seq(committer(1L), committer(2L))
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    val vs = committed.toArray(Array.empty[java.lang.Long]).map(_.toLong)
    assert(vs.toSet.size === 6, s"every commit got a distinct version: $vs")
    assert(vs.toSet === (4L to 9L).toSet)
    val got = rows(ss.readCurrent("t"))
    val want = Set((1L, "a"), (2L, "A"), (9L, "B")) ++
      (for (t <- 1 to 2; i <- 0 until 3) yield (100L * t + i, s"w$t")).toSet
    assert(got === want, "no committed append was lost")
  }

  test("X141g: commitMerge and compactKeyed CAS on the version their " +
      "content was read from — a claim held by an in-flight committer " +
      "makes them fail retryably instead of erasing its commit") {
    import graft.sources.ConcurrentCommitException
    import graft.ops.CdcOps
    val dir = java.nio.file.Files.createTempDirectory("snap_cas2_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    val a = spark.range(0L, 100L).selectExpr("id AS k",
      "CAST(id AS DOUBLE) AS v")
    ss.commitOverwriteKeyed("t", "k", a, numFiles = 4)
    // another committer holds v2 (mid-commit)
    ss.claim("t", 2L)
    val diff = CdcOps.snapshotDiff(a, a.filter($"k" =!= 7L), "k", Seq("v"))
      .filter($"change_type" =!= "unchanged")
    intercept[ConcurrentCommitException](ss.commitMerge("t", "k", diff))
    intercept[ConcurrentCommitException](ss.compactKeyed("t", "k"))
    intercept[ConcurrentCommitException](ss.commitMergeCow("t", "k", diff))
    assert(ss.currentVersion("t") === 1L, "failed CAS commits nothing")
    assert(ss.readCurrent("t").count() === 100L)
  }

  test("X141h: vacuum dry-run names exactly what a real vacuum removes " +
      "(including dead .parquet neighbors inside partially-live CoW " +
      "dirs) and deletes nothing itself") {
    import graft.ops.CdcOps
    val dir = java.nio.file.Files.createTempDirectory("snap_dry_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    val a = spark.range(0L, 1000L).selectExpr("id AS k",
      "CAST(id AS DOUBLE) AS v")
    ss.commitOverwriteKeyed("t", "k", a, numFiles = 8)
    // CoW v2: rewrites the low file(s), reuses the rest of v1's files
    val b = a.filter($"k" =!= 7L)
    val (_, reused) = ss.commitMergeCow("t", "k",
      CdcOps.snapshotDiff(a, b, "k", Seq("v"))
        .filter($"change_type" =!= "unchanged"))
    assert(reused > 0)
    // a dead pre-swap stage (crashed commit) leaves an orphan dir +
    // manifest + claim
    ss.claim("t", 3L)
    ss.stage("t", 3L, Some(Seq((77L, 7.7)).toDF("k", "v")), Seq("v3"))
    val plan = ss.vacuumDryRun("t")
    assert(plan.orphanDirs === Seq("v3"), s"dead stage dir: $plan")
    assert(plan.orphanFiles === Nil, "v1 is live — no file is dead yet")
    assert(plan.staleClaims === Seq("v1", "v2", "v3"))
    assert(plan.staleManifests === Seq("v3"))
    // dry run deleted NOTHING
    val dd = java.nio.file.Paths.get(dir, "t", "data")
    assert(java.nio.file.Files.exists(dd.resolve("v3")),
      "dry run must not delete")
    assert(ss.readCurrent("t").count() === 999L)
    // the real vacuum removes exactly the plan, and the table still reads
    assert(ss.vacuum("t") === plan.orphanDirs)
    assert(!java.nio.file.Files.exists(dd.resolve("v3")))
    assert(ss.readCurrent("t").count() === 999L)
    assert(ss.vacuumDryRun("t").isEmpty, "post-vacuum plan is clean")
    // the dead claim is released: a retried commit of v3 proceeds
    assert(ss.commitAppend("t", Seq((5000L, 5.0)).toDF("k", "v")) === 3L)
    // expire v1: its rewritten-away files inside the v1 dir die, but the
    // dir survives — v2/v3 still reference reused v1 files BY NAME, and
    // the expiry's internal vacuum reclaims only the dead neighbors
    ss.expireVersions("t", 2L)
    assert(java.nio.file.Files.exists(dd.resolve("v1")),
      "partially-live dir survives")
    val referencedV1 = ss.readManifest("t", 3L)
      .filter(_.startsWith("v1/")).map(_.stripPrefix("v1/")).toSet
    assert(referencedV1.nonEmpty, "CoW reuse must reference v1 files")
    val onDiskV1 = {
      val s = java.nio.file.Files.list(dd.resolve("v1"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
      } finally s.close()
    }
    assert(onDiskV1 === referencedV1,
      "exactly the still-referenced files survive — dead neighbors in a " +
        "partially-live dir no longer leak")
    assert(ss.readCurrent("t").count() === 1000L)
  }

  test("X141i: expireByPolicy (keep last K, keep younger than age) " +
      "lands on the same floor as the equivalent explicit " +
      "expireVersions, and respects the union of both rules") {
    val dir = java.nio.file.Files.createTempDirectory("snap_pol_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    (1 to 6).foreach(i =>
      ss.commitOverwrite("t", Seq((i.toLong, s"v$i")).toDF("k", "v")))
    val now = System.currentTimeMillis() + 60000 // strictly after commits
    // age rule alone would expire everything (all older than 0ms) —
    // keepLast=3 must still protect v4..v6: policy cut == explicit cut
    val mirror = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("snap_pol2_").toString)
    (1 to 6).foreach(i =>
      mirror.commitOverwrite("t", Seq((i.toLong, s"v$i")).toDF("k", "v")))
    val byPolicy = ss.expireByPolicy("t", keepLast = 3,
      maxAgeMillis = Some(0L), nowMillis = now)
    val explicit = mirror.expireVersions("t", 4L)
    assert(byPolicy === explicit)
    assert(ss.versions("t") === mirror.versions("t"))
    assert(ss.versions("t") === Seq(4L, 5L, 6L))
    // age rule protecting MORE than the count rule: everything is
    // younger than an hour, so nothing further expires
    assert(ss.expireByPolicy("t", keepLast = 1,
      maxAgeMillis = Some(3600000L), nowMillis = now) === Nil)
    assert(ss.versions("t") === Seq(4L, 5L, 6L))
    // count-only retention (the DEFAULT: no age protection — an
    // infinite-age default would make this a silent forever-no-op)
    ss.expireByPolicy("t", keepLast = 1)
    assert(ss.versions("t") === Seq(6L))
    assert(rows(ss.readCurrent("t")) === Set((6L, "v6")))
  }

  test("X141j: rollback beside retention — a STAGED rollback manifest " +
      "pins its carried-forward dirs against the concurrent-safe expire " +
      "sweep; an expired target is refused with the claim released") {
    val dir = java.nio.file.Files.createTempDirectory("snap_race_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, "v1")).toDF("k", "v"))
    ss.commitOverwrite("t", Seq((2L, "v2")).toDF("k", "v"))
    ss.commitOverwrite("t", Seq((3L, "v3")).toDF("k", "v"))
    // a rollback to v1 is mid-flight: claimed + staged, not yet swapped
    ss.claim("t", 4L)
    ss.stage("t", 4L, None, ss.readManifest("t", 1L))
    // retention moves the floor past the target and sweeps — the staged
    // manifest must keep v1's dir alive (reclaiming it would publish a
    // version whose reads fail the moment the rollback swaps)
    ss.expireVersions("t", keepFrom = 3L)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "t", "data", "v1")),
      "expire sweep reclaimed a dir a staged manifest references")
    ss.swapTo("t", 4L)
    assert(rows(ss.readCurrent("t")) === Set((1L, "v1")))
    // and with nothing staged, an already-expired target is refused at
    // the pre-claim validation (floor guard), leaving no claim behind
    intercept[IllegalArgumentException](ss.rollback("t", 2L))
    assert(ss.rollback("t", 3L) === 5L) // the claim path is not wedged
    assert(rows(ss.readCurrent("t")) === Set((3L, "v3")))
  }

  test("a rollback that aborts after copying the target's sidecars " +
      "leaves no zones or delete vector for the next claimant of its " +
      "version number") {
    val dir = java.nio.file.Files.createTempDirectory("snap_rbabort_")
    val ss = new SnapshotStore(spark, dir.toString)
    ss.commitOverwriteKeyed("t", "k", spark.range(0L, 100L)
      .select(col("id").as("k"), lit("x").as("v")), numFiles = 4)
    ss.commitDeleteKeys("t", Seq(5L).toDF("k"))                    // v2
    ss.commitOverwrite("t", Seq((9L, "z")).toDF("k", "v"))         // v3
    // a leftover dangling link where v4's delete vector lands: the zones
    // copy lands, the vector copy fails, and the rollback aborts
    val link = dir.resolve("t/dels/v4")
    java.nio.file.Files.createSymbolicLink(link, dir.resolve("gone"))
    intercept[graft.sources.ConcurrentCommitException](ss.rollback("t", 2L))
    assert(!java.nio.file.Files.exists(dir.resolve("t/zones/v4")),
      "zones/v4 left")
    assert(!java.nio.file.Files.isDirectory(link), "dels/v4 left")
    java.nio.file.Files.delete(link)
    // the number is free, and its next claimant inherits nothing
    assert(ss.commitAppend("t", Seq((10L, "y")).toDF("k", "v")) === 4L)
    assert(ss.readZones("t", 4L).isEmpty && ss.deleteKeysAt("t", 4L).isEmpty)
    assert(rows(ss.readCurrent("t")) === Set((9L, "z"), (10L, "y")))
  }

  test("a rollback whose delete-vector copy is blocked by a leftover " +
      "directory aborts retryably and leaves no claim, zones or vector " +
      "behind") {
    val dir = java.nio.file.Files.createTempDirectory("snap_rbblock_")
    val ss = new SnapshotStore(spark, dir.toString)
    ss.commitOverwriteKeyed("t", "k", spark.range(0L, 100L)
      .select(col("id").as("k"), lit("x").as("v")), numFiles = 4)
    ss.commitDeleteKeys("t", Seq(5L).toDF("k"))                    // v2
    ss.commitOverwrite("t", Seq((9L, "z")).toDF("k", "v"))         // v3
    // a non-empty directory where one of v2's vector files lands in v4:
    // commons-io refuses that copy with IllegalArgumentException
    val listing = java.nio.file.Files.list(dir.resolve("t/dels/v2"))
    val vectorFile = try listing.iterator().next().getFileName
      finally listing.close()
    java.nio.file.Files.createDirectories(
      dir.resolve("t/dels/v4").resolve(vectorFile).resolve("leftover"))
    intercept[graft.sources.ConcurrentCommitException](ss.rollback("t", 2L))
    Seq("t/meta/_claims/v4", "t/zones/v4", "t/dels/v4").foreach(p =>
      assert(!java.nio.file.Files.exists(dir.resolve(p)), s"$p left"))
    assert(ss.currentVersion("t") === 3L)
  }

  test("X141l: vacuumStale runs beside a live committer — an in-lease " +
      "claim and its staging are untouched and the commit completes; a " +
      "crashed claim reclaims after the lease without quiescing; a " +
      "fenced committer aborts at the swap") {
    val dir = java.nio.file.Files.createTempDirectory("snap_lease_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, "a")).toDF("k", "v"))
    // an ACTIVE committer: claim v2 + staged data, lease far from expiry
    ss.claim("t", 2L)
    ss.stage("t", 2L, Some(Seq((2L, "b")).toDF("k", "v")), Seq("v1", "v2"))
    val plan = ss.vacuumStale("t", leaseMillis = 3600000L)
    assert(plan.staleClaims.isEmpty && plan.orphanDirs.isEmpty &&
      plan.staleManifests.isEmpty,
      s"an in-lease commit must be untouched: $plan")
    ss.swapTo("t", 2L) // the live commit completes under the sweep
    assert(rows(ss.readCurrent("t")) === Set((1L, "a"), (2L, "b")))
    // a CRASHED claimant: claim v3 + staged data, then lease expires —
    // reclaimed with writers NOT quiesced (v2 stays live throughout)
    ss.claim("t", 3L)
    ss.stage("t", 3L, Some(Seq((9L, "dead")).toDF("k", "v")),
      Seq("v1", "v2", "v3"))
    val plan2 = ss.vacuumStale("t", leaseMillis = 0L,
      nowMillis = System.currentTimeMillis() + 1000L)
    assert(plan2.staleClaims === Seq("v3"))
    assert(plan2.orphanDirs.contains("v3"))
    assert(plan2.staleManifests === Seq("v3"))
    assert(rows(ss.readCurrent("t")) === Set((1L, "a"), (2L, "b")))
    // the version number is free again: the next commit lands as v3
    assert(ss.commitAppend("t", Seq((3L, "c")).toDF("k", "v")) === 3L)
    // FENCING: a committer that outlived its lease loses its claim to
    // the sweep and must abort at the swap, never publishing over
    // reclaimed staging
    ss.claim("t", 4L)
    ss.stage("t", 4L, Some(Seq((4L, "slow")).toDF("k", "v")),
      Seq("v1", "v2", "v3", "v4"))
    ss.vacuumStale("t", leaseMillis = 0L,
      nowMillis = System.currentTimeMillis() + 1000L)
    val e = intercept[graft.sources.ConcurrentCommitException](
      ss.swapTo("t", 4L))
    assert(e.getMessage.contains("fenced"))
    assert(ss.currentVersion("t") === 3L)
  }

  test("X141l: fencing is by OWNERSHIP, not existence — a zombie " +
      "committer whose version number was reclaimed and re-claimed by " +
      "a fresh writer cannot publish over the new claimant's work") {
    val dir = java.nio.file.Files.createTempDirectory("snap_fence2_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, "a")).toDF("k", "v"))
    // zombie C1: claims v2, stalls past its lease
    ss.claim("t", 2L)
    ss.stage("t", 2L, Some(Seq((2L, "zombie")).toDF("k", "v")),
      Seq("v1", "v2"))
    ss.vacuumStale("t", leaseMillis = 0L,
      nowMillis = System.currentTimeMillis() + 1000L)
    // fresh writer C2 (its own store instance = its own claim tokens)
    // re-claims the SAME number and commits
    val c2 = new SnapshotStore(spark, dir)
    c2.claim("t", 2L)
    c2.stage("t", 2L, Some(Seq((2L, "fresh")).toDF("k", "v")),
      Seq("v1", "v2"))
    c2.swapTo("t", 2L)
    assert(rows(c2.readCurrent("t")) === Set((1L, "a"), (2L, "fresh")))
    // C1 wakes up: a claim file for v2 EXISTS (C2's) — existence alone
    // would let the zombie swap; the token mismatch must stop it
    val e = intercept[graft.sources.ConcurrentCommitException](
      ss.swapTo("t", 2L))
    assert(e.getMessage.contains("another committer"))
    assert(rows(ss.readCurrent("t")) === Set((1L, "a"), (2L, "fresh")))
  }

  test("X141l: vacuumStale reclaims a crashed BUCKETED stage (commit_v " +
      "partition + catalog entry) after the lease") {
    val dir = java.nio.file.Files.createTempDirectory("snap_leaseb_").toString
    val ss = new SnapshotStore(spark, dir)
    import graft.sources.SubBucket
    try {
      ss.commitTables("g",
        overwrites = Map("assigned" -> Seq((1L, 0)).toDF("id", "cell")),
        buckets = Map("assigned" -> SubBucket("cell", 4)))
      ss.claim("g", 2L)
      ss.stageTables("g", 2L,
        Map("assigned" -> Seq((2L, 1)).toDF("id", "cell")), Map.empty)
      val pdir = java.nio.file.Paths.get(dir, "g", "data", "bkt__assigned",
        "commit_v=2")
      assert(java.nio.file.Files.exists(pdir))
      val plan = ss.vacuumStale("g", leaseMillis = 0L,
        nowMillis = System.currentTimeMillis() + 1000L)
      assert(plan.staleClaims === Seq("v2"))
      assert(!java.nio.file.Files.exists(pdir),
        "the crashed stage's partition must be reclaimed")
      val parts = spark.sql(
        s"SHOW PARTITIONS ${ss.catalogTableName("g", "assigned")}")
        .collect().map(_.getString(0)).toSet
      assert(parts === Set("commit_v=1"))
      // the group keeps committing normally afterwards
      ss.commitTables("g",
        appends = Map("assigned" -> Seq((3L, 2)).toDF("id", "cell")))
      assert(ss.readTable("g", "assigned").count() === 2L)
    } finally ss.dropCatalogTables("g")
  }

  test("X142: changesBetween — appends take the file-level fast path, " +
      "rewrites diff only against removed files, rollbacks emit deletes") {
    val dir = java.nio.file.Files.createTempDirectory("snap_chg_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))  // v1
    ss.commitAppend("t", Seq((3L, "c")).toDF("k", "v"))                // v2
    ss.commitOverwrite("t", Seq((1L, "a"), (3L, "C")).toDF("k", "v"))  // v3
    ss.rollback("t", 2L)                                               // v4
    // the append step reads ONLY the appended files — no diff compute
    val s2 = ss.changesBetween("t", 1L, 2L)
    assert(s2.inputFiles.nonEmpty && s2.inputFiles.forall(_.contains("/v2")))
    def chg(df: org.apache.spark.sql.DataFrame) =
      df.select("_commit_v", "_change", "k", "v")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
    assert(chg(s2) === Set((2L, "insert", 3L, "c")))
    // full range: the v3 rewrite's unchanged row (1,a) cancels inside the
    // multiset diff; the rollback emits the inverse of the rewrite
    assert(chg(ss.changesBetween("t", 1L, 4L)) === Set(
      (2L, "insert", 3L, "c"),
      (3L, "insert", 3L, "C"), (3L, "delete", 2L, "b"),
      (3L, "delete", 3L, "c"),
      (4L, "insert", 2L, "b"), (4L, "insert", 3L, "c"),
      (4L, "delete", 3L, "C")))
    assert(ss.changesBetween("t", 2L, 2L).count() === 0L)
    assert(ss.changesSince("t", 2L).count() === 6L)
  }

  test("X142: changesBetween over a CoW merge never reads " +
      "reused-by-reference files — they cancel at the manifest level") {
    val dir = java.nio.file.Files.createTempDirectory("snap_chg_cow_").toString
    val ss = new SnapshotStore(spark, dir)
    val base = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") * 10).as("m"))
    ss.commitOverwriteKeyed("t", "k", base, numFiles = 8)          // v1
    val changed = base.withColumn("m",
      when(col("k") < 50, col("m") + 1).otherwise(col("m")))
    val diff = graft.ops.CdcOps.snapshotDiff(base, changed, "k", Seq("m"))
      .filter(col("change_type") =!= "unchanged")
    val (_, reused) = ss.commitMergeCow("t", "k", diff)            // v2
    assert(reused > 0, "the low-range diff must leave files untouched")
    val reusedFiles = ss.readVersion("t", 1L).inputFiles.toSet
      .intersect(ss.readVersion("t", 2L).inputFiles.toSet)
    assert(reusedFiles.nonEmpty)
    val ch = ss.changesBetween("t", 1L, 2L)
    assert(ch.inputFiles.toSet.intersect(reusedFiles).isEmpty,
      "reused files must never enter the changelog scan")
    val got = ch.select("_change", "k", "m").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = (0L until 50L).flatMap(k =>
      Seq(("delete", k, k * 10), ("insert", k, k * 10 + 1))).toSet
    assert(got === want)
  }

  test("X141m: staged commits are invisible until published; discard " +
      "leaves zero trace and frees the number; the claim blocks " +
      "concurrent commits while a stage is open") {
    val dir = java.nio.file.Files.createTempDirectory("snap_wap_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, "a")).toDF("k", "v"))
    val s = ss.stageAppend("t", Seq((2L, "b")).toDF("k", "v"))
    assert(s === 2L)
    // invisible: pointer, history, changelog, version reads all stop at v1
    assert(ss.currentVersion("t") === 1L)
    assert(ss.versions("t") === (1L to 1L))
    assert(rows(ss.readCurrent("t")) === Set((1L, "a")))
    assert(ss.changesSince("t", 1L).count() === 0L)
    intercept[IllegalArgumentException](ss.readVersion("t", 2L))
    // the audit read sees base + batch
    assert(rows(ss.readStaged("t", 2L)) === Set((1L, "a"), (2L, "b")))
    // a stage holds the claim: no other commit can land meanwhile
    intercept[graft.sources.ConcurrentCommitException](
      ss.commitAppend("t", Seq((9L, "z")).toDF("k", "v")))
    // publish = one atomic swap; the changelog sees one append step
    ss.publishStaged("t", 2L)
    assert(rows(ss.readCurrent("t")) === Set((1L, "a"), (2L, "b")))
    assert(ss.changesSince("t", 1L).collect()
      .map(r => r.getAs[String]("_change")).toSeq === Seq("insert"))
    // discard: artifacts gone from disk, number free for the next stage
    val d = ss.stageAppend("t", Seq((3L, "BAD")).toDF("k", "v"))
    ss.discardStaged("t", d)
    assert(ss.currentVersion("t") === 2L && ss.versions("t") === (1L to 2L))
    val dd = java.nio.file.Paths.get(dir, "t", "data", s"v$d")
    val mf = java.nio.file.Paths.get(dir, "t", "meta", s"v$d")
    assert(!java.nio.file.Files.exists(dd) && !java.nio.file.Files.exists(mf))
    val r = ss.stageAppend("t", Seq((3L, "c")).toDF("k", "v"))
    assert(r === d, "discard must free the version number")
    ss.publishStaged("t", r)
    assert(rows(ss.readCurrent("t")) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // guards: nothing staged / already published
    intercept[IllegalArgumentException](ss.readStaged("t", 9L))
    // re-publishing a published version is a CAS conflict, not a stage
    intercept[graft.sources.ConcurrentCommitException](
      ss.publishStaged("t", 3L))
    intercept[IllegalArgumentException](ss.discardStaged("t", 3L))
  }

  test("X141m: a foreign discard FENCES the stager — its later publish " +
      "aborts instead of resurrecting discarded staging") {
    val dir = java.nio.file.Files.createTempDirectory("snap_wap_f_").toString
    val stager = new SnapshotStore(spark, dir)
    val operator = new SnapshotStore(spark, dir)
    stager.commitOverwrite("t", Seq((1L, "a")).toDF("k", "v"))
    val s = stager.stageAppend("t", Seq((2L, "b")).toDF("k", "v"))
    // mid-discard state: the fence (claim content rewrite) has landed,
    // artifacts not yet deleted — the stager's publish must abort on the
    // token mismatch, never swap to a version being deleted under it
    val cf = java.nio.file.Paths.get(dir, "t", "meta", "_claims", s"v$s")
    java.nio.file.Files.write(cf, "fenced-by-discard\n".getBytes)
    intercept[graft.sources.ConcurrentCommitException](
      stager.publishStaged("t", s))
    // an instance with NO local token (cross-instance publish — the API
    // invites an audit service to publish) must also refuse the fence
    val auditor = new SnapshotStore(spark, dir)
    intercept[graft.sources.ConcurrentCommitException](
      auditor.publishStaged("t", s))
    // the operator's discard then completes; a late publish attempt
    // fails loudly on the missing staging
    operator.discardStaged("t", s)
    intercept[IllegalArgumentException](stager.publishStaged("t", s))
    assert(stager.currentVersion("t") === 1L)
    // the table keeps committing normally
    stager.commitAppend("t", Seq((5L, "e")).toDF("k", "v"))
    assert(rows(stager.readCurrent("t")) === Set((1L, "a"), (5L, "e")))
  }

  test("X142: the changelog SKIPS content-preserving compactions — the " +
      "marker makes the step free, and expiry sweeps it with its version") {
    val dir = java.nio.file.Files.createTempDirectory("snap_chg_cpt_").toString
    val ss = new SnapshotStore(spark, dir)
    val base = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") * 2).as("m"))
    ss.commitOverwriteKeyed("t", "k", base, numFiles = 8)              // v1
    ss.commitAppend("t", spark.range(5000, 5010)
      .select(col("id").as("k"), (col("id") * 2).as("m")))             // v2
    val vc = ss.compactKeyed("t", "k", numFiles = 4)                   // v3
    assert(vc === 3L)
    val marker = java.nio.file.Paths.get(dir, "t", "meta", "v3.same")
    assert(java.nio.file.Files.exists(marker))
    // the compaction step contributes nothing and is never diffed
    assert(ss.changesBetween("t", 2L, 3L).count() === 0L)
    ss.commitAppend("t", spark.range(6000, 6005)
      .select(col("id").as("k"), (col("id") * 2).as("m")))             // v4
    val ch = ss.changesBetween("t", 1L, 4L)
      .groupBy("_commit_v").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ch === Map(2L -> 10L, 4L -> 5L))
    // expiry reclaims the marker together with its version's manifest
    ss.expireVersions("t", 4L)
    assert(!java.nio.file.Files.exists(marker))
    assert(ss.changesBetween("t", 4L, 4L).count() === 0L)
  }

  test("X142: changesBetween refuses multi-table groups, reserved " +
      "column names, and inverted ranges") {
    val dir = java.nio.file.Files.createTempDirectory("snap_chg_err_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitTables("g", overwrites = Map(
      "a" -> Seq((1L, "x")).toDF("k", "v"),
      "b" -> Seq((2L, "y")).toDF("k", "v")))
    intercept[IllegalArgumentException](ss.changesBetween("g", 1L, 1L))
    ss.commitOverwrite("t", Seq((1L, "a")).toDF("k", "_change"))
    intercept[IllegalArgumentException](ss.changesBetween("t", 1L, 1L))
    ss.commitOverwrite("u", Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException](ss.changesBetween("u", 2L, 1L))
  }

  test("X141n: bloom sidecar — point lookups on an UNCLUSTERED column " +
      "open only files whose bloom might hold the probes; CoW merge and " +
      "compaction maintain the bitsets; plain appends stay conservative") {
    val dir = java.nio.file.Files.createTempDirectory("snap_bloom_").toString
    val ss = new SnapshotStore(spark, dir)
    // clustered on k; bloomed on g, whose values scramble across files
    val base = spark.range(0, 4000).select(col("id").as("k"),
      ((col("id") * 7919) % 100000).as("g"), (col("id") * 3).as("m"))
    ss.declareBloom("t", "g", bits = 1 << 17, k = 7)
    ss.commitOverwriteKeyed("t", "k", base, numFiles = 8)
    def gOf(i: Long) = i * 7919 % 100000
    val probes = Seq(gOf(10), gOf(999), gOf(2500))
    val (pick, skip) = ss.pruneFilesBloom("t", 1L, "g", probes)
    assert(skip.nonEmpty && pick.size <= 5,
      s"probing 3 values must skip most of 8 files, picked ${pick.size}")
    def rows3(df: org.apache.spark.sql.DataFrame) = df.select("k", "g", "m")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows3(ss.readVersionPoint("t", 1L, "g", probes)) ===
      Set((10L, gOf(10), 30L), (999L, gOf(999), 2997L),
        (2500L, gOf(2500), 7500L)))
    // a definitely-absent value opens NO file at this sizing
    val (none, all) = ss.pruneFilesBloom("t", 1L, "g", Seq(100001L))
    assert(none.isEmpty && all.size === 8)
    assert(ss.readVersionPoint("t", 1L, "g", Seq(100001L)).count() === 0L)
    // CoW merge rewrites some files — their blooms recompute, reused
    // files keep theirs, and the lookup stays exact at the new version
    val changed = base.withColumn("m",
      when(col("k") < 250, col("m") + 1).otherwise(col("m")))
    val diff = graft.ops.CdcOps.snapshotDiff(base, changed, "k", Seq("g", "m"))
      .filter(col("change_type") =!= "unchanged")
    val (v2, reused) = ss.commitMergeCow("t", "k", diff)
    assert(reused > 0)
    assert(rows3(ss.readVersionPoint("t", v2, "g", Seq(gOf(10)))) ===
      Set((10L, gOf(10), 31L)))
    assert(ss.pruneFilesBloom("t", v2, "g", Seq(gOf(3999)))._2.nonEmpty)
    // a plain append's dir has no zone rows: conservatively read, so a
    // value that exists ONLY in the appended batch is still found
    val v3 = ss.commitAppend("t", Seq((9001L, 999999L, 1L)).toDF("k", "g", "m"))
    assert(rows3(ss.readVersionPoint("t", v3, "g", Seq(999999L))) ===
      Set((9001L, 999999L, 1L)))
    // compaction routes through the keyed overwrite: blooms rebuilt,
    // pruning works again over the compacted file set
    val v4 = ss.compactKeyed("t", "k", numFiles = 8)
    val (pick4, skip4) = ss.pruneFilesBloom("t", v4, "g", Seq(gOf(10)))
    assert(skip4.nonEmpty && pick4.size <= 3)
    assert(rows3(ss.readVersionPoint("t", v4, "g", Seq(999999L))) ===
      Set((9001L, 999999L, 1L)))
    // guards: wrong column, undeclared table
    intercept[IllegalArgumentException](
      ss.pruneFilesBloom("t", v4, "m", Seq(1L)))
    ss.commitOverwrite("u", Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException](
      ss.pruneFilesBloom("u", 1L, "k", Seq(1L)))
  }

  test("X141n: a bloom declared AFTER existing keyed versions never " +
      "breaks the CoW merge — carried zone rows fill null bitsets and " +
      "stay conservatively chosen") {
    val dir = java.nio.file.Files.createTempDirectory("snap_bloom_l_").toString
    val ss = new SnapshotStore(spark, dir)
    val base = spark.range(0, 800).select(col("id").as("k"),
      ((col("id") * 7919) % 100000).as("g"), (col("id") * 3).as("m"))
    ss.commitOverwriteKeyed("t", "k", base, numFiles = 8) // no bloom yet
    ss.declareBloom("t", "g", bits = 1 << 16, k = 7)
    val changed = base.withColumn("m",
      when(col("k") < 100, col("m") + 1).otherwise(col("m")))
    val diff = graft.ops.CdcOps.snapshotDiff(base, changed, "k", Seq("g", "m"))
      .filter(col("change_type") =!= "unchanged")
    val (v2, reused) = ss.commitMergeCow("t", "k", diff) // must not throw
    assert(reused > 0)
    // a value in a REUSED (null-bloom) file: its file is conservatively
    // chosen and the lookup is exact
    val gHigh = 700L * 7919 % 100000
    val got = ss.readVersionPoint("t", v2, "g", Seq(gHigh)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((700L, gHigh, 2100L)))
    // and a value in a REWRITTEN (bloomed) file also resolves
    val gLow = 50L * 7919 % 100000
    assert(ss.readVersionPoint("t", v2, "g", Seq(gLow)).count() === 1L)
  }

  test("X142e: additive schema evolution — new columns stamp the version " +
      "schema, old files read null, time travel keeps the original " +
      "schema, the changelog diffs with the end schema, and rollback " +
      "restores the target's schema") {
    val dir = java.nio.file.Files.createTempDirectory("snap_evo_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))  // v1
    ss.commitAppendEvolved("t",
      Seq((3L, "c", 30L)).toDF("k", "v", "w"))                        // v2
    assert(ss.readCurrent("t").columns.toSeq === Seq("k", "v", "w"))
    val cur = ss.readCurrent("t").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(cur === Set((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L)))
    // time travel: the pre-evolution version keeps its ORIGINAL shape
    assert(ss.readVersion("t", 1L).columns.toSeq === Seq("k", "v"))
    // a later batch may OMIT an existing column (null-filled)
    ss.commitAppendEvolved("t", Seq((4L, 40L)).toDF("k", "w"))        // v3
    assert(ss.readCurrent("t").filter(col("k") === 4L)
      .select("v").head().isNullAt(0))
    // the changelog spans the evolution with the range's END schema
    val ch = ss.changesBetween("t", 1L, 3L)
    assert(ch.columns.toSeq === Seq("k", "v", "w", "_change", "_commit_v"))
    assert(ch.count() === 2L)
    // guards: type change, keyed layout
    intercept[IllegalArgumentException](ss.commitAppendEvolved("t",
      Seq((9L, 9L)).toDF("k", "v"))) // v: string -> long refused
    ss.commitOverwriteKeyed("kt", "k",
      Seq((1L, 1L)).toDF("k", "m"), numFiles = 2)
    intercept[IllegalArgumentException](ss.commitAppendEvolved("kt",
      Seq((2L, 2L, 2L)).toDF("k", "m", "extra")))
    // an overwrite of an evolved table pins its own (narrower) schema
    ss.commitOverwrite("t", Seq((7L, 70L)).toDF("k", "q"))            // v4
    assert(ss.readCurrent("t").columns.toSeq === Seq("k", "q"))
    // rollback past the narrowing restores the TARGET's schema + content
    ss.rollback("t", 2L)                                              // v5
    assert(ss.readCurrent("t").columns.toSeq === Seq("k", "v", "w"))
    assert(ss.readCurrent("t").count() === 3L)
  }

  test("X142e: TYPE-WIDENING evolution — int→long / float→double / " +
      "decimal precision-up stamp the widened schema and older files " +
      "read through it without rewrite; narrower batches upcast with " +
      "NO schema change; pre-widening time travel keeps the original " +
      "types; the changelog reads at the end schema; rollback restores " +
      "the narrow schema; narrowing and scale changes still refuse") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("snap_wide_").toString
    val ss = new SnapshotStore(spark, dir)
    val narrow = spark.range(0, 10).select(col("id").cast("int").as("k"),
      col("id").cast("float").as("f"),
      col("id").cast("decimal(10,2)").as("d"))
    ss.commitOverwrite("t", narrow)                                   // v1
    // the widened batch: a key BEYOND int range proves why this exists
    val wide = spark.range(0, 3).select(
      (col("id") + 3000000000L).as("k"),
      col("id").cast("double").as("f"),
      col("id").cast("decimal(14,2)").as("d"))
    ss.commitAppendEvolved("t", wide)                                 // v2
    val s2 = ss.readCurrent("t").schema
    assert(s2("k").dataType === LongType && s2("f").dataType === DoubleType
      && s2("d").dataType === DecimalType(14, 2))
    assert(ss.readCurrent("t").count() === 13L)
    assert(ss.readCurrent("t").filter(col("k") >= 3000000000L).count()
      === 3L, "beyond-int keys must serve")
    assert(ss.readCurrent("t").filter(col("k") === 5).count() === 1L,
      "pre-widening rows read through the widened schema, no rewrite")
    // pre-widening time travel keeps the ORIGINAL types
    val s1 = ss.readVersion("t", 1L).schema
    assert(s1("k").dataType === IntegerType && s1("f").dataType === FloatType
      && s1("d").dataType === DecimalType(10, 2))
    // the changelog spans the widening at the range's END schema
    val ch = ss.changesBetween("t", 1L, 2L)
    assert(ch.schema("k").dataType === LongType && ch.count() === 3L)
    // a NARROWER batch upcasts into the widened table — no schema change
    ss.commitAppendEvolved("t", spark.range(100, 102)
      .select(col("id").cast("int").as("k"), col("id").cast("float").as("f"),
        col("id").cast("decimal(10,2)").as("d")))                     // v3
    assert(ss.readCurrent("t").schema("k").dataType === LongType)
    assert(ss.readCurrent("t").count() === 15L)
    // refusals: decimal SCALE change, string→numeric
    val es = intercept[IllegalArgumentException](ss.commitAppendEvolved("t",
      spark.range(0, 1).select(col("id").as("k"),
        col("id").cast("double").as("f"),
        col("id").cast("decimal(14,3)").as("d"))))
    assert(es.getMessage.contains("widening"))
    intercept[IllegalArgumentException](ss.commitAppendEvolved("t",
      spark.range(0, 1).select(col("id").cast("string").as("k"),
        col("id").cast("double").as("f"),
        col("id").cast("decimal(14,2)").as("d"))))
    // rollback to v1 restores the NARROW schema with its content
    ss.rollback("t", 1L)                                              // v4
    val s4 = ss.readCurrent("t").schema
    assert(s4("k").dataType === IntegerType &&
      s4("d").dataType === DecimalType(10, 2))
    assert(ss.readCurrent("t").count() === 10L)
  }

  test("X141p: z-ordered versioned commits prune on ANY z-column and " +
      "X141o: statsFromZones serves metadata-only aggregates without " +
      "touching data; appends and pre-count rows are refused") {
    val dir = java.nio.file.Files.createTempDirectory("snap_zord_").toString
    val ss = new SnapshotStore(spark, dir)
    val base = spark.range(0, 4000).select(col("id").as("a"),
      ((col("id") * 2654435761L) % 4096).as("b"), (col("id") * 3).as("m"))
    ss.commitOverwriteZordered("t", Seq("a", "b"), base,
      numFiles = 16, bits = 4)
    // one column is the range layout: refused, naming the keyed commit
    assert(intercept[IllegalArgumentException](ss.commitOverwriteZordered(
      "one", Seq("a"), base)).getMessage.contains("commitOverwriteKeyed"))
    def rows3(df: org.apache.spark.sql.DataFrame) = df.select("a", "b", "m")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // pruning bites on BOTH z-columns, results stay exact
    val (_, skipA) = ss.pruneFiles("t", 1L, "a", 0L, 200L)
    val (_, skipB) = ss.pruneFiles("t", 1L, "b", 0L, 200L)
    assert(skipA.nonEmpty && skipB.nonEmpty,
      s"both z-columns must prune (skipped a=${skipA.size}, b=${skipB.size})")
    assert(rows3(ss.readVersionWhere("t", 1L, "a", 0L, 200L)) ===
      rows3(base.filter(col("a").between(0L, 200L))))
    assert(rows3(ss.readVersionWhere("t", 1L, "b", 0L, 200L)) ===
      rows3(base.filter(col("b").between(0L, 200L))))
    // an un-stat'd column chooses everything (conservative, still exact)
    val (allM, noneM) = ss.pruneFiles("t", 1L, "m", 0L, 10L)
    assert(noneM.isEmpty && rows3(ss.readVersionWhere("t", 1L, "m",
      0L, 30L)) === rows3(base.filter(col("m").between(0L, 30L))))
    // metadata-only stats: exact row count + per-column min/max, zero
    // data files opened
    val st = ss.statsFromZones("t", 1L)
    assert(st.inputFiles.forall(!_.contains("/data/")),
      "stats must be served from the zones sidecar only")
    val r = st.head()
    assert(r.getAs[Long]("n_rows") === 4000L)
    assert(r.getAs[Long]("lo__a") === 0L && r.getAs[Long]("hi__a") === 3999L)
    // a plain append leaves statless entries: stats refuse loudly
    ss.commitAppend("t", Seq((9000L, 1L, 1L)).toDF("a", "b", "m"))
    val e = intercept[IllegalArgumentException](ss.statsFromZones("t", 2L))
    assert(e.getMessage.contains("undercount"))
    // ...but the pre-append version still serves
    assert(ss.statsFromZones("t", 1L).head().getAs[Long]("n_rows") === 4000L)
    // CoW merge keyed on a NON-z-column: refused pre-claim (its ranges
    // are not in the sidecar; r16 lifted the refusal only for z-columns)
    val diff = graft.ops.CdcOps.snapshotDiff(base,
      base.withColumn("m", col("m") + 1), "m", Seq("a", "b"))
      .filter(col("change_type") =!= "unchanged")
    val e2 = intercept[IllegalArgumentException](
      ss.commitMergeCow("t", "m", diff))
    assert(e2.getMessage.contains("z-ordered"))
    // the single-key keyed layout serves stats too (lo/hi + counts),
    // including across a CoW merge (reused rows carry their counts)
    ss.commitOverwriteKeyed("kt", "k",
      spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("m")),
      numFiles = 8)
    val kd = graft.ops.CdcOps.snapshotDiff(
      spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("m")),
      spark.range(0, 990).select(col("id").as("k"), (col("id") * 2).as("m")),
      "k", Seq("m")).filter(col("change_type") =!= "unchanged")
    ss.commitMergeCow("kt", "k", kd)
    val ks = ss.statsFromZones("kt", 2L).head()
    assert(ks.getAs[Long]("n_rows") === 990L)
    assert(ks.getAs[Long]("lo__k") === 0L && ks.getAs[Long]("hi__k") === 989L)
  }

  test("r16: CoW merge on a Z-ORDERED table — prunes the touch set on " +
      "the merge key's per-file z-ranges, reuses untouched files by " +
      "reference, re-clusters the rewritten slice on the same z-value " +
      "(both z-columns keep pruning), and absorbs a same-key delete " +
      "vector; content parity with the full rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("zord_cow_").toString
    val ss = new SnapshotStore(spark, dir)
    val base = spark.range(0, 4000).select(col("id").as("a"),
      ((col("id") * 2654435761L) % 4096).as("b"), (col("id") * 3).as("m"))
    ss.commitOverwriteZordered("t", Seq("a", "b"), base,
      numFiles = 16, bits = 4)
    def rows3(df: org.apache.spark.sql.DataFrame) = df.select("a", "b", "m")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // a LOCAL change: only low-a keys touched → z-files owning high-a
    // hypercubes reuse by reference
    val target = base.filter(col("a") >= 10L || col("a") % 3L =!= 0L)
      .withColumn("m", when(col("a") < 20L, col("m") + 100L)
        .otherwise(col("m")))
    val diff = graft.ops.CdcOps.snapshotDiff(base, target, "a",
      Seq("b", "m")).filter(col("change_type") =!= "unchanged")
    val (v2, reused) = ss.commitMergeCow("t", "a", diff)
    assert(v2 === 2L)
    assert(reused > 0 && reused < 16,
      s"untouched z-files must carry by reference, reused=$reused")
    assert(rows3(ss.readCurrent("t")) === rows3(target),
      "content parity with the logical merge")
    // the new version is STILL z-ordered: both z-columns prune and read
    // exactly, including rows in the rewritten (re-z-ordered) slice
    val (_, skipA2) = ss.pruneFiles("t", 2L, "a", 3000L, 3200L)
    val (_, skipB2) = ss.pruneFiles("t", 2L, "b", 0L, 200L)
    assert(skipA2.nonEmpty && skipB2.nonEmpty,
      s"post-merge pruning must bite (a=${skipA2.size}, b=${skipB2.size})")
    assert(rows3(ss.readVersionWhere("t", 2L, "a", 0L, 30L)) ===
      rows3(target.filter(col("a").between(0L, 30L))))
    assert(rows3(ss.readVersionWhere("t", 2L, "b", 0L, 200L)) ===
      rows3(target.filter(col("b").between(0L, 200L))))
    // metadata-only stats survive the merge (reused rows carry counts)
    assert(ss.statsFromZones("t", 2L).head().getAs[Long]("n_rows")
      === target.count())
    // vector-aware: a delete vector on the merge key folds INTO the
    // next z-ordered merge as one commit, vector gone after
    ss.commitDeleteKeys("t", Seq(100L, 101L).toDF("a"))           // v3
    val t2 = target.filter(!col("a").isin(100L, 101L))
    val target2 = t2.withColumn("m",
      when(col("a") === 200L, lit(-5L)).otherwise(col("m")))
    val diff2 = graft.ops.CdcOps.snapshotDiff(t2, target2, "a",
      Seq("b", "m")).filter(col("change_type") =!= "unchanged")
    val (v4, reused2) = ss.commitMergeCow("t", "a", diff2)
    assert(v4 === 4L && reused2 > 0)
    assert(ss.deleteKeysAt("t", 4L).isEmpty,
      "the merge must absorb the vector — the new version carries none")
    assert(rows3(ss.readCurrent("t")) === rows3(target2))
    // time travel across the z-ordered merges stays exact
    assert(rows3(ss.readVersion("t", 1L)) === rows3(base))
    // compactDeleteKeys on the z-ordered layout (r16): a fresh vector
    // folds CoW-style — touched z-files only, content-preserving,
    // the new version still multi-column-zoned
    ss.commitDeleteKeys("t", Seq(300L, 301L).toDF("a"))           // v5
    val logical5 = rows3(ss.readCurrent("t"))
    val (v6, reused3) = ss.compactDeleteKeys("t")
    assert(v6 === 6L && reused3 > 0,
      s"the z-fold must reuse untouched files, reused=$reused3")
    assert(ss.deleteKeysAt("t", 6L).isEmpty)
    assert(rows3(ss.readCurrent("t")) === logical5,
      "the fold is content-preserving")
    assert(ss.changesBetween("t", 5L, 6L).isEmpty,
      "the changelog must skip the content-preserving fold")
    val (_, skipB3) = ss.pruneFiles("t", 6L, "b", 0L, 200L)
    assert(skipB3.nonEmpty, "the folded version must stay z-ordered")
    // a vector on a NON-z-column still refuses the fold
    ss.commitDeleteKeys("t", Seq(9L).toDF("m"))
    val e3 = intercept[IllegalArgumentException](ss.compactDeleteKeys("t"))
    assert(e3.getMessage.contains("unsound") ||
      e3.getMessage.contains("z-ordered"))
  }

  test("X141q: history lists live versions with entry counts, sub-table " +
      "names, maintenance flags, and monotone commit times; expiry " +
      "trims it from the bottom") {
    val dir = java.nio.file.Files.createTempDirectory("snap_hist_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitTables("g", overwrites = Map(
      "data" -> Seq((1L, "a")).toDF("k", "v"),
      "meta" -> Seq(Tuple1(1L)).toDF("b")))
    ss.commitTables("g", appends = Map(
      "data" -> Seq((2L, "b")).toDF("k", "v")))
    val h = ss.history("g").orderBy("version").collect()
    assert(h.map(_.getAs[Long]("version")).toSeq === Seq(1L, 2L))
    assert(h.forall(_.getAs[String]("sub_tables") === "data,meta"))
    assert(h(0).getAs[Long]("n_entries") === 2L)
    assert(h(1).getAs[Long]("n_entries") === 3L, "append adds one entry")
    assert(!h(1).getAs[java.sql.Timestamp]("commit_time")
      .before(h(0).getAs[java.sql.Timestamp]("commit_time")))
    ss.expireVersions("g", 2L)
    assert(ss.history("g").collect()
      .map(_.getAs[Long]("version")).toSeq === Seq(2L))
  }

  test("X142e: a dead commit's schema marker never outlives its claim — " +
      "the released number's next claimant must not inherit a stale " +
      "schema") {
    val dir = java.nio.file.Files.createTempDirectory("snap_evo_d_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, "a")).toDF("k", "v"))            // v1
    ss.commitAppendEvolved("t", Seq((2L, "b", 20L)).toDF("k", "v", "w")) // v2
    // a crashed evolved commit: claim taken, NARROWER schema stamped,
    // death before the swap
    ss.claim("t", 3L)
    val m = java.nio.file.Paths.get(dir, "t", "meta", "v3.schema")
    java.nio.file.Files.write(m, Seq((0L, "x")).toDF("k", "v")
      .schema.json.getBytes)
    // the single-writer crash recovery releases claim AND marker
    assert(ss.releaseDeadClaims("t") === Seq("v3"))
    assert(!java.nio.file.Files.exists(m),
      "the dead commit's schema marker must be reclaimed with its claim")
    // the re-claimed number commits with the EVOLVED schema intact
    ss.commitAppend("t", Seq((3L, "c", 30L)).toDF("k", "v", "w"))     // v3
    assert(ss.readCurrent("t").columns.toSeq === Seq("k", "v", "w"))
    assert(ss.readCurrent("t").count() === 3L)
    // vacuumStale reclaims the marker of a fenced dead stage the same way
    ss.claim("t", 4L)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "t", "meta", "v4.schema"),
      Seq((0L, "x")).toDF("k", "v").schema.json.getBytes)
    ss.vacuumStale("t", leaseMillis = 0L,
      nowMillis = System.currentTimeMillis() + 1000L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "t", "meta", "v4.schema")))
    ss.commitAppend("t", Seq((4L, "d", 40L)).toDF("k", "v", "w"))     // v4
    assert(ss.readCurrent("t").columns.toSeq === Seq("k", "v", "w"))
  }

  test("X141: unknown versions and first-commit appends fail loudly") {
    val dir = java.nio.file.Files.createTempDirectory("snap_err_").toString
    val ss = new SnapshotStore(spark, dir)
    intercept[IllegalArgumentException](
      ss.commitAppend("t", Seq((1L, "a")).toDF("k", "v")))
    ss.commitOverwrite("t", Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException](ss.readVersion("t", 0L))
    intercept[IllegalArgumentException](ss.readVersion("t", 2L))
  }

  test("X141m: cross-instance publish needs the stager's token handoff — " +
      "a token-less swap aborts, the handed-off token publishes, and a " +
      "re-claimed number rejects the STALE token") {
    val dir = java.nio.file.Files.createTempDirectory("snap_tok_").toString
    val stager = new SnapshotStore(spark, dir)
    stager.commitOverwrite("t", Seq((1L, "a")).toDF("k", "v"))
    val s = stager.stageAppend("t", Seq((2L, "b")).toDF("k", "v"))
    val token = stager.claimTokenOf("t", s).get
    // an auditor instance with NO token must not be able to swap — the
    // r13-ADVICE gap: existence-only checking would let it publish even
    // after a fence/release/re-claim cycle
    val auditor = new SnapshotStore(spark, dir)
    val e = intercept[graft.sources.ConcurrentCommitException](
      auditor.publishStaged("t", s))
    assert(e.getMessage.contains("claimTokenOf"))
    // the handed-off token publishes (the supported audit-service flow)
    assert(auditor.publishStaged("t", s, token) === s)
    assert(rows(auditor.readCurrent("t")) === Set((1L, "a"), (2L, "b")))
    // stale-token rejection: stage, crash (claim released), fresh writer
    // re-claims the SAME number — the old token must not publish the
    // fresh writer's half-staged content
    val s2 = stager.stageAppend("t", Seq((3L, "c")).toDF("k", "v"))
    val stale = stager.claimTokenOf("t", s2).get
    stager.releaseDeadClaims("t")
    val fresh = new SnapshotStore(spark, dir)
    fresh.claim("t", s2)
    fresh.stage("t", s2, Some(Seq((3L, "FRESH")).toDF("k", "v")),
      fresh.readManifest("t", s2 - 1) :+ s"v$s2")
    intercept[graft.sources.ConcurrentCommitException](
      auditor.publishStaged("t", s2, stale))
    fresh.swapTo("t", s2) // the rightful owner completes
    assert(rows(fresh.readCurrent("t")).contains((3L, "FRESH")))
  }

  test("X141m: discardStaged after the claim was released re-takes the " +
      "number with a CREATE_NEW fence before deleting — so a concurrent " +
      "re-claim either beats the fence (discard aborts) or is blocked " +
      "until the discard frees the number") {
    val dir = java.nio.file.Files.createTempDirectory("snap_disc_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, "a")).toDF("k", "v"))
    // crashed stage: claim released by the recovery sweep, artifacts left
    // orphaned on disk — the r13-ADVICE scenario (the old code deleted
    // them UNGUARDED, racing any writer re-claiming the number)
    val s2 = ss.stageAppend("t", Seq((9L, "junk")).toDF("k", "v"))
    ss.releaseDeadClaims("t")
    ss.discardStaged("t", s2)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "t", "data", s"v$s2")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "t", "meta", s"v$s2")))
    assert(ss.commitAppend("t", Seq((3L, "c")).toDF("k", "v")) === s2,
      "the discarded number must be free for the next commit")
    // the fence is a real CLAIM while the discard runs: a writer that
    // claims the number first makes the discard's CREATE_NEW throw the
    // retryable conflict (deterministic stand-in for the interleaving —
    // same code path the mid-discard re-claim hits)
    val s3 = ss.stageAppend("t", Seq((8L, "junk2")).toDF("k", "v"))
    ss.releaseDeadClaims("t")
    val writer = new SnapshotStore(spark, dir)
    writer.claim("t", s3) // re-claims the freed number
    writer.stage("t", s3, Some(Seq((8L, "live")).toDF("k", "v")),
      writer.readManifest("t", s3 - 1) :+ s"v$s3")
    // ss believes its orphan is still there; the claim file now EXISTS
    // (the writer's), so this is the deliberate-override path — but the
    // point the ADVICE fix pins is the ABSENT-claim branch above; the
    // exists-branch override stays the operator's responsibility
    // (foreign-discard spec). Here the writer completes first:
    writer.swapTo("t", s3)
    assert(rows(writer.readCurrent("t")).contains((8L, "live")))
  }

  test("X141r: deletion vectors — scattered key deletes commit with " +
      "ZERO files rewritten; reads and range reads merge at read time; " +
      "the changelog emits exactly the key delta's payloads; rollback " +
      "resurrects and restores; the fold is CoW + content-preserving; " +
      "append/CoW/stats guards refuse; retention sweeps the sidecars") {
    val dir = java.nio.file.Files.createTempDirectory("snap_dv_").toString
    val ss = new SnapshotStore(spark, dir)
    val base = spark.range(0, 1000).select(col("id").as("k"),
      col("id").cast("string").as("v"))
    ss.commitOverwriteKeyed("t", "k", base, numFiles = 8)             // v1
    // scattered: every 97th key — touches every file's range
    val dels1 = spark.range(0, 1000).filter(col("id") % 97 === 0)
      .select(col("id").as("k"))
    assert(ss.commitDeleteKeys("t", dels1) === 2L)
    // the no-rewrite contract: manifest carried byte-identical, no new
    // data dir, O(keys) sidecar only
    assert(ss.readManifest("t", 2L) === ss.readManifest("t", 1L))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "t", "data", "v2")))
    assert(ss.readCurrent("t").count() === 989L) // 11 multiples of 97
    // range read merges the vector too (97 ∈ [90, 100])
    assert(ss.readVersionWhere("t", 2L, "k", 90L, 100L).count() === 10L)
    // changelog: exactly the deleted payload rows
    val ch = ss.changesBetween("t", 1L, 2L).collect()
    assert(ch.length === 11 &&
      ch.forall(_.getAs[String]("_change") == "delete"))
    // second vector ACCUMULATES; overlapping key (0) dedups; an absent
    // key (5000) contributes nothing to reads or changelog
    assert(ss.commitDeleteKeys("t",
      spark.range(0, 1000).filter(col("id") % 89 === 0)
        .select(col("id").as("k"))
        .unionByName(Seq(5000L).toDF("k"))) === 3L)
    assert(ss.readCurrent("t").count() === 978L) // 11 + 12 − overlap {0}
    assert(ss.readVersion("t", 2L).count() === 989L) // time travel
    val ch23 = ss.changesBetween("t", 2L, 3L).collect()
    assert(ch23.length === 11 && // 12 new multiples of 89 − shared 0
      ch23.forall(_.getAs[String]("_change") == "delete"))
    // guards: append / metadata-only stats refuse loudly; a CoW merge
    // keyed on a DIFFERENT column than the vector refuses too (a
    // same-key merge now absorbs the vector — X141w, own spec below)
    intercept[IllegalArgumentException](
      ss.commitAppend("t", Seq((5000L, "x")).toDF("k", "v")))
    intercept[IllegalArgumentException](
      ss.commitMergeCow("t", "v", Seq(("1", "delete", 1L, 1L))
        .toDF("v", "change_type", "old_k", "new_k")))
    intercept[IllegalArgumentException](ss.statsFromZones("t", 3L))
    // rollback PAST the vectors resurrects: the step is pure inserts
    assert(ss.rollback("t", 1L) === 4L)
    assert(ss.readCurrent("t").count() === 1000L)
    val ch34 = ss.changesBetween("t", 3L, 4L).collect()
    assert(ch34.length === 22 &&
      ch34.forall(_.getAs[String]("_change") == "insert"))
    // rollback back ONTO a vector version restores its deletes
    assert(ss.rollback("t", 3L) === 5L)
    assert(ss.readCurrent("t").count() === 978L)
    // the FOLD: CoW (files without a deleted key carry by reference),
    // vector cleared, logical content identical ⇒ changelog skips it
    val (v6, reused) = ss.compactDeleteKeys("t")
    assert(v6 === 6L && ss.deleteKeysAt("t", 6L).isEmpty)
    assert(ss.readCurrent("t").count() === 978L)
    assert(ss.changesBetween("t", 5L, 6L).count() === 0L)
    assert(ss.statsFromZones("t", 6L).head()
      .getAs[Long]("n_rows") === 978L) // stats serve again post-fold
    // retention sweeps the del sidecars with their versions
    ss.expireVersions("t", keepFrom = 6L)
    Seq(2L, 3L, 5L).foreach(v => assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "t", "dels", s"v$v")),
      s"dels/v$v must be swept"))
    // a fresh vector on the folded table works (the lifecycle restarts),
    // and a SINGLE-key fold is file-granular CoW: exactly one of the
    // range-disjoint files holds key 500, every other carries by
    // reference (the every-file scatter above legitimately touched all)
    assert(ss.commitDeleteKeys("t", Seq(500L).toDF("k")) === 7L)
    assert(ss.readCurrent("t").count() === 977L)
    val nFiles = ss.readManifest("t", 7L).length
    val (v8, reused2) = ss.compactDeleteKeys("t")
    assert(v8 === 8L && reused2 === nFiles - 1,
      s"single-key fold must reuse all but one of $nFiles files, " +
        s"reused=$reused2")
    assert(ss.readCurrent("t").count() === 977L)
  }

  test("X141r: vector hardening — a dead delete commit's GHOST sidecar " +
      "is cleared by claim recovery (the re-claimed number must not " +
      "silently lose rows); readVersionWhereAny merges the vector; " +
      "z-ordered and mismatched-key folds refuse loudly, and the " +
      "documented full-rewrite fold clears the vector") {
    import org.apache.spark.sql.functions.max
    val dir = java.nio.file.Files.createTempDirectory("snap_dvg_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwriteKeyed("t", "k", spark.range(0, 100)
      .select(col("id").as("k"), col("id").cast("string").as("v")),
      numFiles = 4)                                                   // v1
    // a commitDeleteKeys that died AFTER writing dels/v2, BEFORE the
    // swap: claim + carried manifest + sidecar on disk
    ss.claim("t", 2L)
    ss.stage("t", 2L, None, ss.readManifest("t", 1L))
    Seq(5L).toDF("k").write.parquet(
      java.nio.file.Paths.get(dir, "t", "dels", "v2").toString)
    // recovery must clear the ghost — otherwise the number's next
    // claimant inherits it and readVersion anti-joins key 5 away FOREVER
    ss.releaseDeadClaims("t")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "t", "dels", "v2")),
      "claim recovery must clear a dead commit's delete-vector sidecar")
    assert(ss.commitAppend("t", Seq((500L, "x")).toDF("k", "v")) === 2L)
    assert(ss.readCurrent("t").count() === 101L)
    assert(ss.readCurrent("t").filter(col("k") === 5L).count() === 1L,
      "the re-claimed version must serve every row")
    // z-ordered table: vector READS are sound everywhere, incl. the
    // multi-column pruned read; the CoW fold on a z-COLUMN vector now
    // WORKS (r16 — content-preserving, vector gone; the non-z-column
    // refusal is pinned in the r16 z-order CoW test)
    val zs = new SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("snap_dvz_").toString)
    zs.commitOverwriteZordered("z", Seq("a", "b"), spark.range(0, 100)
      .select(col("id").as("a"), (col("id") % 10).as("b")))           // v1
    zs.commitDeleteKeys("z", Seq(7L).toDF("a"))                       // v2
    assert(zs.readVersionWhere("z", 2L, "a", 0L, 20L).count() === 20L,
      "the multi-column pruned read must merge the vector (21 − 1)")
    val (zv3, _) = zs.compactDeleteKeys("z")
    assert(zv3 === 3L && zs.deleteKeysAt("z", 3L).isEmpty &&
      zs.readCurrent("z").count() === 99L,
      "the r16 z-fold must clear the vector content-preservingly")
    // vector on an UNCLUSTERED column: reads + changelog sound (full
    // scan, no unsound pruning); the CoW fold refuses; the full-rewrite
    // fold works and clears the vector
    val ms = new SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("snap_dvm_").toString)
    ms.commitOverwriteKeyed("m", "k", spark.range(0, 100)
      .select(col("id").as("k"), (col("id") % 10).as("c")),
      numFiles = 4)                                                   // v1
    ms.commitDeleteKeys("m", Seq(3L).toDF("c"))                       // v2
    assert(ms.readCurrent("m").count() === 90L)
    val ch = ms.changesBetween("m", 1L, 2L).collect()
    assert(ch.length === 10 &&
      ch.forall(_.getAs[String]("_change") == "delete"))
    val em = intercept[IllegalArgumentException](ms.compactDeleteKeys("m"))
    assert(em.getMessage.contains("clusters on 'k'"))
    ms.commitOverwriteKeyed("m", "k", ms.readCurrent("m"))            // v3
    assert(ms.deleteKeysAt("m", 3L).isEmpty &&
      ms.readCurrent("m").count() === 90L)
    assert(ms.readCurrent("m").agg(max("k")).head().getLong(0) === 99L)
  }

  test("X141r/X141u edge hardening: NULL delete keys refuse loudly " +
      "(a NULL never anti-join-matches, so it would silently delete " +
      "NOTHING); an all-NULL-key file's NULL zone bounds neither NPE " +
      "clusteringDepth nor optimizeClustering (it re-clusters as " +
      "always-rewrite debt); two vectors on DIFFERENT key columns in " +
      "one changelog step fall back to the exact whole-content diff") {
    val dir = java.nio.file.Files.createTempDirectory("snap_dvn_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwriteKeyed("t", "k", spark.range(0, 100)
      .select(col("id").as("k"), (col("id") % 10).as("j")),
      numFiles = 4)                                                   // v1
    // (1) NULL keys in the vector: refused, not silently ignored
    val en = intercept[IllegalArgumentException](ss.commitDeleteKeys("t",
      Seq(Some(3L), None).toDF("k")))
    assert(en.getMessage.contains("NULL"))
    assert(ss.currentVersion("t") === 1L, "the refused delete commits " +
      "nothing")
    // (2) a file whose clustering keys are ALL NULL → NULL lo/hi zone
    // row: depth must not NPE (range-less files aren't counted, like
    // statless debt), and the recluster treats the file as always-
    // rewrite debt — its rows come out the other side intact. 60%
    // NULLs across 4 range partitions (NULLS FIRST) guarantees at
    // least one all-NULL file; the plain append adds a statless file
    // so the rewrite set crosses the ≥2 no-op bar.
    val ns = new SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("snap_dvnz_").toString)
    val withNulls = spark.range(0, 100)
      .select(when(col("id") < 60, lit(null).cast("long"))
        .otherwise(col("id")).as("k"), col("id").as("p"))
    ns.commitOverwriteKeyed("n", "k", withNulls, numFiles = 4)        // v1
    assert(ns.clusteringDepth("n", 1L) >= 1) // must not NPE
    ns.commitAppend("n", Seq(999L).toDF("p")
      .select(lit(null).cast("long").as("k"), col("p")))              // v2
    val (v3, rew, reu) = ns.optimizeClustering("n")                   // v3
    assert(v3 === 3L && rew >= 2, // must not NPE; NULL files are debt
      s"the NULL-zone and statless files must rewrite, got ($rew, $reu)")
    assert(ns.readCurrent("n").count() === 101L)
    assert(ns.readCurrent("n").filter(col("k").isNull).count() === 61L)
    assert(ns.clusteringDepth("n", 3L) >= 1) // post-recluster sweep too
    // (3) rollback lands an old vector keyed on 'j' NEXT TO a current
    // one keyed on 'k' with identical files: the key-delta fast path
    // would select the wrong column and throw — the step must fall
    // back to the exact whole-content diff instead
    ss.commitDeleteKeys("t", Seq(3L).toDF("k"))                       // v2
    ss.rollback("t", 1L)                                              // v3
    ss.commitDeleteKeys("t", Seq(7L).toDF("j"))                       // v4
    // a vector on a NON-FIRST column must not reorder reads: Spark's
    // USING join moves the key column to the front, which would make
    // positional set-ops (the changelog's exceptAll) diff garbage
    assert(ss.readVersion("t", 4L).columns.toSeq === Seq("k", "j"),
      "merge-on-read must preserve the committed column order")
    ss.rollback("t", 2L)                                              // v5
    assert(ss.readManifest("t", 5L) === ss.readManifest("t", 4L),
      "the scenario needs identical files across the step")
    // v4 serves rows with j != 7 (90 rows); v5 serves rows with k != 3
    // (99 rows): inserts = the 10 resurrected j=7 rows minus k=3 (k=3
    // has j=3), deletes = k=3 (j=3, not deleted by the j-vector)
    val step = ss.changesBetween("t", 4L, 5L).collect()
    val ins = step.filter(_.getAs[String]("_change") == "insert")
    val del = step.filter(_.getAs[String]("_change") == "delete")
    assert(ins.length === 10 && ins.forall(_.getAs[Long]("j") == 7L))
    assert(del.length === 1 && del.head.getAs[Long]("k") === 3L)
  }

  test("X141w: a same-key CoW merge ABSORBS the active delete vector " +
      "in ONE commit — vector files join the rewrite and drop their " +
      "deleted rows, untouched files still reuse by reference, the new " +
      "version carries NO vector, and the changelog step is the exact " +
      "diff (vector rows never reappear as changes)") {
    val dir = java.nio.file.Files.createTempDirectory("snap_vm_").toString
    val ss = new SnapshotStore(spark, dir)
    val base = spark.range(0, 1000).select(col("id").as("k"),
      col("id").cast("string").as("v"))
    ss.commitOverwriteKeyed("t", "k", base, numFiles = 8)             // v1
    ss.commitDeleteKeys("t", Seq(10L, 11L).toDF("k"))                 // v2
    // merge: update key 900, insert key 2000 (beyond every range) —
    // WITHOUT folding the vector first
    val cur = ss.readCurrent("t") // logical v2: 998 rows
    val target = cur.withColumn("v",
        when(col("k") === 900L, lit("UPD")).otherwise(col("v")))
      .unionByName(Seq((2000L, "NEW")).toDF("k", "v"))
    val (v3, reused) = ss.commitMergeCow("t", "k",
      graft.ops.CdcOps.snapshotDiff(cur, target, "k", Seq("v"))
        .filter(col("change_type") =!= "unchanged"))
    // 8 files: the vector's file (10, 11 live together) + key 900's
    // file rewrite; the other 6 reuse by reference
    assert(v3 === 3L && reused === 6,
      s"exactly the vector file and the touched file rewrite, got $reused")
    assert(ss.deleteKeysAt("t", 3L).isEmpty,
      "the merge must absorb the vector — no sidecar on the new version")
    val out = ss.readCurrent("t")
    assert(out.count() === 999L) // 1000 − 2 deleted + 1 inserted
    assert(out.filter(col("k").isin(10L, 11L)).isEmpty,
      "vector-deleted rows must stay deleted through the merge")
    assert(rows(out.filter(col("k").isin(900L, 2000L)))
      === Set((900L, "UPD"), (2000L, "NEW")))
    // the absorbed step's changelog: exactly the merge's own changes —
    // the vector rows were already invisible before it
    val ch = ss.changesBetween("t", 2L, 3L).collect()
    assert(ch.count(_.getAs[String]("_change") == "delete") === 1 &&
      ch.count(_.getAs[String]("_change") == "insert") === 2)
    assert(!ch.exists(r => Set(10L, 11L)(r.getAs[Long]("k"))),
      "vector rows must not reappear in the changelog")
    // time travel: v2 still serves the vector-applied content
    assert(ss.readVersion("t", 2L).count() === 998L)
    // a vector on a DIFFERENT column than the merge key still refuses
    ss.commitDeleteKeys("t", Seq("5").toDF("v"))                      // v4
    val em = intercept[IllegalArgumentException](ss.commitMergeCow("t",
      "k", graft.ops.CdcOps.snapshotDiff(ss.readCurrent("t"), target,
        "k", Seq("v")).filter(col("change_type") =!= "unchanged")))
    assert(em.getMessage.contains("fold it first"))
  }

  test("X141v: named tags pin versions against retention — " +
      "expireVersions REFUSES a floor past a tag (naming it), " +
      "expireByPolicy CLAMPS to the oldest tag and still sweeps below " +
      "it, deleteTag makes the version expirable again, re-tagging " +
      "refuses, and reads resolve through the tag forever") {
    val dir = java.nio.file.Files.createTempDirectory("snap_tag_").toString
    val ss = new SnapshotStore(spark, dir)
    (1 to 5).foreach(i => ss.commitOverwrite("t",
      Seq((i.toLong, s"v$i")).toDF("k", "v")))                  // v1..v5
    ss.tag("t", "release-1", 2L)
    ss.tag("t", "split-pin", 3L)
    assert(ss.readTag("t", "release-1") === 2L)
    assert(rows(ss.readTagged("t", "release-1")) === Set((2L, "v2")))
    assert(ss.tags("t") === Map("release-1" -> 2L, "split-pin" -> 3L))
    // retagging an existing name refuses (CREATE_NEW claim semantics)
    val er = intercept[IllegalArgumentException](ss.tag("t", "release-1", 4L))
    assert(er.getMessage.contains("already exists"))
    // explicit expire past a tag refuses and NAMES the tag
    val ee = intercept[IllegalArgumentException](ss.expireVersions("t", 3L))
    assert(ee.getMessage.contains("release-1"))
    // the policy sweep CLAMPS: keepLast=1 wants the floor at v5, the
    // oldest tag (v2) holds it — v1 expires, v2..v5 survive
    ss.expireByPolicy("t", keepLast = 1)
    assert(ss.versions("t") === (2L to 5L))
    assert(rows(ss.readTagged("t", "release-1")) === Set((2L, "v2")),
      "the tagged release must read identically after the sweep")
    // tagging an expired version refuses
    val ex = intercept[IllegalArgumentException](ss.tag("t", "old", 1L))
    assert(ex.getMessage.contains("not live"))
    // deleteTag unpins: the same policy now moves the floor to the
    // NEXT tag (v3); deleting that too lets it reach keepLast
    ss.deleteTag("t", "release-1")
    ss.expireByPolicy("t", keepLast = 1)
    assert(ss.versions("t") === (3L to 5L))
    ss.deleteTag("t", "split-pin")
    ss.expireByPolicy("t", keepLast = 1)
    assert(ss.versions("t") === Seq(5L))
    // absent-tag reads/deletes are loud
    intercept[IllegalArgumentException](ss.readTag("t", "release-1"))
    intercept[IllegalArgumentException](ss.deleteTag("t", "release-1"))
  }

  test("X141v × X142e: a tag on a pre-widening version reads back at " +
      "that version's ORIGINAL schema forever — releases pin content " +
      "AND shape across later type widening and retention") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("snap_tw_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", spark.range(0, 5)
      .select(col("id").cast("int").as("k"),
        col("id").cast("decimal(10,2)").as("d")))                  // v1
    ss.tag("t", "release-1", 1L)
    ss.commitAppendEvolved("t", spark.range(5, 8)
      .select((col("id") + 3000000000L).as("k"),
        col("id").cast("decimal(14,2)").as("d")))                  // v2
    ss.commitAppendEvolved("t", spark.range(8, 9)
      .select(col("id").as("k"),
        col("id").cast("decimal(14,2)").as("d")))                  // v3
    ss.expireByPolicy("t", keepLast = 1) // clamps at the tag (v1)
    val s1 = ss.readTagged("t", "release-1").schema
    assert(s1("k").dataType === IntegerType &&
      s1("d").dataType === DecimalType(10, 2),
      "the tagged release must keep its pre-widening shape")
    assert(ss.readTagged("t", "release-1").count() === 5L)
    assert(ss.readCurrent("t").schema("k").dataType === LongType)
  }

  test("X141v: tag vs CONCURRENT retention (true thread race) — " +
      "whatever the interleaving, a dangling tag on an expired version " +
      "is unconstructible: either the tag survives with its version " +
      "live and readable, or the tagger got a retryable conflict and " +
      "no tag exists") {
    import graft.sources.ConcurrentCommitException
    (1 to 8).foreach { i =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"snap_tagrace${i}_").toString
      val ss = new SnapshotStore(spark, dir)
      (1 to 4).foreach(j => ss.commitOverwrite("t",
        Seq((j.toLong, s"v$j")).toDF("k", "v")))                // v1..v4
      val tagged = new java.util.concurrent.atomic.AtomicBoolean(false)
      val conflicted = new java.util.concurrent.atomic.AtomicBoolean(false)
      val tA = new Thread(() =>
        try { ss.tag("t", "r", 2L); tagged.set(true) }
        catch { case _: ConcurrentCommitException => conflicted.set(true) })
      val tB = new Thread(() =>
        try { ss.expireByPolicy("t", keepLast = 1): Unit }
        catch { case _: IllegalArgumentException => () /* restored */ })
      tA.start(); tB.start(); tA.join(); tB.join()
      if (tagged.get) {
        assert(ss.readTag("t", "r") === 2L)
        assert(ss.versions("t").contains(2L),
          s"iter $i: the tagged version must be live after the race")
        assert(rows(ss.readTagged("t", "r")) === Set((2L, "v2")),
          s"iter $i: the tagged read must serve — no dangling tag")
      } else {
        assert(conflicted.get, s"iter $i: tag() must succeed or throw " +
          "the retryable conflict, nothing else")
        assert(!ss.tags("t").contains("r"),
          s"iter $i: a conflicted tag must not linger")
      }
    }
  }

  test("X141k: the expired-only sweep PINS zone dirs referenced by " +
      "staged manifests — a mid-rollback zone copy survives a concurrent " +
      "retention sweep at every seam") {
    val dir = java.nio.file.Files.createTempDirectory("snap_zpin_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwriteKeyed("t", "k",
      Seq((1L, "v1")).toDF("k", "v"), numFiles = 2)                   // v1
    ss.commitOverwriteKeyed("t", "k",
      Seq((2L, "v2")).toDF("k", "v"), numFiles = 2)                   // v2
    ss.commitOverwriteKeyed("t", "k",
      Seq((3L, "v3")).toDF("k", "v"), numFiles = 2)                   // v3
    // a rollback to v1 is mid-flight: claimed + manifest staged (data
    // entries reference v1's files), zone copy NOT yet done
    ss.claim("t", 4L)
    ss.stage("t", 4L, None, ss.readManifest("t", 1L))
    // retention moves the floor past v1 and sweeps: v1's DATA is pinned
    // by the staged manifest (existing behavior) and now its ZONE dir
    // must be too — reclaiming it mid-copy races the rollback
    ss.expireVersions("t", keepFrom = 3L)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "t", "zones", "v1")),
      "expired-only sweep reclaimed a zone dir a staged manifest pins")
    // the rollback's zone copy and swap then complete normally
    org.apache.commons.io.FileUtils.copyDirectory(
      java.nio.file.Paths.get(dir, "t", "zones", "v1").toFile,
      java.nio.file.Paths.get(dir, "t", "zones", "v4").toFile)
    ss.swapTo("t", 4L)
    assert(rows(ss.readCurrent("t")) === Set((1L, "v1")))
    // the published rollback's zone stats are live (CoW still prunes)
    assert(ss.statsFromZones("t", 4L).head().getAs[Long]("n_rows") === 1L)
  }

  test("X141t: optimizeSmallFiles packs ONLY the sub-bar files, reuses " +
      "the big one by reference, preserves content + history, and " +
      "no-ops (committing nothing) when there is no debt") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("opt_").toString
    val ss = new SnapshotStore(spark, dir)
    // one BIG file (incompressible sha-derived payload, ~0.5 MB
    // compressed) + five tiny append dirs
    def fat = org.apache.spark.sql.functions.concat_ws("",
      (0 to 7).map(i => org.apache.spark.sql.functions.sha2(
        concat(lit(i.toString), col("id").cast("string")), 256)): _*)
    ss.commitOverwrite("t", spark.range(0, 2000)
      .select(col("id").as("k"), fat.as("v"))
      .coalesce(1))
    (1 to 5).foreach(i => ss.commitAppend("t",
      Seq((10000L + i, s"small$i")).toDF("k", "v").coalesce(1)))
    val before = ss.readCurrent("t").count()
    val (v, packed, reused) = ss.optimizeSmallFiles("t",
      targetBytes = 1L << 20, smallBelowBytes = 64L << 10)
    assert(v === 7L && packed === 5 && reused === 1,
      s"5 tiny files pack, the big one reuses: got ($v, $packed, $reused)")
    assert(ss.readCurrent("t").count() === before)
    assert(ss.readVersion("t", 6L).count() === before, "time travel holds")
    assert(ss.changesBetween("t", 6L, 7L).isEmpty,
      "optimize is content-preserving — the changelog skips it")
    assert(ss.history("t").filter(col("version") === 7L)
      .head().getAs[Boolean]("content_preserving"))
    // the debt is folded: one small file remains ⇒ NO-OP, no version
    assert(ss.optimizeSmallFiles("t", 1L << 20, 64L << 10) === ((7L, 0, 0)))
    assert(ss.currentVersion("t") === 7L)
  }

  test("X141t: optimize on a KEYED table re-clusters the packed files " +
      "and writes them zone rows — append debt comes out prunable " +
      "(metadata-only stats start covering the whole table); the " +
      "delete-vector guard refuses until the fold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("opt_k_").toString
    val ss = new SnapshotStore(spark, dir)
    def fat = org.apache.spark.sql.functions.concat_ws("",
      (0 to 7).map(i => org.apache.spark.sql.functions.sha2(
        concat(lit(i.toString), col("id").cast("string")), 256)): _*)
    ss.commitOverwriteKeyed("t", "k", spark.range(0, 2000)
      .select(col("id").as("k"), fat.as("v")),
      numFiles = 4)
    (1 to 3).foreach(i => ss.commitAppend("t",
      Seq((5000L + i, s"s$i")).toDF("k", "v").coalesce(1)))
    // append-debt files carry no zone rows: metadata-only stats REFUSE
    intercept[IllegalArgumentException](ss.statsFromZones("t", 4L))
    val (v, packed, reused) = ss.optimizeSmallFiles("t",
      targetBytes = 1L << 20, smallBelowBytes = 64L << 10)
    assert(v === 5L && packed === 3 && reused === 4)
    // every file now has zone rows: stats-only aggregation covers the
    // table, and key pruning serves the packed rows correctly
    assert(ss.statsFromZones("t", 5L).head().getAs[Long]("n_rows")
      === 2003L)
    assert(ss.readVersionWhere("t", 5L, "k", 5001L, 5003L).count() === 3L)
    assert(ss.changesBetween("t", 4L, 5L).isEmpty)
    // an active vector refuses the optimize, loudly
    ss.commitDeleteKeys("t", Seq(17L).toDF("k"))
    val e = intercept[IllegalArgumentException](
      ss.optimizeSmallFiles("t", 1L << 20, 64L << 10))
    assert(e.getMessage.contains("compactDeleteKeys"))
  }

  test("X141ab (r17): optimize on a Z-ORDERED table packs the small " +
      "files re-clustered on the same z-value and reuses the hypercube " +
      "files by reference — O(debt), not the O(table) re-z-order; the " +
      "debt gains multi-column zone rows and BOTH z-columns still " +
      "prune afterwards") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("opt_z_").toString
    val ss = new SnapshotStore(spark, dir)
    def fat = org.apache.spark.sql.functions.concat_ws("",
      (0 to 7).map(i => org.apache.spark.sql.functions.sha2(
        concat(lit(i.toString), col("id").cast("string")), 256)): _*)
    ss.commitOverwriteZordered("t", Seq("k", "c"), spark.range(0, 2000)
      .select(col("id").as("k"), (col("id") % 50).as("c"), fat.as("v")),
      numFiles = 4, bits = 4)
    // three micro-appends: the streaming-sink debt shape, statless
    (1 to 3).foreach(i => ss.commitAppend("t",
      Seq((5000L + i, 500L + i, s"s$i")).toDF("k", "c", "v").coalesce(1)))
    intercept[IllegalArgumentException](ss.statsFromZones("t", 4L))
    val (v, packed, reused) = ss.optimizeSmallFiles("t",
      targetBytes = 1L << 20, smallBelowBytes = 64L << 10)
    assert(v === 5L && packed === 3 && reused === 4,
      s"3 debt files pack, 4 z-files reuse by reference: " +
        s"got ($v, $packed, $reused)")
    assert(ss.readCurrent("t").count() === 2003L)
    assert(ss.changesBetween("t", 4L, 5L).isEmpty,
      "the z-pack is content-preserving — the changelog skips it")
    // the debt gained multi-column zone coverage: metadata-only stats
    // now serve the whole table
    assert(ss.statsFromZones("t", 5L).head().getAs[Long]("n_rows")
      === 2003L)
    // BOTH z-columns still prune, and the packed file (k>=5001, c>=501)
    // is skippable on each — the version STAYS z-ordered
    assert(ss.pruneFiles("t", 5L, "k", 0L, 100L)._2.nonEmpty)
    assert(ss.pruneFiles("t", 5L, "c", 0L, 5L)._2.nonEmpty)
    assert(ss.readVersionWhere("t", 5L, "k", 5001L, 5003L).count()
      === 3L, "the pruned read over the packed rows stays exact")
    assert(ss.readVersionWhere("t", 5L, "c", 7L, 7L).count()
      === ss.readVersion("t", 5L).filter(col("c") === 7L).count())
    // no further debt: NO-OP, nothing committed
    assert(ss.optimizeSmallFiles("t", 1L << 20, 64L << 10) === ((5L, 0, 0)))
    // the vector guard holds on the z layout too
    ss.commitDeleteKeys("t", Seq(17L).toDF("k"))
    val e = intercept[IllegalArgumentException](
      ss.optimizeSmallFiles("t", 1L << 20, 64L << 10))
    assert(e.getMessage.contains("compactDeleteKeys"))
  }

  test("X141u: optimizeClustering rewrites the overlap component, " +
      "reuses disjoint files, folds statless append debt into the " +
      "clustering (gaining zone rows), and no-ops when clustered; " +
      "clusteringDepth tracks it; plain tables are refused") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rc_").toString
    val ss = new SnapshotStore(spark, dir)
    // keys 100..199 in 4 range files — depth 1
    ss.commitOverwriteKeyed("t", "k", spark.range(100, 200)
      .select(col("id").as("k"), (col("id") % 7).as("v")), numFiles = 4)
    assert(ss.clusteringDepth("t", 1L) === 1)
    // CoW: update key 100 (the min file) + inserts 300..320 → its one
    // output file spans [100, 320], overlapping the other three
    val base = ss.readCurrent("t")
    val t1 = base.withColumn("v", when(col("k") === 100L, lit(99L))
        .otherwise(col("v")))
      .unionByName(spark.range(300, 321)
        .select(col("id").as("k"), lit(0L).as("v")))
    ss.commitMergeCow("t", "k", graft.ops.CdcOps.snapshotDiff(
      base, t1, "k", Seq("v")).filter(col("change_type") =!= "unchanged"))
    assert(ss.clusteringDepth("t", 2L) === 2)
    // a plain append: statless, always-read — recluster debt too
    ss.commitAppend("t", Seq((500L, 1L)).toDF("k", "v").coalesce(1))
    val (v, rew, reu) = ss.optimizeClustering("t")
    // component {bridge, f2, f3, f4} + 1 statless file rewrite; nothing
    // disjoint-and-zoned exists to reuse here
    assert(v === 4L && rew === 5 && reu === 0)
    assert(ss.clusteringDepth("t", 4L) === 1)
    // the append row gained zone coverage: stats-only now serves ALL
    assert(ss.statsFromZones("t", 4L).head().getAs[Long]("n_rows")
      === 122L)
    assert(ss.changesBetween("t", 3L, 4L).isEmpty)
    assert(ss.optimizeClustering("t") === ((4L, 0, 0)))
    // un-zoned tables are pointed at optimizeSmallFiles instead
    val dir2 = java.nio.file.Files.createTempDirectory("rc_p_").toString
    val s2 = new SnapshotStore(spark, dir2)
    s2.commitOverwrite("t", Seq((1L, "a")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](s2.optimizeClustering("t"))
    assert(e.getMessage.contains("optimizeSmallFiles"))
  }

  test("X141t: optimize guards — packing an all-empty keyed table keeps " +
      "a READABLE version (empty-manifest guard), and a small target " +
      "SPLITS one big scan partition into several files") {
    import spark.implicits._
    // empty keyed table: zero-row files are all sub-bar; the pack's
    // writeZones emits no zone rows and nothing is reused — without the
    // guard the committed manifest would be EMPTY and unreadable forever
    val dir = java.nio.file.Files.createTempDirectory("opt_e_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwriteKeyed("t", "k",
      Seq.empty[(Long, String)].toDF("k", "v"), numFiles = 4)
    ss.commitAppend("t", Seq.empty[(Long, String)].toDF("k", "v")
      .coalesce(1))
    val (v, _, reused) = ss.optimizeSmallFiles("t", 1L << 20)
    if (v > 2L) { // only if there were >=2 physical files to pack
      assert(reused === 0)
      assert(ss.readCurrent("t").count() === 0L,
        "the packed empty version must stay readable")
    }
    // small target on one big file: coalesce cannot split, repartition
    // must take over so targetBytes is honored downward too
    val dir2 = java.nio.file.Files.createTempDirectory("opt_s_").toString
    val s2 = new SnapshotStore(spark, dir2)
    def fat = org.apache.spark.sql.functions.concat_ws("",
      (0 to 7).map(i => org.apache.spark.sql.functions.sha2(
        concat(lit(i.toString), col("id").cast("string")), 256)): _*)
    s2.commitOverwrite("t", spark.range(0, 2000)
      .select(col("id").as("k"), fat.as("v")).coalesce(1))
    s2.commitAppend("t", Seq((99999L, "tiny")).toDF("k", "v").coalesce(1))
    val before = s2.readCurrent("t").count()
    val (v2, packed2, _) = s2.optimizeSmallFiles("t",
      targetBytes = 64L << 10, smallBelowBytes = Long.MaxValue / 2)
    assert(v2 === 3L && packed2 === 2)
    val files = s2.readManifest("t", 3L).map(e =>
      new java.io.File(dir2, s"t/data/$e")).flatMap(f =>
      if (f.isDirectory) f.listFiles().toSeq.filter(
        _.getName.endsWith(".parquet")) else Seq(f))
    assert(files.size > 1,
      s"a 64 KB target over ~0.5 MB must split, got ${files.size} file(s)")
    assert(s2.readCurrent("t").count() === before)
  }

  test("X141s: two TRULY concurrent commitAppendRetry writers both " +
      "land — neither sees the CAS, content is the union, versions in " +
      "claim order") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("occ_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((0L, "base")).toDF("k", "v"))
    val a = Future(ss.commitAppendRetry("t",
      Seq((1L, "a")).toDF("k", "v"), maxAttempts = 20, backoffMs = 50))
    val b = Future(ss.commitAppendRetry("t",
      Seq((2L, "b")).toDF("k", "v"), maxAttempts = 20, backoffMs = 50))
    val (vA, vB) = (Await.result(a, 120.seconds),
      Await.result(b, 120.seconds))
    assert(Set(vA, vB) === Set(2L, 3L), s"both must land, got v$vA/v$vB")
    assert(ss.currentVersion("t") === 3L)
    assert(ss.readCurrent("t").as[(Long, String)].collect().toSet ===
      Set((0L, "base"), (1L, "a"), (2L, "b")))
  }

  test("X141s: retryReadModifyWrite re-pins its read after a REAL " +
      "interleaved commit — the lost-update anomaly cannot happen") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("occ_rmw_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, 10L)).toDF("k", "m"))
    // the transaction doubles every m; between attempt 1's read and its
    // CAS a concurrent writer appends a row — the stale-read commit
    // must NOT land (it would lose the appended row); the retry re-pins
    // and the final content doubles the interleaved row too
    var interleaved = false
    val v = ss.retryReadModifyWrite("t") { pinned =>
      val doubled = ss.readVersion("t", pinned)
        .select(col("k"), (col("m") * 2).as("m"))
      if (!interleaved) {
        interleaved = true
        ss.commitAppend("t", Seq((2L, 5L)).toDF("k", "m")) // now v2
      }
      ss.commitOverwriteAt("t", pinned, doubled)
    }
    assert(v === 3L)
    assert(ss.readCurrent("t").as[(Long, Long)].collect().toSet ===
      Set((1L, 20L), (2L, 10L)),
      "the retried transaction must derive from the interleaved version")
  }

  test("X141s: retryCommit rethrows once attempts exhaust; " +
      "commitDeleteKeysRetry lands after an in-flight append and " +
      "deletes the appended key too (write-serializable reading)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("occ_dk_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
    // a held claim that never resolves: the loop must give up loudly
    ss.claim("t", 2L)
    intercept[graft.sources.ConcurrentCommitException] {
      ss.commitAppendRetry("t", Seq((9L, "z")).toDF("k", "v"),
        maxAttempts = 2, backoffMs = 1)
    }
    ss.releaseDeadClaims("t")
    // in-flight append of key 3; the delete of {2, 3} conflicts, the
    // hook publishes the append, and the retried vector suppresses the
    // JUST-APPENDED key 3 as well — "these keys are deleted" binds to
    // whatever the table holds at read time
    val vA = ss.stageAppend("t", Seq((3L, "w")).toDF("k", "v"))
    val vDel = ss.commitDeleteKeysRetry("t", Seq(2L, 3L).toDF("k"),
      onConflict = { _ => ss.publishStaged("t", vA): Unit })
    assert(vDel === 3L)
    assert(ss.readCurrent("t").as[(Long, String)].collect().toSet ===
      Set((1L, "x")))
  }

  // --- X141y: commit-time CHECK constraints ------------------------------

  test("X141y: a violating commit refuses pre-swap with the table " +
      "unchanged and the claim released; NULL predicates pass; addCheck " +
      "validates existing content; dropCheck re-admits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("check_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t", Seq((1L, 10.0), (2L, 20.0)).toDF("k", "m"))
    // adding a check the CURRENT content violates refuses + deregisters
    val e0 = intercept[IllegalArgumentException](
      ss.addCheck("t", "big", "m > 15"))
    assert(e0.getMessage.contains("big") && ss.checks("t") === Map.empty)
    ss.addCheck("t", "pos", "m > 0")
    assert(ss.checks("t") === Map("pos" -> "m > 0"))
    // violating append: refused, nothing published, number re-usable
    val e1 = intercept[IllegalArgumentException](
      ss.commitAppend("t", Seq((3L, -1.0)).toDF("k", "m")))
    assert(e1.getMessage.contains("pos") && e1.getMessage.contains("1 row"))
    assert(ss.currentVersion("t") === 1L)
    assert(ss.commitAppend("t", Seq((3L, 3.0)).toDF("k", "m")) === 2L,
      "the released claim must let the next valid commit take the number")
    // NULL predicate = pass (SQL CHECK semantics)
    assert(ss.commitAppend("t",
      Seq((4L, Option.empty[Double])).toDF("k", "m")) === 3L)
    // a violating overwrite refuses too (it validates the NEW content)
    intercept[IllegalArgumentException](
      ss.commitOverwrite("t", Seq((9L, -9.0)).toDF("k", "m")))
    assert(ss.currentVersion("t") === 3L)
    ss.dropCheck("t", "pos")
    assert(ss.commitAppend("t", Seq((5L, -5.0)).toDF("k", "m")) === 4L)
    intercept[IllegalArgumentException](ss.dropCheck("t", "pos"))
  }

  test("X141y: addCheck fences against an in-flight commit (retryable); " +
      "a CoW merge validates its rewritten slice; a publish into a " +
      "checked table validates the referenced content") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("check_cow_").toString
    val ss = new SnapshotStore(spark, dir)
    val a = spark.range(0L, 100L).selectExpr("id AS k",
      "CAST(id + 1 AS DOUBLE) AS m")
    ss.commitOverwriteKeyed("t", "k", a, numFiles = 4)
    // in-flight claim: the add must refuse RETRYABLY, not race it
    ss.claim("t", 2L)
    intercept[graft.sources.ConcurrentCommitException](
      ss.addCheck("t", "pos", "m > 0"))
    assert(ss.checks("t") === Map.empty, "a fenced add must deregister")
    ss.releaseDeadClaims("t")
    ss.addCheck("t", "pos", "m > 0")
    // CoW merge whose rewritten slice violates: refused, layout intact
    val bad = graft.ops.CdcOps.snapshotDiff(a,
      a.withColumn("m", when(col("k") === 7L, lit(-1.0)).otherwise(col("m"))),
      "k", Seq("m")).filter(col("change_type") =!= "unchanged")
    intercept[IllegalArgumentException](ss.commitMergeCow("t", "k", bad))
    assert(ss.currentVersion("t") === 1L)
    val good = graft.ops.CdcOps.snapshotDiff(a,
      a.withColumn("m", when(col("k") === 7L, lit(77.0)).otherwise(col("m"))),
      "k", Seq("m")).filter(col("change_type") =!= "unchanged")
    assert(ss.commitMergeCow("t", "k", good)._1 === 2L)
    // publish-by-reference validates against the TARGET's checks
    ss.commitOverwrite("neg", Seq((1L, -1.0)).toDF("k", "m"))
    intercept[IllegalArgumentException](ss.commitFromTable("t", "neg"))
    assert(ss.currentVersion("t") === 2L)
    assert(ss.commitOverwriteAt("t", 2L,
      ss.readCurrent("t").limit(10)) === 3L,
      "the refused publish must release its claim on v3")
  }

  test("X141x: table maintenance runs on a CLONE's cross-referenced " +
      "layout — a delete-vector fold rewrites only touched files " +
      "(reused cross-references carry), and OPTIMIZE sizes and packs " +
      "small-file debt while carrying the source's big files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("clone_maint_").toString
    val ss = new SnapshotStore(spark, dir)
    val a = spark.range(0L, 800L).selectExpr("id AS k",
      "CAST(id AS STRING) AS v")
    ss.commitOverwriteKeyed("main", "k", a, numFiles = 8)
    ss.commitDeleteKeys("main", Seq(5L, 6L).toDF("k")) // low-range keys
    ss.cloneTable("dev", "main")
    // fold the vector ON THE CLONE: only the file holding keys 5-6
    // rewrites; the other 7 cross-referenced files carry by reference
    val (v2, reused) = ss.compactDeleteKeys("dev")
    assert(v2 === 2L && reused === 7,
      s"the fold must reuse 7 of 8 cross-referenced files, got $reused")
    assert(ss.readCurrent("dev").count() === 798L)
    assert(ss.deleteKeysAt("dev", 2L).isEmpty)
    assert(ss.readCurrent("main").count() === 798L &&
      ss.deleteKeysAt("main", 2L).nonEmpty,
      "the source keeps ITS vector — the fold was branch-local")
    // small-file debt on the clone: three tiny appends, then OPTIMIZE —
    // sizing resolves cross-references (the normalize path), packs the
    // debt, and carries every big file by reference
    (1 to 3).foreach(i =>
      ss.commitAppend("dev", Seq((9000L + i, "x")).toDF("k", "v")))
    val (v6, packed, _) = ss.optimizeSmallFiles("dev",
      targetBytes = 1L << 20)
    assert(v6 === 6L && packed >= 3,
      s"the three tiny appends must pack, packed=$packed")
    assert(ss.readCurrent("dev").count() === 801L)
    assert(ss.changesBetween("dev", 5L, 6L).isEmpty,
      "the pack is content-preserving — the changelog skips it")
  }

  test("X141x: dropTable and renameTable refuse while cross-referenced " +
      "and converge once references materialize; a renamed CLONE keeps " +
      "reading (outgoing references are position-invariant)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("drop_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("main", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    ss.cloneTable("dev", "main")
    // the source can be neither dropped nor renamed under a live clone
    val e1 = intercept[IllegalArgumentException](ss.dropTable("main"))
    assert(e1.getMessage.contains("dev"))
    intercept[IllegalArgumentException](ss.renameTable("main", "main2"))
    // the CLONE renames freely — its outgoing references still resolve
    ss.renameTable("dev", "dev2")
    assert(rows(ss.readCurrent("dev2")) === Set((1L, "a"), (2L, "b")))
    assert(!ss.exists("dev"))
    // materialize the clone; the source then drops, and the freed name
    // is immediately reusable
    ss.commitOverwrite("dev2", ss.readCurrent("dev2"))
    ss.expireVersions("dev2", 2L)
    ss.dropTable("main")
    assert(!ss.exists("main"))
    ss.commitOverwrite("main", Seq((9L, "z")).toDF("k", "v"))
    assert(rows(ss.readCurrent("main")) === Set((9L, "z")))
    // absent-table lifecycle ops are loud
    intercept[IllegalArgumentException](ss.dropTable("nope"))
    intercept[IllegalArgumentException](ss.renameTable("nope", "x"))
  }

  test("X141y: a refused violating KEYED overwrite leaves NO ghost " +
      "sidecars — the released version number's next claimant must not " +
      "inherit a schema marker, zones, or a zone-key stamp") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("check_ghost_").toString
    val ss = new SnapshotStore(spark, dir)
    // evolved table: keyed overwrites stamp their schema marker PRE-stage
    ss.commitOverwrite("t", Seq((1, 1.0)).toDF("k", "m"))
    ss.commitAppendEvolved("t", Seq((2, 2.0, "x")).toDF("k", "m", "extra"))
    ss.addCheck("t", "pos", "m > 0")
    intercept[IllegalArgumentException](
      ss.commitOverwriteKeyed("t", "k",
        Seq((3, -3.0, "y")).toDF("k", "m", "extra"), numFiles = 2))
    assert(ss.currentVersion("t") === 2L)
    val meta = java.nio.file.Paths.get(dir, "t", "meta")
    assert(!java.nio.file.Files.exists(meta.resolve("v3.schema")) &&
      !java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "t", "zones", "v3")),
      "the refusal must clear every pre-stamped v3 sidecar")
    // the next claimant of v3 (a plain append, which never stamps) must
    // read through v2's schema, not the refused batch's
    assert(ss.commitAppend("t", Seq((3, 3.0, "z")).toDF("k", "m", "extra"))
      === 3L)
    assert(ss.readCurrent("t").columns.toSeq === Seq("k", "m", "extra"))
    assert(ss.readCurrent("t").count() === 3L)
  }

  test("X141x: a MID-FLIGHT clone into a NEW table (staged manifest, no " +
      "pointer yet) already protects its source files from a concurrent " +
      "expire+vacuum; a source vacuumed inside the read-to-stage window " +
      "aborts the clone retryably instead of publishing a broken table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("clone_mid_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("main", Seq((1L, "a")).toDF("k", "v"))
    ss.commitOverwrite("main", Seq((2L, "b")).toDF("k", "v"))
    // simulate the clone's pre-swap state: claim + staged manifest that
    // cross-references main v1, pointer NOT yet written
    ss.claim("dev", 1L)
    ss.stage("dev", 1L, None, Seq("../../main/data/v1"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "main",
      "meta", "_xref"), Array.empty[Byte])
    ss.expireVersions("main", 2L)
    ss.vacuum("main")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "main", "data", "v1")),
      "the staged, pointerless clone must keep its source files live")
    ss.swapTo("dev", 1L)
    assert(rows(ss.readCurrent("dev")) === Set((1L, "a")))
    // and the in-window race: the referenced files vanish between the
    // manifest read and the stage (a concurrent vacuum that completed
    // inside the window) — the reference commit aborts RETRYABLY with
    // nothing staged and no wedged claim
    ss.commitOverwrite("src2", Seq((9L, "z")).toDF("k", "v"))
    org.apache.commons.io.FileUtils.deleteDirectory(
      java.nio.file.Paths.get(dir, "src2", "data", "v1").toFile)
    intercept[graft.sources.ConcurrentCommitException](
      ss.cloneTable("dev2", "src2"))
    assert(!ss.exists("dev2"))
    assert(ss.releaseDeadClaims("dev2") === Nil,
      "the aborted reference commit must have released its own claim")
  }

  // --- X141x: zero-copy clone / publish-by-reference ---------------------

  test("X141x: cloneTable forks zero-copy (no local data dir), reads the " +
      "fork content, and evolves independently of the source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("clone_").toString
    val ss = new SnapshotStore(spark, dir)
    val a = spark.range(0L, 400L).selectExpr("id AS k",
      "CAST(id % 7 AS STRING) AS v")
    ss.commitOverwriteKeyed("main", "k", a, numFiles = 8)
    assert(ss.cloneTable("dev", "main") === 1L)
    // ZERO-COPY: the clone wrote no data dir at all
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "dev", "data")),
      "a clone must not write any local data")
    assert(ss.readCurrent("dev").count() === 400L)
    assert(ss.readCurrent("dev").exceptAll(ss.readCurrent("main")).isEmpty)
    // independent evolution, both directions
    ss.commitAppend("main", Seq((9000L, "m")).toDF("k", "v"))
    val diff = graft.ops.CdcOps.snapshotDiff(
      ss.readCurrent("dev"),
      a.filter(col("k") < 360L || col("k") >= 400L), "k", Seq("v"))
      .filter(col("change_type") =!= "unchanged")
    val (v2, reusedN) = ss.commitMergeCow("dev", "k", diff)
    assert(v2 === 2L)
    assert(reusedN === 7, "a CoW merge on a clone must reuse every " +
      s"untouched CROSS-REFERENCED file by reference, reused=$reusedN")
    assert(ss.readCurrent("dev").count() === 360L)
    assert(ss.readCurrent("main").count() === 401L,
      "the branch merge must not leak into the source")
    assert(ss.readVersion("dev", 1L).count() === 400L,
      "the clone time-travels over its own history")
  }

  test("X141x: source expire + vacuum never reclaims files a live clone " +
      "references (global reachability); after the clone materializes " +
      "and expires its references, the source vacuum reclaims them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("clone_vac_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("main", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    ss.cloneTable("dev", "main")
    // the source moves on and expires the fork version entirely
    ss.commitOverwrite("main", Seq((9L, "z")).toDF("k", "v"))
    ss.expireVersions("main", 2L)
    assert(ss.crossRefsInto("main") === Map("dev" -> 1L))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "main", "data", "v1")),
      "vacuum inside expire must keep the cross-referenced dir")
    assert(rows(ss.readCurrent("dev")) === Set((1L, "a"), (2L, "b")),
      "the clone must read after its fork version expired at the source")
    ss.vacuum("main")
    assert(rows(ss.readCurrent("dev")) === Set((1L, "a"), (2L, "b")),
      "a full source vacuum must keep cross-referenced files too")
    // offboarding: the clone materializes, expires its reference-carrying
    // v1, and the NEXT source vacuum converges — the dir is reclaimed
    ss.commitOverwrite("dev", ss.readCurrent("dev"))
    ss.expireVersions("dev", 2L)
    assert(ss.crossRefsInto("main") === Map.empty)
    ss.vacuum("main")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "main", "data", "v1")),
      "with no references left the source vacuum reclaims the dir")
    assert(rows(ss.readCurrent("dev")) === Set((1L, "a"), (2L, "b")))
  }

  test("X141x: commitFromTable publishes a branch back zero-copy; the " +
      "publish step's changelog is the exact content diff (shared files " +
      "cancel at canonical identity); clone-of-clone references the " +
      "grandparent position-invariantly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("clone_pub_").toString
    val ss = new SnapshotStore(spark, dir)
    val a = spark.range(0L, 500L).selectExpr("id AS k",
      "CAST(id AS STRING) AS v")
    ss.commitOverwriteKeyed("main", "k", a, numFiles = 8)
    ss.cloneTable("dev", "main")
    // the branch deletes one key range via CoW (most files reused…)
    val target = a.filter(col("k") < 450L || col("k") >= 460L)
    val diff = graft.ops.CdcOps.snapshotDiff(a, target, "k", Seq("v"))
      .filter(col("change_type") =!= "unchanged")
    ss.commitMergeCow("dev", "k", diff)
    val dataBefore = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "main", "data")).count()
    assert(ss.commitFromTable("main", "dev") === 2L)
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "main", "data")).count() === dataBefore,
      "a publish must write no local data under the target")
    assert(ss.readCurrent("main").exceptAll(ss.readCurrent("dev")).isEmpty)
    // references back INTO the target localize (vacuum reachability
    // treats own-manifest entries as local paths)
    assert(ss.readManifest("main", 2L).forall(!_.startsWith("../../main/")),
      "a publish must localize references into the target itself")
    // the publish step diffs to EXACTLY the branch's change — main v1's
    // untouched files are referenced locally in v1 and cross-table in
    // v2, and cancel at canonical identity
    val step = ss.changesBetween("main", 1L, 2L)
    assert(step.filter(col("_change") === "delete").count() === 10L)
    assert(step.filter(col("_change") === "insert").count() === 0L)
    // grandchild: references resolve into BOTH dev (its merge dir) and
    // main (untouched originals) — copied verbatim, never re-based
    ss.cloneTable("gc", "dev")
    assert(ss.readCurrent("gc").count() === 490L)
    assert(ss.crossRefsInto("main").contains("gc"),
      "a clone of a clone must reference the grandparent directly")
    // publish refusals: self, absent source, existing-table clone
    intercept[IllegalArgumentException](ss.commitFromTable("main", "main"))
    intercept[IllegalArgumentException](ss.commitFromTable("main", "nope"))
    intercept[IllegalArgumentException](ss.cloneTable("dev", "main"))
  }

  test("X141x: a clone carries the accumulated delete vector, zone " +
      "pruning, the bloom sidecar, and an evolved source's schema " +
      "marker — each behaves as at the source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("clone_side_").toString
    val ss = new SnapshotStore(spark, dir)
    val a = spark.range(0L, 800L).selectExpr("id AS k",
      "CAST(id * 3 AS LONG) AS u")
    ss.declareBloom("main", "u", bits = 1 << 12)
    ss.commitOverwriteKeyed("main", "k", a, numFiles = 8)
    ss.commitDeleteKeys("main", Seq(5L, 6L).toDF("k"))
    ss.cloneTable("dev", "main")
    assert(ss.readCurrent("dev").count() === 798L,
      "the clone must serve the source's merge-on-read deletes")
    // zone pruning through carried (cross-referenced) zone rows
    val (pick, skipped) = ss.pruneFiles("dev", 1L, "k", 10L, 20L)
    assert(pick.size === 1 && skipped.size === 7,
      s"carried zones must prune the clone's range read, got " +
        s"${pick.size}/${skipped.size}")
    assert(ss.readVersionWhere("dev", 1L, "k", 10L, 20L).count() === 11L)
    // bloom probe on the clone (spec copied, bitsets carried)
    val (bPick, bSkip) = ss.pruneFilesBloom("dev", 1L, "u", Seq(300L))
    assert(bPick.size < 8 && bPick.size + bSkip.size === 8,
      s"the carried bloom must skip files, got ${bPick.size} picked")
    // evolved source: the clone reads through the stamped schema
    ss.commitOverwrite("t2", Seq((1, "x")).toDF("n", "v"))
    ss.commitAppendEvolved("t2", Seq((2, "y", 1.5)).toDF("n", "v", "w"))
    ss.cloneTable("t2c", "t2")
    assert(ss.readCurrent("t2c").columns.toSeq === Seq("n", "v", "w"))
    assert(ss.readCurrent("t2c").filter(col("w").isNull).count() === 1L,
      "pre-evolution files must null-fill through the carried marker")
  }

  test("r16: GROUP clone/publish — a multi-table group (bucketed sub " +
      "included) clones zero-copy, every sub reads through the " +
      "cross-references, the clone evolves locally (mixed local + " +
      "referenced partitions), publishes back fast-forward, and global " +
      "reachability keeps referenced partitions alive across source " +
      "expiry; arity mixing refuses") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("grp_clone_").toString
    val ss = new SnapshotStore(spark, dir)
    def cnt(t: String) = ss.readTable(t, "cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    ss.commitTables("g", overwrites = Map(
      "cnt" -> Seq((1L, 10L), (2L, 20L)).toDF("k", "n"),
      "meta" -> Seq(Tuple1(1L)).toDF("w")),
      buckets = Map("cnt" -> graft.sources.SubBucket("k", 4)))
    ss.commitTables("g", appends = Map(
      "cnt" -> Seq((3L, 30L)).toDF("k", "n")))                    // g v2
    ss.cloneTable("gc", "g")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "gc", "data")),
      "a group clone must write no local data")
    assert(cnt("gc") === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(ss.readTable("gc", "meta").head().getLong(0) === 1L)
    // the clone evolves LOCALLY: a bucketed append lands in gc's own
    // bucket dir beside the cross-referenced partitions
    ss.commitTables("gc", appends = Map(
      "cnt" -> Seq((4L, 40L)).toDF("k", "n")))                    // gc v2
    assert(cnt("gc") === Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      dir, "gc", "data", "bkt__cnt", "commit_v=2")),
      "the clone's own append must write locally")
    assert(cnt("g") === Set((1L, 10L), (2L, 20L), (3L, 30L)),
      "the clone's append must not leak into the source")
    // time travel on the clone's own history
    assert(ss.readTableVersion("gc", 1L, "cnt").count() === 3L)
    // the sub-level changelog of the clone: v2 step = exactly the append
    val step = ss.changesBetweenTable("gc", "cnt", 1L, 2L)
    assert(step.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2))).toSet === Set((4L, 40L, "insert")))
    // publish back (fast-forward: g unchanged since the fork)
    assert(ss.commitFromTable("g", "gc") === 3L)
    assert(cnt("g") === Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    // the published step's changelog cancels the shared slices at
    // canonical identity: only the new partition's rows appear
    val pstep = ss.changesBetweenTable("g", "cnt", 2L, 3L)
    assert(pstep.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2))).toSet === Set((4L, 40L, "insert")))
    // reachability: expire g's pre-publish history and vacuum BOTH ways;
    // gc (and g v3's references into gc) keep reading
    ss.expireVersions("g", 3L)
    ss.vacuum("g")
    assert(cnt("g") === Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    assert(cnt("gc") === Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    // dropping the source refuses while the clone references it
    intercept[IllegalArgumentException](ss.dropTable("g"))
    // OFFBOARDING: compactBucketed on the clone re-localizes the sub
    // (the mixed local+referenced dialect collapses to one local
    // bucketed partition), after which nothing references g's data and
    // — once g itself has no reason to stay — the expired history
    // reclaims; here we just pin the localization
    ss.compactBucketed("gc", "cnt")
    assert(ss.readManifest("gc", ss.currentVersion("gc"))
      .filter(e => e.startsWith("cnt:")).forall(!_.contains("../../")),
      "compaction must materialize the cross-referenced partitions")
    assert(cnt("gc") === Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    // arity mixing refuses, both directions
    ss.commitOverwrite("plain", Seq((1L, 1L)).toDF("k", "n"))
    intercept[IllegalArgumentException](ss.commitFromTable("plain", "gc"))
    intercept[IllegalArgumentException](ss.commitFromTable("gc", "plain"))
  }

  test("r16 fast-forward publish guard: a branch publishes back only " +
      "when its origin is still at the fork point; a diverged origin " +
      "refuses retryably naming the clobbered range; each publish " +
      "fast-forwards the base so publish chains keep working; " +
      "unrelated targets keep overwrite semantics") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ff_guard_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("main", Seq((1L, "a")).toDF("k", "v"))
    ss.cloneTable("dev", "main")
    assert(ss.cloneBaseOf("dev") === Some(("main", 1L)))
    ss.commitAppend("dev", Seq((2L, "b")).toDF("k", "v"))
    // fast-forward: origin untouched since the fork → publishes
    assert(ss.commitFromTable("main", "dev") === 2L)
    assert(rows(ss.readCurrent("main")) === Set((1L, "a"), (2L, "b")))
    assert(ss.cloneBaseOf("dev") === Some(("main", 2L)),
      "a publish must fast-forward the recorded fork point")
    // chained: evolve again, publish again
    ss.commitAppend("dev", Seq((3L, "c")).toDF("k", "v"))
    assert(ss.commitFromTable("main", "dev") === 3L)
    // DIVERGED: a commit lands on main after the fork → refuse loudly,
    // naming the range, clobbering nothing
    ss.commitAppend("dev", Seq((4L, "d")).toDF("k", "v"))
    ss.commitAppend("main", Seq((99L, "z")).toDF("k", "v"))
    val e = intercept[graft.sources.ConcurrentCommitException](
      ss.commitFromTable("main", "dev"))
    assert(e.getMessage.contains("v4..v4"), e.getMessage)
    assert(rows(ss.readCurrent("main")).contains((99L, "z")),
      "the refused publish must leave the origin's commits intact")
    assert(ss.releaseDeadClaims("main") === Nil,
      "the refusal happens before any claim is taken")
    // resolve by RE-CLONING from the current origin
    ss.cloneTable("dev2", "main")
    ss.commitAppend("dev2", Seq((4L, "d")).toDF("k", "v"))
    assert(ss.commitFromTable("main", "dev2") === 5L)
    assert(rows(ss.readCurrent("main")) ===
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (99L, "z")))
    // a clone of an OLD version can never publish over newer history
    ss.cloneTable("old", "main", srcVersion = Some(2L))
    intercept[graft.sources.ConcurrentCommitException](
      ss.commitFromTable("main", "old"))
    // publishing into an UNRELATED table stays plain overwrite
    ss.commitOverwrite("other", Seq((7L, "q")).toDF("k", "v"))
    ss.commitFromTable("other", "dev2")
    assert(rows(ss.readCurrent("other")) === rows(ss.readCurrent("dev2")))
  }

  test("r16 three-way merge-back: a diverged branch merges its changes " +
      "ON TOP of the origin's own commits; keys changed identically on " +
      "both sides merge idempotently; genuine conflicts refuse naming " +
      "keys with nothing committed; the fork point does not " +
      "fast-forward (a later publish still refuses)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("merge3_").toString
    val ss = new SnapshotStore(spark, dir)
    val base = spark.range(0L, 200L).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    ss.commitOverwriteKeyed("main", "k", base, numFiles = 4)
    ss.cloneTable("dev", "main")
    // branch: update k=1, insert k=1000, delete k=2, and an update
    // that will AGREE with the origin's (k=5 → 'both')
    val branchTarget = base
      .filter(col("k") =!= 2L)
      .withColumn("v", when(col("k") === 1L, lit("dev1"))
        .when(col("k") === 5L, lit("both")).otherwise(col("v")))
      .unionByName(Seq((1000L, "new")).toDF("k", "v"))
    ss.commitMergeCow("dev", "k", graft.ops.CdcOps.snapshotDiff(
      base, branchTarget, "k", Seq("v"))
      .filter(col("change_type") =!= "unchanged"))
    // origin diverges: update k=3, delete k=4, and the SAME k=5 update
    val originTarget = base
      .filter(col("k") =!= 4L)
      .withColumn("v", when(col("k") === 3L, lit("main3"))
        .when(col("k") === 5L, lit("both")).otherwise(col("v")))
    ss.commitMergeCow("main", "k", graft.ops.CdcOps.snapshotDiff(
      base, originTarget, "k", Seq("v"))
      .filter(col("change_type") =!= "unchanged"))
    // publish refuses (diverged); the three-way merge lands BOTH sides
    intercept[graft.sources.ConcurrentCommitException](
      ss.commitFromTable("main", "dev"))
    val v3 = ss.mergeFromTable("main", "dev", "k")
    assert(v3 === 3L)
    val merged = ss.readCurrent("main").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(merged(1L) === "dev1" && merged(3L) === "main3" &&
      merged(5L) === "both" && merged(1000L) === "new")
    assert(!merged.contains(2L) && !merged.contains(4L),
      "deletes from BOTH sides must survive the merge")
    assert(merged.size === 199L)
    // the fork point must NOT fast-forward: dev still lacks main's own
    // commits, so a publish would clobber them — still refused
    intercept[graft.sources.ConcurrentCommitException](
      ss.commitFromTable("main", "dev"))
    // genuine conflict: both sides changed k=7 differently → refuse,
    // nothing committed
    ss.cloneTable("dev2", "main")
    ss.commitMergeCow("dev2", "k", graft.ops.CdcOps.snapshotDiff(
      ss.readCurrent("main"),
      ss.readCurrent("main").withColumn("v",
        when(col("k") === 7L, lit("from_dev2")).otherwise(col("v"))),
      "k", Seq("v")).filter(col("change_type") =!= "unchanged"))
    ss.commitMergeCow("main", "k", graft.ops.CdcOps.snapshotDiff(
      ss.readCurrent("main"),
      ss.readCurrent("main").withColumn("v",
        when(col("k") === 7L, lit("from_main")).otherwise(col("v"))),
      "k", Seq("v")).filter(col("change_type") =!= "unchanged"))
    val curBefore = ss.currentVersion("main")
    val e = intercept[IllegalArgumentException](
      ss.mergeFromTable("main", "dev2", "k"))
    assert(e.getMessage.contains("CONFLICTS") && e.getMessage.contains("7"))
    assert(ss.currentVersion("main") === curBefore,
      "a conflicting merge must commit nothing")
    // fast-forward delegation: a branch whose origin never moved
    ss.cloneTable("dev3", "main")
    ss.commitAppend("dev3", Seq((2000L, "ff")).toDF("k", "v"))
    assert(ss.mergeFromTable("main", "dev3", "k")
      === ss.currentVersion("main"))
    assert(ss.readCurrent("main").filter(col("k") === 2000L).count() === 1L)
  }

  test("r17 CoW soundness: commitMergeCow keyed on a NON-clustering " +
      "column refuses loudly (pre-r17 it pruned the touch set by the " +
      "wrong column's ranges — silent wrong content); mergeFromTable " +
      "dispatches such merges to the full rewrite and stays correct") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cowk_").toString
    val ss = new SnapshotStore(spark, dir)
    // clustered on 'other', NOT on 'k'
    ss.commitOverwriteKeyed("main", "other", spark.range(0L, 100L)
      .select(col("id").as("k"), (col("id") * 2).as("other")),
      numFiles = 4)
    val base = ss.readCurrent("main")
    val diff = graft.ops.CdcOps.snapshotDiff(base,
      base.withColumn("other", when(col("k") === 1L, lit(999L))
        .otherwise(col("other"))), "k", Seq("other"))
      .filter(col("change_type") =!= "unchanged").localCheckpoint()
    val e = intercept[IllegalArgumentException](
      ss.commitMergeCow("main", "k", diff))
    assert(e.getMessage.contains("clusters on 'other'") &&
      e.getMessage.contains("commitMerge"),
      s"the mismatched-key CoW must refuse naming both: $e")
    assert(!ss.mergeCowApplicable("main", "k") &&
      ss.mergeCowApplicable("main", "other"))
    // the branch merge-back dispatches to the FULL rewrite and lands
    ss.cloneTable("dev", "main")
    ss.commitMerge("dev", "k", diff)
    ss.commitAppend("main", Seq((1000L, 2000L)).toDF("k", "other"))
    val v = ss.mergeFromTable("main", "dev", "k")
    assert(v === ss.currentVersion("main"))
    val m = ss.readCurrent("main").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(m(1L) === 999L && m(1000L) === 2000L && m.size === 101,
      "both sides' changes must land through the full-rewrite fallback")
    graft.ops.RelOps.releaseCheckpoint(diff)
  }

  test("X141ac (r17): commitAppendZoned — appends born prunable: the " +
      "batch gains per-file zone rows in the same commit, so " +
      "metadata-only stats keep serving, pruned reads skip the new " +
      "files, and a CoW merge treats them file-granularly instead of " +
      "always-rewritten; works on both prunable dialects; plain " +
      "tables refuse; a prunable vector FOLDS into the append (r18) " +
      "while an unprunable one still refuses") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("azn_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwriteKeyed("t", "k", spark.range(0L, 400L)
      .select(col("id").as("k"), (col("id") % 7).as("v")), numFiles = 4)
    assert(ss.commitAppendZoned("t", Seq((1000L, 1L), (1001L, 2L))
      .toDF("k", "v")) === 2L)
    // NO optimize in between: stats-only serves, the appended file
    // prunes, and a range read outside its span never opens it
    assert(ss.statsFromZones("t", 2L).head().getAs[Long]("n_rows")
      === 402L)
    assert(ss.readVersionWhere("t", 2L, "k", 1000L, 1001L).count() === 2L)
    val (pick, skipped) = ss.pruneFiles("t", 2L, "k", 0L, 50L)
    assert(skipped.nonEmpty && pick.size < 5,
      s"the appended file must be skippable: pick=$pick skip=$skipped")
    // a CoW merge NOT touching the appended range reuses it by file
    val base = ss.readCurrent("t")
    val diff = graft.ops.CdcOps.snapshotDiff(base,
      base.withColumn("v", when(col("k") === 1L, lit(99L))
        .otherwise(col("v"))), "k", Seq("v"))
      .filter(col("change_type") =!= "unchanged")
    val (v3, reused) = ss.commitMergeCow("t", "k", diff)
    assert(v3 === 3L && reused === 4,
      s"3 untouched range files + the appended file reuse: got $reused")
    assert(ss.readCurrent("t").count() === 402L)
    // z-ordered dialect: the appended file carries BOTH columns' ranges
    ss.commitOverwriteZordered("z", Seq("k", "c"), spark.range(0L, 1000L)
      .select(col("id").as("k"), (col("id") % 50).as("c"),
        (col("id") % 7).as("v")), numFiles = 4, bits = 4)
    assert(ss.commitAppendZoned("z", Seq((5000L, 500L, 1L))
      .toDF("k", "c", "v")) === 2L)
    assert(ss.statsFromZones("z", 2L).head().getAs[Long]("n_rows")
      === 1001L)
    assert(ss.pruneFiles("z", 2L, "k", 0L, 100L)._2.nonEmpty &&
      ss.pruneFiles("z", 2L, "c", 0L, 5L)._2.nonEmpty,
      "the appended file must prune on both z-columns")
    assert(ss.readVersionWhere("z", 2L, "c", 500L, 500L).count() === 1L)
    // plain tables refuse (commitAppend is that path)
    ss.commitOverwrite("p", Seq((1L, "a")).toDF("k", "s"))
    val e = intercept[IllegalArgumentException](
      ss.commitAppendZoned("p", Seq((2L, "b")).toDF("k", "s")))
    assert(e.getMessage.contains("commitAppend"))
    // an active PRUNABLE vector FOLDS into the append (r18, the X141w
    // pattern): the new version carries no vector, and the appended
    // row re-using a previously deleted key SURVIVES — the exact
    // silent-suppression the old refusal existed to prevent
    ss.commitDeleteKeys("t", Seq(0L).toDF("k"))                   // v4
    assert(ss.commitAppendZoned("t",
      Seq((2000L, 0L)).toDF("k", "v")) === 5L)                    // v5
    assert(ss.deleteKeysAt("t", 5L).isEmpty, "the fold clears the vector")
    assert(ss.readCurrent("t").filter(col("k") === 0L).count() === 0L)
    assert(ss.readCurrent("t").filter(col("k") === 2000L).count() === 1L,
      "an appended row re-using a deleted key must survive the fold")
    assert(ss.readCurrent("t").count() === 402L)
    // an UNPRUNABLE vector (non-clustered column) still refuses
    ss.commitDeleteKeys("t", Seq(99L).toDF("v"))                  // v6
    val e2 = intercept[IllegalArgumentException](
      ss.commitAppendZoned("t", Seq((3000L, 1L)).toDF("k", "v")))
    assert(e2.getMessage.contains("compactDeleteKeys"))
  }

  test("X144 (r17): predicate CoW mutations — commitDeleteWhere " +
      "rewrites ONLY the files holding matching rows (reuse pinned), " +
      "the changelog is the exact row diff, commitUpdateWhere " +
      "preserves the schema byte-for-byte, layouts keep their dialect " +
      "(keyed re-stats; z-ordered keeps BOTH columns pruning), no-ops " +
      "commit nothing, and the vector guard refuses") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pcow_").toString
    val ss = new SnapshotStore(spark, dir)
    // keyed: 4 range files of 100 keys each
    ss.commitOverwriteKeyed("t", "k", spark.range(0L, 400L)
      .select(col("id").as("k"), (col("id") % 7).as("v")), numFiles = 4)
    // DELETE confined to the low file: exactly 1 file rewrites
    val (v2, reused2) = ss.commitDeleteWhere("t", "k < 50 AND k % 10 = 3")
    assert(v2 === 2L && reused2 === 3,
      s"only the low file holds matches — got ($v2, $reused2)")
    assert(ss.readCurrent("t").count() === 395L)
    assert(ss.readVersion("t", 1L).count() === 400L, "time travel holds")
    // the changelog is EXACTLY the deleted rows (unchanged rows in the
    // rewritten file cancel)
    val ch = ss.changesBetween("t", 1L, 2L)
    assert(ch.count() === 5L &&
      ch.filter(col("_change") === "delete").count() === 5L)
    assert(ch.select("k").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(3L, 13L, 23L, 33L, 43L))
    // the rewritten file re-gained zone rows: stats-only covers all
    assert(ss.statsFromZones("t", 2L).head().getAs[Long]("n_rows")
      === 395L)
    assert(ss.readVersionWhere("t", 2L, "k", 0L, 49L).count() === 45L)
    // UPDATE: schema identical before and after (the cast-back rule),
    // values transformed only where matched
    val schemaBefore = ss.readCurrent("t").schema
    val (v3, reused3) = ss.commitUpdateWhere("t",
      "k >= 350", Map("v" -> "v + 100"))
    assert(v3 === 3L && reused3 === 3)
    assert(ss.readCurrent("t").schema === schemaBefore,
      "the SET cast-back must keep the schema byte-identical")
    assert(ss.readCurrent("t").filter(col("k") >= 350L && col("v") < 100L)
      .count() === 0L)
    assert(ss.readCurrent("t").filter(col("k") < 350L && col("v") >= 100L)
      .count() === 0L, "non-matching rows must be untouched")
    // a predicate matching NOTHING is a no-op: no version committed
    assert(ss.commitDeleteWhere("t", "k = -1") === ((3L, -1)))
    assert(ss.currentVersion("t") === 3L)
    // an expression that cannot survive the cast-back refuses loudly
    intercept[Exception](
      ss.commitUpdateWhere("t", "k = 0", Map("zzz" -> "1")))
    // z-ordered: the mutation keeps the z dialect — both columns prune
    ss.commitOverwriteZordered("z", Seq("k", "c"), spark.range(0L, 2000L)
      .select(col("id").as("k"), (col("id") % 50).as("c"),
        (col("id") % 7).as("v")), numFiles = 8, bits = 4)
    val (zv, zreused) = ss.commitDeleteWhere("z", "k < 100 AND c < 10")
    assert(zv === 2L && zreused > 0,
      s"hypercube files without matches must carry by reference: $zreused")
    assert(ss.pruneFiles("z", 2L, "k", -10L, -1L)._2.nonEmpty &&
      ss.pruneFiles("z", 2L, "c", -10L, -1L)._2.nonEmpty,
      "both z-columns must still prune after the mutation")
    assert(ss.readCurrent("z").count() ===
      2000L - spark.range(0L, 2000L).filter(col("id") < 100L &&
        col("id") % 50 < 10L).count())
    // a PLAIN table mutates too (no zones required)
    ss.commitOverwrite("p", Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "s"))
    val (pv, _) = ss.commitUpdateWhere("p", "k = 2",
      Map("s" -> "upper(s)"))
    assert(pv === 2L)
    assert(ss.readCurrent("p").orderBy("k").collect().map(_.getString(1))
      .toSeq === Seq("a", "B", "c"))
    // the vector guard: fold first
    ss.commitDeleteKeys("p", Seq(1L).toDF("k"))
    val e = intercept[IllegalArgumentException](
      ss.commitDeleteWhere("p", "k = 3"))
    assert(e.getMessage.contains("compactDeleteKeys"))
    // groups refuse (single-table op)
    ss.commitTables("g", overwrites = Map(
      "a" -> Seq((1L, 2L)).toDF("k", "n")))
    intercept[IllegalArgumentException](ss.commitDeleteWhere("g", "k = 1"))
    // CALL spellings drive the same machinery
    val st = SnapshotSql.sql(ss, "CALL delete_where('t', 'k = 5')")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(st("version") === "4" && st("files_reused") === "3")
    SnapshotSql.sql(ss, "CALL update_where('t', 'k = 6', 'v', 'v + 1000')")
    assert(ss.readCurrent("t").filter(col("k") === 6L).head().getLong(1)
      >= 1000L)
  }

  test("r17 planning guard: spark.graft.maxPlannedFiles bounds the " +
      "driver-side O(files) planning — commit/maintenance paths refuse " +
      "LOUDLY with the remediation, the bloom read path degrades to " +
      "the conservative unpruned choice, and the default cap leaves " +
      "normal tables untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cap_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.declareBloom("t", "v", bits = 1 << 12)
    ss.commitOverwriteKeyed("t", "k", spark.range(0L, 160L)
      .select(col("id").as("k"), (col("id") % 13).as("v")), numFiles = 8)
    val diff = graft.ops.CdcOps.snapshotDiff(ss.readCurrent("t"),
      ss.readCurrent("t").withColumn("v",
        when(col("k") === 1L, lit(99L)).otherwise(col("v"))),
      "k", Seq("v")).filter(col("change_type") =!= "unchanged")
      .localCheckpoint()
    // under the cap: a definitely-absent probe value skips files
    val (_, skipped) = ss.pruneFilesBloom("t", 1L, "v", Seq(999L))
    assert(skipped.nonEmpty, "the bloom must skip under the cap")
    spark.conf.set("spark.graft.maxPlannedFiles", "4")
    try {
      val e = intercept[IllegalArgumentException](
        ss.commitMergeCow("t", "k", diff))
      assert(e.getMessage.contains("maxPlannedFiles") &&
        e.getMessage.contains("optimizeSmallFiles"),
        s"the refusal must name the knob and the remediation: $e")
      intercept[IllegalArgumentException](
        ss.optimizeSmallFiles("t", 1L << 20, Long.MaxValue / 2))
      intercept[IllegalArgumentException](ss.optimizeClustering("t"))
      assert(ss.currentVersion("t") === 1L, "refusals commit nothing")
      // the READ path degrades instead of refusing: everything chosen,
      // nothing skipped, result still exact
      val (chosen2, skipped2) = ss.pruneFilesBloom("t", 1L, "v", Seq(999L))
      assert(skipped2.isEmpty && chosen2.size === 8)
      assert(ss.readVersionPoint("t", 1L, "v", Seq(999L)).count() === 0L,
        "the degraded read stays exact (residual filter applies)")
    } finally spark.conf.unset("spark.graft.maxPlannedFiles")
    // back under the default cap the same merge lands
    val (v2, _) = ss.commitMergeCow("t", "k", diff)
    assert(v2 === 2L)
    graft.ops.RelOps.releaseCheckpoint(diff)
  }

  test("r17 merge pinning: commitMerge/commitMergeCow with a stale " +
      "expectedCurrent refuse retryably and commit NOTHING — the " +
      "mechanism mergeFromTable pins its conflict-checked version " +
      "with, so a commit racing into the check→commit window can " +
      "never be silently overwritten") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("merge_pin_").toString
    val ss = new SnapshotStore(spark, dir)
    val base = spark.range(0L, 100L).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    ss.commitOverwriteKeyed("t", "k", base, numFiles = 4)
    val pinned = ss.currentVersion("t") // the version a conflict check saw
    val diff = graft.ops.CdcOps.snapshotDiff(base,
      base.withColumn("v", when(col("k") === 1L, lit("upd"))
        .otherwise(col("v"))), "k", Seq("v"))
      .filter(col("change_type") =!= "unchanged").localCheckpoint()
    // ...then a commit races in (the window between check and commit)
    ss.commitAppend("t", Seq((5000L, "raced")).toDF("k", "v"))
    intercept[graft.sources.ConcurrentCommitException](
      ss.commitMergeCow("t", "k", diff, expectedCurrent = Some(pinned)))
    intercept[graft.sources.ConcurrentCommitException](
      ss.commitMerge("t", "k", diff, expectedCurrent = Some(pinned)))
    assert(ss.currentVersion("t") === pinned + 1,
      "the stale-pinned merges must commit nothing")
    assert(ss.readCurrent("t").filter(col("k") === 5000L).count() === 1L,
      "the raced commit must survive untouched")
    // re-pinned against the CURRENT version, the same diff lands
    val (v, _) = ss.commitMergeCow("t", "k", diff,
      expectedCurrent = Some(ss.currentVersion("t")))
    assert(v === pinned + 2)
    assert(ss.readCurrent("t").filter(col("k") === 1L).head().getString(1)
      === "upd")
    graft.ops.RelOps.releaseCheckpoint(diff)
  }

  test("r16 vacuum-fence: vacuumDryRun never clears the _xref marker; " +
      "the full vacuum clears it only with zero refs AND zero in-flight " +
      "claims store-wide (the mid-flight-reference data-loss fence)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("xref_fence_").toString
    val ss = new SnapshotStore(spark, dir)
    val marker = java.nio.file.Paths.get(dir, "main", "meta", "_xref")
    ss.commitOverwrite("main", Seq((1L, "a")).toDF("k", "v"))
    ss.cloneTable("dev", "main")
    assert(java.nio.file.Files.exists(marker),
      "cloning must stamp the source's _xref marker")
    // materialize the clone away from the source: refs drop to zero,
    // but the marker must survive BOTH the dry-run and a full vacuum
    // while any above-pointer claim exists anywhere in the store
    ss.commitOverwrite("dev", ss.readCurrent("dev"))
    ss.expireVersions("dev", 2L)
    assert(ss.crossRefsInto("main").isEmpty)
    ss.vacuumDryRun("main")
    assert(java.nio.file.Files.exists(marker),
      "vacuumDryRun mutated store state — it must delete NOTHING")
    ss.commitOverwrite("peer", Seq((1L, "p")).toDF("k", "v"))
    ss.claim("peer", 2L) // a commit in flight somewhere in the store
    ss.vacuum("main")
    assert(java.nio.file.Files.exists(marker),
      "an in-flight claim may be a referenceCommit in its stamp-to-" +
        "stage window — the marker must not clear under it")
    ss.releaseDeadClaims("peer")
    ss.vacuum("main")
    assert(!java.nio.file.Files.exists(marker),
      "quiesced + ref-free: the full vacuum self-heals the marker")
  }

  test("r16 drop-fence: a clone/publish aborts retryably when a " +
      "referenced table is mid-drop (tombstone visible), and a crashed " +
      "drop's leftover tombstone completes on re-run") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("drop_fence_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("src", Seq((1L, "a")).toDF("k", "v"))
    // simulate the dropper's window: tombstone written, dir not yet gone
    val tomb = java.nio.file.Paths.get(dir, "src", "meta", "_dropped")
    java.nio.file.Files.write(tomb, "dropping\n".getBytes)
    intercept[graft.sources.ConcurrentCommitException](
      ss.cloneTable("dev", "src"))
    assert(!ss.exists("dev"))
    assert(ss.releaseDeadClaims("dev") === Nil,
      "the fenced clone must release its own claim")
    // crashed drop: re-running completes it
    ss.dropTable("src")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "src")))
    // rename cleans its tombstone off the NEW name (the table is alive)
    ss.commitOverwrite("a1", Seq((1L, "a")).toDF("k", "v"))
    ss.renameTable("a1", "a2")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "a2", "meta", "_dropped")))
    ss.commitAppend("a2", Seq((2L, "b")).toDF("k", "v"))
    assert(ss.readCurrent("a2").count() === 2L)
  }

  test("r16 drop-vs-clone THREAD RACE: whatever the interleaving, a " +
      "swapped clone always reads its full content and a completed " +
      "drop leaves no clone — the silent swap-then-delete shape is " +
      "unconstructible; every failure is loud and leaves no wedged " +
      "claim") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("race_drop_").toString
    val ss = new SnapshotStore(spark, dir)
    val df = spark.range(0L, 500L).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    var clonesWon = 0; var dropsWon = 0
    for (i <- 1 to 10) {
      val src = s"src$i"; val dev = s"dev$i"
      ss.commitOverwrite(src, df)
      val gate = new java.util.concurrent.CountDownLatch(1)
      @volatile var cloneOk = false
      @volatile var dropOk = false
      val a = new Thread(() => {
        gate.await()
        try { ss.cloneTable(dev, src); cloneOk = true }
        catch {
          case _: graft.sources.ConcurrentCommitException => ()
          case _: IllegalArgumentException => () // src already gone
        }
      })
      val b = new Thread(() => {
        gate.await()
        try { ss.dropTable(src); dropOk = true }
        catch {
          case _: graft.sources.ConcurrentCommitException => ()
          case _: IllegalArgumentException => () // cross-referenced
        }
      })
      a.start(); b.start(); gate.countDown(); a.join(); b.join()
      assert(!(cloneOk && dropOk),
        s"iter $i: drop must refuse while the clone references the " +
          "source (or the clone must have aborted)")
      if (cloneOk) {
        clonesWon += 1
        assert(ss.readCurrent(dev).count() === 500L,
          s"iter $i: a swapped clone must read its FULL content — " +
            "files must never vanish under it")
      } else {
        assert(!ss.exists(dev), s"iter $i: a fenced clone must not swap")
        assert(ss.releaseDeadClaims(dev) === Nil,
          s"iter $i: the fenced clone must release its own claim")
        if (!dropOk) {
          // both fenced (clone saw the tombstone, drop saw the staged
          // manifest in its re-check): both sides must have cleaned up,
          // so a RETRY of the drop succeeds
          ss.dropTable(src)
          dropOk = true
        }
      }
      if (dropOk) {
        dropsWon += 1
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, src)),
          s"iter $i: a completed drop must remove the table")
      }
    }
    info(s"race outcomes over 10 iterations: $clonesWon clones won, " +
      s"$dropsWon drops completed")
  }

  test("r16: a clone INHERITS the source's CHECK constraints (Delta " +
      "SHALLOW CLONE property semantics) — a violating commit on the " +
      "fork refuses exactly as it would on the source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("clone_check_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("main", Seq((1L, 5.0)).toDF("k", "m"))
    ss.addCheck("main", "m_pos", "m > 0")
    ss.cloneTable("dev", "main")
    assert(ss.checks("dev") === Map("m_pos" -> "m > 0"),
      "clone must carry the source's CHECK markers")
    intercept[IllegalArgumentException](
      ss.commitAppend("dev", Seq((2L, -1.0)).toDF("k", "m")))
    assert(ss.currentVersion("dev") === 1L)
    ss.commitAppend("dev", Seq((2L, 2.0)).toDF("k", "m"))
    assert(ss.readCurrent("dev").count() === 2L)
    // PUBLISH does not copy: the target's own (absent) checks govern
    ss.commitOverwrite("other", Seq((9L, -9.0)).toDF("k", "m"))
    ss.commitFromTable("other", "dev")
    assert(ss.checks("other").isEmpty,
      "publish must not graft the source's checks onto the target")
  }

  test("r18 DELETE three-valued semantics: rows where the predicate " +
      "evaluates NULL are KEPT — in rewritten files exactly like in " +
      "carried ones (the layout-dependent-loss fix)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("delnull_").toString
    val ss = new SnapshotStore(spark, dir)
    // s is NULL on every k % 10 == 0 — nulls land in EVERY range file
    val src = spark.range(0L, 400L).select(col("id").as("k"),
      when(col("id") % 10 =!= 0L, col("id") % 7).as("s"))
    ss.commitOverwriteKeyed("t", "k", src, numFiles = 4)
    val nNull = 40L
    // the predicate is NULL on null-s rows; TRUE only on s < 3 deep in
    // the low file (range-partitioner boundaries are sampled, so the
    // pin stays clear of them) — SQL DELETE keeps false AND NULL rows
    val (v2, reused) = ss.commitDeleteWhere("t", "s < 3 AND k < 50")
    assert(v2 === 2L && reused === 3,
      s"only the low file holds TRUE rows — got ($v2, $reused)")
    assert(ss.readCurrent("t").filter(col("s").isNull).count() === nNull,
      "NULL-predicate rows must survive the rewrite (not(NULL) is " +
        "NULL, not false)")
    val expect = src.filter(!(org.apache.spark.sql.functions.coalesce(
      col("s") < 3 && col("k") < 50, lit(false)))).count()
    assert(ss.readCurrent("t").count() === expect)
    // and the UPDATE transform leaves NULL-predicate rows untouched
    val (v3, _) = ss.commitUpdateWhere("t", "s < 1 AND k < 100",
      Map("s" -> "s + 100"))
    assert(v3 === 3L)
    assert(ss.readCurrent("t").filter(col("s").isNull).count() === nNull)
  }

  test("r18 UPDATE pre-image semantics: every SET expression and the " +
      "WHERE predicate evaluate against the ORIGINAL row — " +
      "SET v = v + 1, w = v assigns the PRE-image v to w") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("updpre_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwrite("t",
      Seq((1L, 0L, 9L), (2L, 5L, 9L)).toDF("k", "v", "w"))
    val (v2, _) = ss.commitUpdateWhere("t", "v = 0",
      Map("v" -> "v + 1", "w" -> "v"))
    assert(v2 === 2L)
    val r = ss.readCurrent("t").orderBy("k").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    // the sequential-withColumn fold would have produced w = 1 (the
    // already-updated v) or skipped w (the re-tested predicate)
    assert(r === Seq((1L, 1L, 0L), (2L, 5L, 9L)),
      s"pre-image SET semantics: got $r")
  }

  test("r18 zone-pruned discovery (clears the X144 weak grade): " +
      "pruneFilesForPredicate opens ONLY range-intersecting files for " +
      "clustered-column predicates — AND drops untranslatable sides, " +
      "OR needs both, IN enumerates, unclustered/opaque predicates " +
      "degrade to the full scan — and the mutation itself stays exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pdisc_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwriteKeyed("t", "k", spark.range(0L, 1600L)
      .select(col("id").as("k"), (col("id") % 7).as("v")), numFiles = 16)
    def chosen(p: String): Int = ss.pruneFilesForPredicate("t", 1L, p)._1.size
    assert(chosen("k < 100") === 1, "a low range opens one file")
    assert(chosen("k >= 1500") === 1)
    assert(chosen("k < 100 AND v % 3 = 0") === 1,
      "AND must keep pruning on the translatable side")
    assert(chosen("k < 100 OR k >= 1500") === 2)
    assert(chosen("k IN (5, 1505)") === 2)
    assert(chosen("200 > k") === 2, "reversed literal-first comparisons")
    assert(chosen("k = 850") === 1)
    assert(chosen("v = 5") === 16, "unclustered predicates scan all")
    assert(chosen("k % 10 = 7") === 16, "opaque predicates scan all")
    assert(chosen("k < 100 OR v = 5") === 16,
      "an OR with an untranslatable side must NOT prune")
    // the retention-shaped delete is exact AND file-granular
    val (v2, reused) = ss.commitDeleteWhere("t", "k < 100")
    assert(v2 === 2L && reused === 15)
    assert(ss.readCurrent("t").count() === 1500L)
    // z-ordered dialect: ANY z-column's ranges prune discovery
    ss.commitOverwriteZordered("z", Seq("k", "c"), spark.range(0L, 1600L)
      .select(col("id").as("k"), (col("id") % 40).as("c"),
        (col("id") % 7).as("v")), numFiles = 16, bits = 4)
    val zAll = ss.pruneFilesForPredicate("z", 1L, "v = 1")._1.size
    val zK = ss.pruneFilesForPredicate("z", 1L, "k < 100")._1.size
    val zBoth = ss.pruneFilesForPredicate("z", 1L, "k < 100 AND c < 5")._1.size
    assert(zK < zAll, s"a z-column range must prune the hypercubes: $zK/$zAll")
    assert(zBoth <= zK, "both z-columns compound")
  }

  test("BETWEEN prunes as its two comparisons: k BETWEEN x AND y chooses " +
      "exactly the files of k >= x AND k <= y; NOT BETWEEN does not prune") {
    val dir = java.nio.file.Files.createTempDirectory("pbetween_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwriteKeyed("t", "k", spark.range(0L, 1600L)
      .select(col("id").as("k"), (col("id") % 7).as("v")), numFiles = 16)
    def chosen(p: String) = ss.pruneFilesForPredicate("t", 1L, p)._1
    val between = chosen("k BETWEEN 250 AND 420")
    assert(between === chosen("k >= 250 AND k <= 420"))
    assert(between.nonEmpty && between.size < 16,
      s"BETWEEN must prune: chose ${between.size} of 16")
    assert(chosen("k NOT BETWEEN 250 AND 420").size === 16)
    assert(chosen("NOT (k BETWEEN 250 AND 420)").size === 16)
    // the mutation prunes too, and stays exact
    val (_, reused) = ss.commitDeleteWhere("t", "k BETWEEN 250 AND 420")
    assert(reused === 16 - between.size)
    assert(ss.readCurrent("t").count() === 1600L - 171L)
  }

  test("r18 vector fold into predicate mutations (the X141w pattern): " +
      "an active clustering-key vector folds into DELETE/UPDATE WHERE " +
      "as one commit — the new version carries NO vector, files " +
      "neither predicate- nor vector-touched still reuse, and content " +
      "equals the fold-first sequence; an unprunable vector refuses; " +
      "a no-op predicate leaves the vector alone") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vfold_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitOverwriteKeyed("t", "k", spark.range(0L, 800L)
      .select(col("id").as("k"), (col("id") % 7).as("v")), numFiles = 8)
    ss.commitDeleteKeys("t", Seq(10L, 11L).toDF("k"))             // v2
    // predicate touches the HIGH file; the vector lives in the LOW one
    val (v3, reused) = ss.commitDeleteWhere("t", "k >= 700")      // v3
    assert(v3 === 3L && reused === 6,
      s"6 of 8 files are neither predicate- nor vector-touched: $reused")
    assert(ss.deleteKeysAt("t", 3L).isEmpty, "the fold clears the vector")
    assert(ss.readCurrent("t").count() === 800L - 2L - 100L)
    assert(ss.readCurrent("t").filter(col("k").isin(10L, 11L)).count()
      === 0L, "vector-deleted rows must stay deleted after the fold")
    // the changelog across the fold is EXACTLY the predicate's rows —
    // vector rows were already invisible at v2
    assert(ss.changesBetween("t", 2L, 3L).count() === 100L)
    // a no-op predicate commits nothing and leaves an active vector be
    ss.commitDeleteKeys("t", Seq(20L).toDF("k"))                  // v4
    assert(ss.commitDeleteWhere("t", "k = -5") === ((4L, -1)))
    assert(ss.deleteKeysAt("t", 4L).isDefined,
      "a no-op mutation must not silently fold the vector")
    // UPDATE folds the same way
    val (v5, _) = ss.commitUpdateWhere("t", "k = 30", Map("v" -> "99"))
    assert(v5 === 5L && ss.deleteKeysAt("t", 5L).isEmpty)
    assert(ss.readCurrent("t").filter(col("k") === 20L).count() === 0L)
    assert(ss.readCurrent("t").filter(col("k") === 30L).head().getLong(1)
      === 99L)
    // an unprunable vector (non-clustered column) still refuses
    ss.commitDeleteKeys("t", Seq(999L).toDF("v"))                 // v6
    val e = intercept[IllegalArgumentException](
      ss.commitDeleteWhere("t", "k = 40"))
    assert(e.getMessage.contains("compactDeleteKeys"))
  }

  test("r18 group-sub predicate mutations: DELETE/UPDATE WHERE on one " +
      "sub of a multi-table group commits ONE atomic version, carries " +
      "every other sub's entries by reference, and keeps the shared " +
      "NULL/pre-image semantics") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gsub_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.commitTables("g", overwrites = Map(
      "data" -> Seq((1L, 0L, 9L), (2L, 5L, 9L), (3L, 0L, 9L))
        .toDF("k", "v", "w"),
      "meta" -> Seq((1L, "a"), (2L, "b")).toDF("k", "s")))
    val metaBefore = ss.readManifest("g", 1L).filter(_.startsWith("meta:"))
    assert(ss.commitDeleteWhereTable("g", "data", "k = 3") === 2L)
    assert(ss.readManifest("g", 2L).filter(_.startsWith("meta:"))
      === metaBefore, "the untouched sub must carry by reference")
    assert(ss.readTableVersion("g", 2L, "data").count() === 2L)
    assert(ss.readTableVersion("g", 2L, "meta").count() === 2L)
    assert(ss.readTableVersion("g", 1L, "data").count() === 3L,
      "time travel over the group holds")
    // UPDATE on the sub: pre-image SET semantics through the same path
    assert(ss.commitUpdateWhereTable("g", "data", "v = 0",
      Map("v" -> "v + 1", "w" -> "v")) === 3L)
    val r = ss.readTableVersion("g", 3L, "data").orderBy("k").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r === Seq((1L, 1L, 0L), (2L, 5L, 9L)), s"pre-image on sub: $r")
    // a single-table name still refuses the sub spelling
    intercept[IllegalArgumentException](
      ss.commitDeleteWhereTable("g", "nope", "k = 1"))
  }

  test("r18 second wave — bloom-compounded discovery + predicate read: " +
      "a provable point set on the bloomed column prunes candidates " +
      "through the bitsets (compounding with zone ranges), " +
      "readVersionWherePredicate opens only candidates and stays " +
      "exact under arbitrary predicates, deletes applied") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpred_").toString
    val ss = new SnapshotStore(spark, dir)
    ss.declareBloom("t", "v", bits = 1 << 13)
    // v is k-correlated plus a unique tail value per file, so point
    // probes have skippable structure AND definite-absent values
    ss.commitOverwriteKeyed("t", "k", spark.range(0L, 1600L)
      .select(col("id").as("k"), (col("id") % 1000 + 100000L).as("v")),
      numFiles = 16)
    def chosen(p: String): Int = ss.pruneFilesForPredicate("t", 1L, p)._1.size
    // a definitely-absent point value: the bloom kills ~every candidate
    assert(chosen("v = 5") <= 4,
      s"an absent bloom value must prune discovery, got ${chosen("v = 5")}")
    // zone + bloom compound: range narrows to 1, bloom can only shrink
    assert(chosen("k < 100 AND v = 5") <= 1)
    // IN enumerates through the bitsets
    assert(chosen("v IN (1, 2, 3)") <= 4)
    // a PRESENT value keeps its files; result exactness via the read
    val present = ss.readVersionWherePredicate("t", 1L, "v = 100007")
    assert(present.count() === 2L,
      "k=7 and k=1007 both map to v=100007")   // id % 1000 collision
    // arbitrary compound predicate: pruned read == filtered full read
    val p = "(k < 200 OR k >= 1400) AND v % 2 = 1"
    assert(ss.readVersionWherePredicate("t", 1L, p).count() ===
      ss.readCurrent("t").filter(expr(p)).count())
    // opaque predicate: degrades to the filtered full read, still exact
    assert(ss.readVersionWherePredicate("t", 1L, "k % 7 = 3").count() ===
      ss.readCurrent("t").filter(expr("k % 7 = 3")).count())
    // the delete vector merges at read
    ss.commitDeleteKeys("t", Seq(7L).toDF("k"))
    assert(ss.readVersionWherePredicate("t", 2L, "v = 100007").count()
      === 1L, "the vector must apply to the predicate read")
    // DELETE WHERE on an absent point value: discovery prunes to ~zero
    // candidates and the mutation no-ops without a commit
    assert(ss.commitDeleteWhere("t", "v = 5")._2 === -1)
  }

  test("r18 review fixes: cross-type predicates NEVER prune (a string " +
      "column against a numeric literal compares under double " +
      "promotion where string min/max lie — the silent-missed-delete " +
      "hole), same-domain predicates still prune, and group-sub " +
      "mutations no-op without committing when nothing matches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("xtype_").toString
    val ss = new SnapshotStore(spark, dir)
    // STRING clustering key: string min/max ordering puts "10" < "9",
    // so numeric-literal pruning would skip the file holding "9"
    ss.commitOverwriteKeyed("t", "k", spark.range(1L, 401L)
      .select(col("id").cast("string").as("k"), (col("id") % 7).as("v")),
      numFiles = 4)
    val (candNum, skipNum) =
      ss.pruneFilesForPredicate("t", 1L, "k = 9")
    assert(skipNum.isEmpty && candNum.size === 4,
      "a numeric literal against a string key must NOT prune")
    // ... and the delete itself finds its row (pre-fix: silent no-op)
    val (v2, _) = ss.commitDeleteWhere("t", "k = 9")
    assert(v2 === 2L && ss.readCurrent("t").count() === 399L,
      "the coerced match must be found and deleted")
    // a STRING literal stays in the string domain and still prunes
    assert(ss.pruneFilesForPredicate("t", 2L, "k = '250'")._2.nonEmpty,
      "same-domain literals must keep pruning")
    // STRING bloom column probed with a numeric literal: "07" matches
    // 7 under coercion but hashes differently — the proof must refuse
    ss.declareBloom("b", "v", bits = 1 << 12)
    ss.commitOverwriteKeyed("b", "k", Seq((1L, "07"), (2L, "9"))
      .toDF("k", "v"), numFiles = 1)
    assert(ss.pruneFilesForPredicate("b", 1L, "v = 7")._2.isEmpty,
      "a numeric literal against a string bloom column must not prune")
    val (bv2, _) = ss.commitDeleteWhere("b", "v = 7")
    assert(bv2 === 2L && ss.readCurrent("b").count() === 1L,
      "the coerced bloom match must be found and deleted")
    // a LONG bloom column probed with a string or fractional literal:
    // the coercion is non-injective above 2^53, so the hash-exactness
    // gate must refuse the proof (no pruning — full-scan fallback)
    ss.declareBloom("n", "v", bits = 1 << 12)
    ss.commitOverwriteKeyed("n", "k", Seq((1L, 5L), (2L, 6L))
      .toDF("k", "v"), numFiles = 1)
    assert(ss.pruneFilesForPredicate("n", 1L, "v = '5'")._2.isEmpty,
      "a string literal against a long bloom column must not prune")
    assert(ss.pruneFilesForPredicate("n", 1L, "v = 5.0")._2.isEmpty,
      "a fractional literal against a long bloom column must not prune")
    // integral literal against the long column still proves + prunes
    // when the value is definitely absent
    assert(ss.pruneFilesForPredicate("n", 1L, "v = 999")._1.isEmpty,
      "an absent integral point must prune through the bitset")
    // date/timestamp cross-literals keep pruning (monotone widenings):
    // a timestamp-keyed table under a DATE-literal retention predicate
    ss.commitOverwriteKeyed("ts", "t", spark.range(0L, 400L)
      .select(org.apache.spark.sql.functions.timestamp_seconds(
        col("id") * 86400L).as("t"), col("id").as("k")), numFiles = 4)
    assert(ss.pruneFilesForPredicate("ts", 1L,
        "t < DATE '1970-02-01'")._2.size >= 2,
      "a DATE literal against a timestamp key must still prune")
    // group-sub no-op contract: nothing matches => nothing commits,
    // but SET validation STILL fires (not data-dependent)
    ss.commitTables("g", overwrites = Map(
      "data" -> Seq((1L, 2L)).toDF("k", "n"),
      "idx" -> Seq((1L, "a")).toDF("k", "s")))
    assert(ss.commitDeleteWhereTable("g", "data", "k = -999") === 1L)
    assert(ss.commitUpdateWhereTable("g", "data", "k = -999",
      Map("n" -> "0")) === 1L)
    assert(ss.currentVersion("g") === 1L,
      "a no-match sub mutation must commit nothing")
    intercept[IllegalArgumentException](
      ss.commitUpdateWhereTable("g", "data", "k = -999",
        Map("bogus" -> "1")))
  }
}
