package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Env
import graft.ops.CdcOps

/** Change-data-capture / incremental-maintenance operators. Two order-table
  * "snapshots" are derived deterministically from the same base table in
  * BOTH engines (keys mod 10: bucket 7 missing from A = inserts, bucket 5
  * missing from B = deletes, bucket 3 repriced ×1.05 = updates), so the
  * oracle can cross-check real diff/merge machinery without a second
  * dataset. Price arithmetic is exact DECIMAL end-to-end (cast at scale 4,
  * two digits below the 2-decimal data; ×1.05 as a decimal literal —
  * a double literal would silently degrade the whole expression to float
  * math) and only cast to DOUBLE for the final rounded output, so both
  * engines agree bit-for-bit.
  */
object CdcQueries {

  /** Shared oracle CTEs deriving the two snapshots. */
  private val snapCtes =
    """snapA AS (SELECT o_orderkey, o_custkey, o_orderpriority,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS price
      |  FROM orders WHERE o_orderkey % 10 <> 7),
      |snapB AS (SELECT o_orderkey, o_custkey, o_orderpriority,
      |    CASE WHEN o_orderkey % 10 = 3
      |      THEN round(CAST(o_totalprice AS DECIMAL(18,4)) * 1.05, 2)
      |      ELSE CAST(o_totalprice AS DECIMAL(18,4)) END AS price
      |  FROM orders WHERE o_orderkey % 10 <> 5)""".stripMargin

  private val cmpCols = Seq("o_custkey", "o_orderpriority", "price")

  private def priceDec(c: String) = col(c).cast("decimal(18,4)")

  /** The driver-hashable certification shape shared by the snapshot-
    * lifecycle queries (x141s/t/u/v/w, x142k): per customer-bucket row
    * counts, DOUBLE-cast exact decimal sums, key extremes, AND an exact
    * modular row FINGERPRINT over a (k, cust, p) table — immune to the
    * raw-DECIMAL repr boundary the driver's value hasher exposed on
    * full-table dumps (the recorded x116 lesson). The fingerprint is
    * what makes the aggregate row-level-sensitive: count/sum/extremes
    * alone admit compensating within-bucket alterations (cust 13→23,
    * or +x/−x across two prices), while fp moves on any single-field
    * change with collision probability ~1/M². All fp arithmetic is
    * exact BIGINT, identical in Spark and the DuckDB oracle (truncated
    * `%` on both; every term < M² ≈ 1e12, sums < 2^63 at any tested
    * sf; p scaled by 10^4 covers every decimal scale ≤ 4 in use). */
  private def shapedBuckets(t: DataFrame): DataFrame = {
    val M = 1000003L
    val term = ((col("k") * 1009L + col("cust")) % M) *
      ((col("p") * 10000).cast("long") % M + 1L)
    t.groupBy((col("cust") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("p")).cast("double").as("total"),
        min("k").as("min_k"), max("k").as("max_k"),
        sum(term).as("fp"))
      .orderBy("bucket")
  }

  /** [[shapedBuckets]] with a version label column — the multi-snapshot
    * queries' shared output shape. */
  private def shapedBucketsLabeled(label: String, t: DataFrame): DataFrame =
    shapedBuckets(t).select(lit(label).as("version"), col("bucket"),
      col("n"), col("total"), col("min_k"), col("max_k"), col("fp"))

  private[queries] def snapshotA(env: Env): DataFrame =
    env.orders
      .filter(col("o_orderkey") % 10 =!= 7)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        priceDec("o_totalprice").as("price"))

  private[queries] def snapshotB(env: Env): DataFrame =
    env.orders
      .filter(col("o_orderkey") % 10 =!= 5)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        when(col("o_orderkey") % 10 === 3,
            round(priceDec("o_totalprice") * lit(new java.math.BigDecimal("1.05")), 2))
          .otherwise(priceDec("o_totalprice"))
          // CASE widens to DECIMAL(21,4); re-narrow (exact — values are far
          // below 10^14) so A and B payload structs are type-identical
          .cast("decimal(18,4)").as("price"))

  private def diff(env: Env): DataFrame =
    CdcOps.snapshotDiff(snapshotA(env), snapshotB(env), "o_orderkey", cmpCols)

  /** Per-invocation temp-table lifecycle shared by the side-effecting
    * queries (x108, x109): run `build` against a fresh temp dir, eagerly
    * materialize the TINY summary it returns (so the dir can be removed
    * before the lazy result escapes), clean up even when build throws,
    * and hand back a local frame with the summary's schema. */
  private[queries] def withTempTableSummary(
      spark: org.apache.spark.sql.SparkSession,
      prefix: String)(build: String => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    try {
      val summary = build(tmp.toString)
      val rows = summary.collect().toSeq
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, summary.schema)
    } finally rm(tmp.toFile)
  }

  /** `read` of table `t` at version `v`, after requiring that it opens
    * fewer files than the version holds: the x109 queries pin that zone
    * pruning skips files, not only that the pruned read is exact. */
  private def requirePruned(ss: graft.sources.SnapshotStore, v: Long,
      read: DataFrame): DataFrame = {
    val (opened, held) = (read.inputFiles.length, ss.readManifest("t", v).size)
    require(opened < held,
      s"zone pruning must skip files: opened $opened of $held")
    read
  }

  val all: Seq[Query] = Seq(

    // X105: snapshot diff summary — classify every key as
    // insert/delete/update/unchanged and net the price movement per class.
    // One full-outer shuffle join on the key; payloads compared as single
    // structs. The 100 TB posture: this is the compaction-report query a
    // lakehouse runs between table versions.
    Query("x105_snapshot_diff",
      Some(s"""WITH $snapCtes,
             |d AS (SELECT CASE WHEN a.o_orderkey IS NULL THEN 'insert'
             |         WHEN b.o_orderkey IS NULL THEN 'delete'
             |         WHEN a.price <> b.price THEN 'update'
             |         ELSE 'unchanged' END AS change_type,
             |    a.price AS old_price, b.price AS new_price
             |  FROM snapA a FULL JOIN snapB b ON a.o_orderkey = b.o_orderkey)
             |SELECT change_type, count(*) AS n,
             |  round(CAST(sum(coalesce(new_price, 0) - coalesce(old_price, 0))
             |    AS DOUBLE), 2) AS net_change
             |FROM d GROUP BY change_type ORDER BY change_type""".stripMargin),
      env => diff(env)
        .groupBy("change_type")
        .agg(count(lit(1)).as("n"),
          round(sum(coalesce(col("new_v.price"), lit(0)) -
              coalesce(col("old_v.price"), lit(0))).cast("double"), 2)
            .as("net_change"))
        .orderBy("change_type")),

    // X106: MERGE round trip — apply the change set onto snapshot A and
    // summarize the result per priority. The oracle derives the SAME
    // summary directly from snapshot B, so a hash match proves the
    // anti-join + union merge reconstructs B exactly (CdcOpsSpec pins the
    // row-level round trip too).
    Query("x106_cdc_apply",
      Some(s"""WITH $snapCtes
             |SELECT o_orderpriority, count(*) AS n,
             |  round(CAST(sum(price) AS DOUBLE), 2) AS total_price
             |FROM snapB GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      // diff NOT pinned: applyDiff's two consumers live in one action, so
      // ReuseExchange shares the full-outer join's shuffles; an eager
      // checkpoint of 1.5M struct rows measured 3.5× slower at sf0.1
      env => CdcOps.applyDiff(snapshotA(env), diff(env), "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price")).cast("double"), 2).as("total_price"))
        .orderBy("o_orderpriority")),

    // X107: incremental aggregate maintenance with retractions — the
    // materialized-view update path: per-priority state from snapshot A,
    // plus delta aggregates (inserts + update-new), minus retractions
    // (deletes + update-old). Only the CHANGE rows are re-aggregated
    // (3 small shuffles on the group key); the oracle recomputes from
    // snapshot B from scratch, so a hash match proves state + delta −
    // retract ≡ full recompute. Count/sum/avg are retractable (algebraic);
    // min/max are not — that is why they are absent here and present in
    // the full-recompute queries.
    Query("x107_incremental_agg",
      Some(s"""WITH $snapCtes
             |SELECT o_orderpriority, count(*) AS n,
             |  round(CAST(sum(price) AS DOUBLE), 2) AS total_price,
             |  round(CAST(sum(price) AS DOUBLE) / count(*), 6) AS avg_price
             |FROM snapB GROUP BY 1 ORDER BY 1""".stripMargin),
      env => {
        val d = diff(env)
        def state(df: DataFrame, n: String, s: String) =
          df.groupBy("o_orderpriority")
            .agg(count(lit(1)).as(n), sum("price").as(s))
        val a = state(snapshotA(env), "n_a", "sum_a")
        val retract = state(
          d.filter(col("change_type").isin("delete", "update"))
            .select(col("old_v.o_orderpriority").as("o_orderpriority"),
              col("old_v.price").as("price")), "n_r", "sum_r")
        val delta = state(
          d.filter(col("change_type").isin("insert", "update"))
            .select(col("new_v.o_orderpriority").as("o_orderpriority"),
              col("new_v.price").as("price")), "n_d", "sum_d")
        a.join(retract, Seq("o_orderpriority"), "full_outer")
          .join(delta, Seq("o_orderpriority"), "full_outer")
          .select(col("o_orderpriority"),
            (coalesce(col("n_a"), lit(0L)) - coalesce(col("n_r"), lit(0L)) +
              coalesce(col("n_d"), lit(0L))).as("n"),
            (coalesce(col("sum_a"), lit(0)) - coalesce(col("sum_r"), lit(0)) +
              coalesce(col("sum_d"), lit(0))).as("total"))
          // A group fully retracted in B would survive as an n=0 row with a
          // null avg while the full-recompute oracle omits it; drop emptied
          // groups so state + delta − retract ≡ recompute in that corner too
          // (unreachable on TPC-H priorities, wrong for the general operator).
          .filter(col("n") > 0)
          .select(col("o_orderpriority"), col("n"),
            round(col("total").cast("double"), 2).as("total_price"),
            round(col("total").cast("double") / col("n"), 6).as("avg_price"))
          .orderBy("o_orderpriority")
      }),

    // X108: partition-pruned MERGE — snapshot A lands on disk as a
    // partitioned parquet table (partition = o_orderkey % 10, exactly the
    // change-set geometry: bucket 7 inserts, 5 deletes, 3 updates), the
    // diff is applied via CdcOps.applyDiffToPartitionedTable, which scans
    // and rewrites ONLY the touched partitions (dynamic partition
    // overwrite; CdcOpsSpec asserts untouched files stay byte-identical
    // and the pruned scan's PartitionFilters). The oracle re-derives the
    // same per-bucket summary from snapshot B, so a hash match proves the
    // pruned merge reconstructs B — including dropping the fully-deleted
    // bucket 5. The table lives in a per-run temp dir; the tiny summary is
    // materialized eagerly so the dir can be removed before returning.
    Query("x108_partitioned_cdc_apply",
      Some(s"""WITH $snapCtes
             |SELECT CAST(o_orderkey % 10 AS INT) AS bucket, count(*) AS n,
             |  round(CAST(sum(price) AS DOUBLE), 2) AS total_price
             |FROM snapB GROUP BY 1 ORDER BY 1""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x108_") { dir =>
        def withBucket(df: DataFrame) =
          df.withColumn("bucket", (col("o_orderkey") % 10).cast("int"))
        val a = withBucket(snapshotA(env))
        val b = withBucket(snapshotB(env))
        val table = s"$dir/t"
        a.write.partitionBy("bucket").parquet(table)
        val diff = CdcOps.snapshotDiff(a, b, "o_orderkey", "bucket" +: cmpCols)
        CdcOps.applyDiffToPartitionedTable(table, diff, "o_orderkey", "bucket")
        env.spark.read.parquet(table)
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            round(sum(col("price")).cast("double"), 2).as("total_price"))
          .orderBy("bucket")
      }),

    // X109: file-level data skipping — a range-clustered versioned
    // commit (each file owns a narrow o_totalprice zone, recorded in the
    // same commit's zone sidecar) and a zone-pruned range read (the scan
    // never lists non-intersecting files; the Delta/Iceberg zone-map
    // pattern over vanilla parquet). The oracle computes the same range
    // aggregate from the raw table, so a hash match proves pruning loses
    // no rows; the require pins that files actually get skipped. Same
    // temp-table + eager-summary lifecycle as x108.
    Query("x109_data_skipping",
      Some("""SELECT count(*) AS n,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total
             |FROM orders WHERE o_totalprice BETWEEN 100000 AND 200000""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x109_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        ss.commitOverwriteKeyed("t", "o_totalprice",
          env.orders.select("o_orderkey", "o_totalprice"), numFiles = 16)
        requirePruned(ss, 1L,
            ss.readVersionWhere("t", 1L, "o_totalprice", 100000.0, 200000.0))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice").cast("decimal(18,4)"))
              .cast("double"), 2).as("total"))
      }),

    // X109b: MULTI-column zone skipping — the zone sidecar of a z-ordered
    // commit carries min/max for both columns (what Delta/Iceberg per-file
    // stats hold) and the read prunes on the CONJUNCTION of a price range
    // and a key range: a file survives only if every predicate's range
    // intersects its zone, so two predicates skip what neither alone
    // could (the file-count claim is pinned in DataSkippingSpec; here the
    // oracle pins exactness of the conjunctive read).
    Query("x109b_multi_skipping",
      Some("""SELECT count(*) AS n,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM orders
             |WHERE o_totalprice BETWEEN 100000 AND 200000
             |  AND o_orderkey BETWEEN 10000 AND 100000""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x109b_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        ss.commitOverwriteZordered("t", Seq("o_totalprice", "o_orderkey"),
          env.orders.select("o_orderkey", "o_totalprice"), numFiles = 16)
        requirePruned(ss, 1L, ss.readVersionWherePredicate("t", 1L,
            "o_totalprice BETWEEN 100000 AND 200000 " +
              "AND o_orderkey BETWEEN 10000 AND 100000"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice").cast("decimal(18,4)"))
              .cast("double"), 2).as("total"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
      }),

    // X116: incremental join-view maintenance (IVM) — keep a materialized
    // fact⋈dim view fresh under change batches to BOTH sides in
    // O(touched keys): untouched view rows ride one anti join (AQE
    // broadcasts the touched-key set — the view itself never shuffles),
    // touched rows re-derive from the new table states only. The batch
    // here carries inserts (+7 keys), deletes (5 keys), updates (3 keys)
    // on the fact side and value updates on the dim side; the oracle
    // computes newA ⋈ newB directly, so the hash match proves the
    // maintained view IS the recomputed join without having paid one.
    Query("x116_join_view_maintain",
      // price emitted as DOUBLE on both sides (x105-x108 discipline): the
      // decimal is 2-dec exact so the cast is lossless, and a canonical
      // double repr removes the decimal-scale hash hazard (engines can
      // legitimately unify the CASE branches to different scales — r8/r9
      // hash-mismatched here on the previous testdata drop).
      Some(s"""WITH $snapCtes
             |SELECT s.o_orderkey, s.o_custkey, s.o_orderpriority,
             |  CAST(s.price AS DOUBLE) AS price,
             |  c.c_acctbal AS acctbal
             |FROM snapB s JOIN customer c ON s.o_custkey = c.c_custkey
             |ORDER BY s.o_orderkey""".stripMargin),
      env => {
        val oldA = snapshotA(env)
        val newA = snapshotB(env)
        // dim "before": account balances perturbed on custkey % 7 == 0 —
        // those keys form the dim-side change batch
        val newB = env.customer.select(col("c_custkey").as("o_custkey"),
          col("c_acctbal").as("acctbal"))
        val oldB = env.customer.select(col("c_custkey").as("o_custkey"),
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).as("acctbal"))
        val view = oldA.join(oldB, "o_custkey")
          .select("o_orderkey", "o_custkey", "o_orderpriority", "price",
            "acctbal")
        val changedA = diff(env)
          .filter(col("change_type") =!= "unchanged").select("o_orderkey")
        val changedB = env.customer.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey").as("o_custkey"))
        CdcOps.maintainJoinView(view, "o_orderkey", "o_custkey",
            newA, newB, changedA, changedB)
          .withColumn("price", col("price").cast("double"))
          .orderBy("o_orderkey")
      }),

    // X109c: Z-ORDER clustering — the multi-column layout (Delta
    // OPTIMIZE ZORDER pattern): bucket ranks of BOTH columns interleave
    // into a space-filling z-value, so files own key×price hypercubes
    // and a range predicate on EITHER column prunes files — here the
    // pruned read filters on o_orderkey alone, the predicate a linear
    // price-clustering can never skip on (DataSkippingSpec pins the
    // file-count asymmetry; this oracle pins that the z-ordered commit +
    // pruned read lose no rows).
    Query("x109c_zorder_skipping",
      Some("""SELECT count(*) AS n,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM orders WHERE o_orderkey BETWEEN 2000 AND 7000""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x109c_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        ss.commitOverwriteZordered("t", Seq("o_totalprice", "o_orderkey"),
          env.orders.select("o_orderkey", "o_totalprice"), numFiles = 16)
        requirePruned(ss, 1L,
            ss.readVersionWhere("t", 1L, "o_orderkey", 2000L, 7000L))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice").cast("decimal(18,4)"))
              .cast("double"), 2).as("total"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
      }),

    // X109d: METADATA-only aggregate — count/min/max served from the zone
    // sidecar with zero data files opened (SnapshotStore.statsFromZones;
    // the Iceberg/Delta stats-rewrite fast path). The oracle recomputes
    // the same aggregate from the raw rows, so a hash match proves the
    // per-file stats compose to the exact table-level answer. A zoned
    // append follows the z-ordered commit: its zone rows land in the same
    // commit as its files, so the aggregate must reflect the appended
    // rows with no refresh step.
    Query("x109d_stats_only_agg",
      Some("""WITH t AS (
             |  SELECT o_orderkey, o_totalprice FROM orders
             |  UNION ALL
             |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F')
             |SELECT count(*) AS n_rows,
             |  min(o_orderkey) AS min_o_orderkey,
             |  max(o_orderkey) AS max_o_orderkey,
             |  min(o_totalprice) AS min_o_totalprice,
             |  max(o_totalprice) AS max_o_totalprice
             |FROM t""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x109d_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        ss.commitOverwriteZordered("t", Seq("o_orderkey", "o_totalprice"),
          env.orders.select("o_orderkey", "o_totalprice"), numFiles = 16)
        val v = ss.commitAppendZoned("t",
          env.orders.filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_totalprice"))
        val st = ss.statsFromZones("t", v)
        require(st.inputFiles.forall(!_.contains("/data/")),
          "metadata-only stats must never open a data file")
        st.select(col("n_rows"),
          col("lo__o_orderkey").as("min_o_orderkey"),
          col("hi__o_orderkey").as("max_o_orderkey"),
          col("lo__o_totalprice").as("min_o_totalprice"),
          col("hi__o_totalprice").as("max_o_totalprice"))
      }),

    // X141: snapshot/time-travel reads — the versioned-manifest commit
    // layer (SnapshotStore) over four lifecycle events: overwrite (v1),
    // append (v2), a "bad" overwrite (v3), rollback to v2 (v4,
    // metadata-only). Each version is then read BACK through the store —
    // v1 and v2 AFTER later commits rewrote/replaced their content, v3
    // after being rolled past — and aggregated; the oracle reconstructs
    // every snapshot independently from orders. Sums ride decimal(18,4)
    // (exact, association-free) and cast to double at the end.
    Query("x141_time_travel",
      Some("""WITH src AS (SELECT o_orderkey AS k,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders)
             |SELECT 'v1_overwrite' AS version, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total FROM src WHERE k % 4 = 0
             |UNION ALL SELECT 'v2_append', count(*),
             |  CAST(sum(p) AS DOUBLE) FROM src WHERE k % 4 <= 1
             |UNION ALL SELECT 'v3_bad_overwrite', count(*),
             |  CAST(sum(p) AS DOUBLE) FROM src WHERE k % 4 = 2
             |UNION ALL SELECT 'v4_rollback', count(*),
             |  CAST(sum(p) AS DOUBLE) FROM src WHERE k % 4 <= 1
             |ORDER BY version""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          priceDec("o_totalprice").as("p"))
        ss.commitOverwrite("t", src.filter(col("k") % 4 === 0))
        ss.commitAppend("t", src.filter(col("k") % 4 === 1))
        ss.commitOverwrite("t", src.filter(col("k") % 4 === 2))
        ss.rollback("t", 2L)
        def agg(label: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("n"),
              sum(col("p")).cast("double").as("total"))
            .select(lit(label).as("version"), col("n"), col("total"))
        agg("v1_overwrite", ss.readVersion("t", 1L))
          .unionByName(agg("v2_append", ss.readVersion("t", 2L)))
          .unionByName(agg("v3_bad_overwrite", ss.readVersion("t", 3L)))
          .unionByName(agg("v4_rollback", ss.readCurrent("t")))
          .orderBy("version")
      }),

    // X141b: MERGE as a versioned commit — the x105/x106 CDC change set
    // applied through SnapshotStore.commitMerge (v2), then the "bad
    // merge" UNDONE by a metadata-only rollback (v3). v2 is read back
    // AFTER the rollback (rolled-past versions stay readable); the
    // oracle reconstructs both snapshots independently. current ≡ snapA
    // again at the end — the undo story the in-place CDC family lacks.
    Query("x141b_versioned_merge",
      Some(s"""WITH $snapCtes,
             |a AS (SELECT 'v1_base' AS version, count(*) AS n,
             |  CAST(sum(price) AS DOUBLE) AS total FROM snapA),
             |b AS (SELECT 'v2_merged' AS version, count(*) AS n,
             |  CAST(sum(price) AS DOUBLE) AS total FROM snapB),
             |c AS (SELECT 'v3_rollback' AS version, count(*) AS n,
             |  CAST(sum(price) AS DOUBLE) AS total FROM snapA)
             |SELECT * FROM a UNION ALL SELECT * FROM b
             |UNION ALL SELECT * FROM c ORDER BY version""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141b_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val a = snapshotA(env)
        ss.commitOverwrite("t", a)
        ss.commitMerge("t", "o_orderkey",
          CdcOps.snapshotDiff(a, snapshotB(env), "o_orderkey", cmpCols))
        ss.rollback("t", 1L)
        def agg(label: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("n"),
              sum(col("price")).cast("double").as("total"))
            .select(lit(label).as("version"), col("n"), col("total"))
        agg("v1_base", ss.readVersion("t", 1L))
          .unionByName(agg("v2_merged", ss.readVersion("t", 2L)))
          .unionByName(agg("v3_rollback", ss.readCurrent("t")))
          .orderBy("version")
      }),

    // X141d: file-level copy-on-write MERGE — the keyed layout
    // (range-clustered files + per-file zone stats) lets the merge
    // rewrite ONLY files whose key range the change set touches; the
    // run REQUIRES files were reused by reference (the diff is confined
    // to the low fifth of the key space), and the oracle reconstructs
    // both versions' content independently. The x105 decimal-price
    // discipline rides throughout.
    Query("x141d_cow_merge",
      Some("""WITH src AS (SELECT o_orderkey AS k,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |cut AS (SELECT max(k) // 5 AS c FROM src),
             |b AS (SELECT k,
             |    CASE WHEN k <= (SELECT c FROM cut) AND k % 10 = 3
             |      THEN round(p * 1.05, 2) ELSE p END AS p
             |  FROM src
             |  WHERE NOT (k <= (SELECT c FROM cut) AND k % 10 = 5))
             |SELECT 'v1_keyed' AS version, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total FROM src
             |UNION ALL SELECT 'v2_cow_merge', count(*),
             |  CAST(sum(p) AS DOUBLE) FROM b
             |ORDER BY version""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141d_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          priceDec("o_totalprice").as("p"))
        val cut = src.agg(max("k")).head().getLong(0) / 5
        val b = src.filter(!(col("k") <= cut && col("k") % 10 === 5))
          .select(col("k"),
            when(col("k") <= cut && col("k") % 10 === 3,
                round(col("p") * lit(new java.math.BigDecimal("1.05")), 2))
              .otherwise(col("p")).cast("decimal(18,4)").as("p"))
        ss.commitOverwriteKeyed("t", "k", src, numFiles = 16)
        val diff = CdcOps.snapshotDiff(src, b, "k", Seq("p"))
          .filter(col("change_type") =!= "unchanged")
        val (_, reused) = ss.commitMergeCow("t", "k", diff)
        require(reused > 0,
          "the low-range diff must leave high-range files untouched")
        def agg2(label: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("n"),
              sum(col("p")).cast("double").as("total"))
            .select(lit(label).as("version"), col("n"), col("total"))
        agg2("v1_keyed", ss.readVersion("t", 1L))
          .unionByName(agg2("v2_cow_merge", ss.readCurrent("t")))
          .orderBy("version")
      }),

    // X141n: bloom-filter point lookup — the secondary-index story zone
    // maps can't tell. The orders table is committed range-clustered by
    // CUSTOMER (a customer's orders co-locate) with a per-file bloom
    // sidecar on the ORDER KEY, which the clustering gives no locality
    // for: a specific order's key could be in any file by range, but
    // only its bloom-matching file is opened (the in-query require pins
    // that most files are skipped). The probe set — every order of the
    // minimum customer — is derived identically in the oracle; the hash
    // certifies the pruned read returns exactly those rows.
    Query("x141n_bloom_point_lookup",
      Some("""WITH probe AS (SELECT min(o_custkey) AS c FROM orders)
             |SELECT count(*) AS n, count(DISTINCT o_orderkey) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             |    AS total
             |FROM orders WHERE o_custkey = (SELECT c FROM probe)"""
        .stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141n_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        ss.declareBloom("t", "k")
        ss.commitOverwriteKeyed("t", "cust", src, numFiles = 16)
        val minCust = src.agg(min("cust")).head().getLong(0)
        // that customer's order keys: driver-bounded (one customer)
        val keys = src.filter(col("cust") === minCust)
          .select("k").collect().map(_.getLong(0)).toSeq
        val (pick, skip) = ss.pruneFilesBloom("t", 1L, "k", keys)
        require(skip.nonEmpty && pick.size <= 4,
          s"one customer's orders are clustered into ~1 file; bloom " +
            s"pruning must skip most of 16, picked ${pick.size}")
        ss.readVersionPoint("t", 1L, "k", keys)
          .agg(count(lit(1)).as("n"),
            countDistinct(col("k")).as("n_orders"),
            sum(col("p")).cast("double").as("total"))
      }),

    // X141o: metadata-only aggregates from the zone sidecar — count /
    // min / max served WITHOUT opening a data file (require-pinned: the
    // stats plan's inputFiles never touch /data/). Transactionally
    // exact by construction: the zone rows were written in the same
    // commit as the files they describe, so no freshness gate is
    // needed. Certified at v1 and again after a CoW merge (reused
    // files carry their counts by reference); the oracle recomputes
    // both versions' stats from the data the long way.
    Query("x141o_stats_only_versioned",
      Some("""WITH src AS (SELECT o_orderkey AS k,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |cut AS (SELECT max(k) // 5 AS c FROM src),
             |b AS (SELECT k FROM src
             |  WHERE NOT (k <= (SELECT c FROM cut) AND k % 10 = 5))
             |SELECT 'v1_keyed' AS version, count(*) AS n_rows,
             |  min(k) AS min_k, max(k) AS max_k FROM src
             |UNION ALL SELECT 'v2_cow_merge', count(*), min(k), max(k)
             |FROM b ORDER BY version""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141o_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          priceDec("o_totalprice").as("p"))
        ss.commitOverwriteKeyed("t", "k", src, numFiles = 16)
        val cut = src.agg(max("k")).head().getLong(0) / 5
        val b = src.filter(!(col("k") <= cut && col("k") % 10 === 5))
        ss.commitMergeCow("t", "k",
          CdcOps.snapshotDiff(src, b, "k", Seq("p"))
            .filter(col("change_type") =!= "unchanged"))
        def stats(label: String, v: Long): DataFrame = {
          val st = ss.statsFromZones("t", v)
          require(st.inputFiles.forall(!_.contains("/data/")),
            "metadata-only stats must never open a data file")
          st.select(lit(label).as("version"), col("n_rows"),
            col("lo__k").as("min_k"), col("hi__k").as("max_k"))
        }
        stats("v1_keyed", 1L).unionByName(stats("v2_cow_merge", 2L))
          .orderBy("version")
      }),

    // X141p: Z-ORDER clustered versioned commit — files own hypercubes
    // of (orderkey × custkey), so a range read on the SECOND column
    // (which a linear orderkey clustering gives zero locality for)
    // still skips files (require-pinned) while staying exact; the
    // oracle recomputes the range the long way. x109b/c/d take the
    // same z-ordered commit on (o_totalprice, o_orderkey).
    Query("x141p_zorder_versioned",
      Some("""SELECT count(*) AS n,
             |  count(DISTINCT o_orderkey) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             |    AS total
             |FROM orders WHERE o_custkey BETWEEN 10 AND 25"""
        .stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141p_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"), priceDec("o_totalprice").as("p"))
        ss.commitOverwriteZordered("t", Seq("k", "c"), src,
          numFiles = 16, bits = 4)
        val (pick, skip) = ss.pruneFiles("t", 1L, "c", 10L, 25L)
        require(skip.nonEmpty,
          s"the second z-column must prune (picked ${pick.size} of " +
            s"${pick.size + skip.size})")
        ss.readVersionWhere("t", 1L, "c", 10L, 25L)
          .agg(count(lit(1)).as("n"),
            countDistinct(col("k")).as("n_orders"),
            sum(col("p")).cast("double").as("total"))
      }),

    // X141q: table history — the DESCRIBE HISTORY surface over the
    // store's metadata: one row per live version with the
    // content-preserving flag (compaction markers — what changelog
    // consumers skip for free) and the schema-evolution flag. Two
    // lifecycles drive it: a keyed table through overwrite → CoW merge
    // → compaction → append → rollback, and a plain table through an
    // evolved append. The oracle pins the exact expected ledger.
    // X141r: DELETION VECTORS — merge-on-read row-level deletes, the
    // operation file-granular CoW prices wrong (r13 verdict #2): a
    // GDPR-style erasure scattered across many files rewrites every
    // touched file under commitMergeCow; commitDeleteKeys records the
    // deleted KEYS in a per-version sidecar and rewrites NOTHING —
    // require-pinned: the vector commits carry the previous manifest
    // byte-identical and write no data dir. Readers merge at read time
    // (anti-join); the changelog emits exactly the deleted payload rows
    // (require-pinned count + all-delete); compactDeleteKeys folds the
    // vector CoW-style — deletes clustered in the bottom fifth of the
    // key space touch ~3 of 16 range files, so the fold is require-
    // pinned to REUSE most files by reference — and is content-
    // preserving (changelog across it require-pinned empty). Output =
    // the first-vector version (time-traveled) + the folded final,
    // per-bucket counts and exact decimal sums.
    // X141u: incremental RE-CLUSTERING — CoW merges drift the keyed
    // layout (a merge whose batch straddles the key space writes ONE
    // new file spanning it — commitMergeCow's documented overlap), and
    // every overlap widens later touch sets. optimizeClustering
    // rewrites ONLY the transitively-overlapping file components and
    // carries disjoint files by reference — O(overlap), not O(table).
    // The run: a keyed overwrite (4 disjoint files, depth 1); a CoW
    // merge updating the GLOBAL MIN key + appending 50 beyond-max keys
    // — its single output file spans the whole key space (depth 2,
    // require-pinned, with 3 files reused by the CoW itself); a second
    // merge inserting 50 below-min keys — a genuinely DISJOINT file;
    // then the recluster: require-pinned to rewrite EXACTLY the
    // 4-file overlap component, reuse the disjoint file untouched,
    // land depth 1, skip the changelog (content-preserving), and
    // NO-OP on a second call. The final hash certifies the rewrite
    // shuffled bytes, not content. Output is the x141r "shaped" form
    // (bucket counts + double-cast sums + key extremes) rather than a
    // raw-decimal full-table dump: the driver hashes value reprs, and
    // raw DECIMAL dumps sit on a repr boundary between the two engines
    // (the recorded x116 lesson, COVERAGE x116 note) — the bucket
    // aggregate certifies the same content byte-for-byte while staying
    // hashable.
    Query("x141u_recluster",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |st AS (SELECT max(k) AS mk, min(k) AS mn FROM a),
             |base AS (SELECT k, cust, CASE WHEN k = (SELECT mn FROM st)
             |    THEN CAST(p + 1 AS DECIMAL(18,4)) ELSE p END AS p
             |  FROM a),
             |hi AS (SELECT mk + i AS k, CAST(0 AS BIGINT) AS cust,
             |    CAST(i AS DECIMAL(18,4)) AS p FROM st,
             |  (SELECT unnest(generate_series(1, 50)) AS i)),
             |lo AS (SELECT CAST(-i AS BIGINT) AS k,
             |    CAST(0 AS BIGINT) AS cust,
             |    CAST(i AS DECIMAL(18,4)) AS p
             |  FROM (SELECT unnest(generate_series(51, 100)) AS i)),
             |fin AS (SELECT k, cust, p FROM base
             |  UNION ALL SELECT k, cust, p FROM hi
             |  UNION ALL SELECT k, cust, p FROM lo)
             |SELECT cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM fin GROUP BY 1 ORDER BY bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141u_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        ss.commitOverwriteKeyed("t", "k", src, numFiles = 4)      // v1
        require(ss.clusteringDepth("t", 1L) == 1,
          "a keyed overwrite starts perfectly clustered")
        val st = src.agg(max("k"), min("k")).head()
        val (mk, mn) = (st.getLong(0), st.getLong(1))
        val t1 = src.withColumn("p", when(col("k") === mn,
            (col("p") + lit(1)).cast("decimal(18,4)")).otherwise(col("p")))
          .unionByName(env.spark.range(1, 51)
            .select((lit(mk) + col("id")).as("k"), lit(0L).as("cust"),
              col("id").cast("decimal(18,4)").as("p")))
        val (v2, r2) = ss.commitMergeCow("t", "k",                // v2
          CdcOps.snapshotDiff(src, t1, "k", Seq("cust", "p"))
            .filter(col("change_type") =!= "unchanged"))
        require(v2 == 2L && r2 == 3,
          s"the straddling merge must reuse the 3 untouched files, " +
            s"got $r2")
        require(ss.clusteringDepth("t", 2L) == 2,
          "the merge's span-straddling file must raise depth to 2")
        val t2 = t1.unionByName(env.spark.range(51, 101)
          .select((-col("id")).as("k"), lit(0L).as("cust"),
            col("id").cast("decimal(18,4)").as("p")))
        ss.commitMergeCow("t", "k",                               // v3
          CdcOps.snapshotDiff(t1, t2, "k", Seq("cust", "p"))
            .filter(col("change_type") =!= "unchanged"))
        require(ss.clusteringDepth("t", 3L) == 2,
          "the below-min batch lands disjoint — depth unchanged")
        val (v4, rew, reu) = ss.optimizeClustering("t")           // v4
        require(v4 == 4L && rew == 4 && reu == 1,
          s"EXACTLY the 4-file overlap component rewrites and the " +
            s"disjoint file reuses, got ($v4, $rew, $reu)")
        require(ss.clusteringDepth("t", 4L) == 1,
          "the recluster must restore depth 1")
        require(ss.changesBetween("t", 3L, 4L).isEmpty,
          "reclustering is content-preserving — the changelog skips it")
        require(ss.optimizeClustering("t") == ((4L, 0, 0)) &&
          ss.currentVersion("t") == 4L,
          "already clustered: the recluster must commit NOTHING")
        shapedBuckets(ss.readCurrent("t"))
      }),

    // X141t: OPTIMIZE — bin-pack small-file debt as a content-
    // preserving version, O(debt) not O(table): a streaming-shaped
    // ingest (an overwrite + six appends, each force-split into 2
    // files = 14 files) packs to require-pinned ONE file; the
    // changelog SKIPS the optimize (content-preserving marker), time
    // travel still serves the pre-optimize version, a second optimize
    // with no debt left commits NOTHING (not even a version), and an
    // optimize whose bar classifies nothing as small is also a no-op.
    // The slices partition the table, so the final hash (over the
    // x141r-style shaped aggregate — see shapedBuckets) certifies the
    // pack lost and duplicated nothing. (Selective big-file reuse is
    // byte-controlled in SnapshotStoreSpec X141t — driver-side file
    // sizes vary with sf, so the reuse branch is spec-pinned, not
    // sf-pinned.)
    Query("x141t_optimize_binpack",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders)
             |SELECT cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM a GROUP BY 1 ORDER BY bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141t_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        def slice(r: Int) = src.filter(col("k") % 7 === r).repartition(2)
        ss.commitOverwrite("t", slice(0))                         // v1
        (1 to 6).foreach(r => ss.commitAppend("t", slice(r)))     // v2..v7
        val before = new java.io.File(dir, "t/data").listFiles()
          .filter(_.isDirectory).map(_.listFiles()
            .count(_.getName.endsWith(".parquet"))).sum
        require(before == 14,
          s"the ingest must leave 14 small files, got $before")
        val (v, packed, reused) = ss.optimizeSmallFiles("t",
          targetBytes = Long.MaxValue / 4,
          smallBelowBytes = Long.MaxValue / 2)
        require(v == 8L && packed == 14 && reused == 0,
          s"all 14 files must pack, got ($v, $packed, $reused)")
        val after = ss.readManifest("t", 8L)
          .map(e => new java.io.File(dir, s"t/data/$e"))
          .map(f => if (f.isDirectory)
            f.listFiles().count(_.getName.endsWith(".parquet")) else 1).sum
        require(after == 1, s"the pack must leave ONE file, got $after")
        require(ss.changesBetween("t", 7L, 8L).isEmpty,
          "optimize is content-preserving — the changelog skips it")
        require(ss.readVersion("t", 7L).count() ==
          ss.readCurrent("t").count(), "time travel across the optimize")
        require(ss.optimizeSmallFiles("t", Long.MaxValue / 4,
          Long.MaxValue / 2) == ((8L, 0, 0)) &&
          ss.currentVersion("t") == 8L,
          "no debt left: the optimize must commit NOTHING")
        require(ss.optimizeSmallFiles("t", Long.MaxValue / 4, 1L)
          == ((8L, 0, 0)), "nothing small under a 1-byte bar: no-op")
        shapedBuckets(ss.readCurrent("t"))
      }),

    // X141s: OPTIMISTIC CONCURRENCY — commits under contention retry
    // instead of surfacing the CAS to every caller. Two shapes, both
    // deterministic (the conflict hook IS the interleaving): (1) BLIND
    // commutative retry — writer A stages an append and holds the
    // claim; writer B's commitAppendRetry loses the race, the hook
    // publishes A, and B's retry lands on the NEW current — both
    // appends survive, in claim order, require-pinned to exactly one
    // conflict. (2) READ-MODIFY-WRITE retry — a dedup-the-table
    // transaction whose first attempt loses its claim to a crashed
    // concurrent writer; after recovery the loop RE-PINS the read, so
    // the committed payload is always derived from the version it
    // lands on (lost updates structurally impossible — blind retry
    // could not promise this for a derived payload). The slices
    // partition the table and the base is committed DOUBLED, so the
    // final hash (over the x141r-style shaped aggregate — see
    // shapedBuckets) certifies: A's append present, B's append present,
    // the RMW dedup applied — any lost write or stale-read commit
    // breaks it.
    Query("x141s_concurrent_appends",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders)
             |SELECT cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM a GROUP BY 1 ORDER BY bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141s_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        def slice(r: Int) = src.filter(col("k") % 3 === r)
        ss.commitOverwrite("t", slice(0).union(slice(0)))         // v1
        // writer A: fully staged, claim HELD, not yet published
        val vA = ss.stageAppend("t", slice(1))                    // claims v2
        var conflicts = 0
        val vB = ss.commitAppendRetry("t", slice(2), onConflict = { _ =>
          conflicts += 1; ss.publishStaged("t", vA): Unit
        })
        require(conflicts == 1 && vA == 2L && vB == 3L &&
          ss.currentVersion("t") == 3L,
          s"both appenders must land in claim order, got A=v$vA B=v$vB " +
            s"after $conflicts conflict(s)")
        // RMW: dedup the doubled base; attempt 1 loses its claim to a
        // "crashed" writer, recovery frees it, the retry re-pins
        ss.claim("t", 4L)
        var rmw = 0
        val v4 = ss.retryReadModifyWrite("t", onConflict = { _ =>
          rmw += 1; ss.releaseDeadClaims("t"): Unit
        }) { v =>
          ss.commitOverwriteAt("t", v, ss.readVersion("t", v).distinct())
        }
        require(rmw == 1 && v4 == 4L,
          s"the RMW must land after exactly one conflict, got $rmw")
        shapedBuckets(ss.readCurrent("t"))
      }),

    // X141w: VECTOR-AWARE CoW MERGE — delete→merge with NO manual fold
    // in between: a scattered low-range GDPR-style key deletion commits
    // as a vector (v2, zero files rewritten), then a CoW merge updating
    // the GLOBAL MAX key + inserting 50 beyond-max keys ABSORBS the
    // vector in ONE commit — the vector's files join the rewrite
    // (minus their deleted rows), untouched files still carry by
    // reference (require-pinned ≥ 10 of 16), and the new version
    // carries NO vector (require-pinned). The absorbed step's
    // changelog is require-pinned to exactly the merge's own one
    // delete — vector rows never reappear. Output = v2 (time-traveled,
    // vector applied) + the merged final, shaped per shapedBuckets;
    // the oracle recomputes both snapshots.
    Query("x141w_vector_merge",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |mx AS (SELECT max(k) AS mk FROM a),
             |v2 AS (SELECT a.* FROM a CROSS JOIN mx
             |  WHERE NOT (k % 97 = 0 AND k * 5 <= mk)),
             |fin AS (SELECT k, cust,
             |    CASE WHEN k = (SELECT mk FROM mx)
             |      THEN CAST(p + 1 AS DECIMAL(18,4)) ELSE p END AS p
             |  FROM v2
             |  UNION ALL SELECT mk + i, CAST(0 AS BIGINT),
             |    CAST(i AS DECIMAL(18,4)) FROM mx,
             |  (SELECT unnest(generate_series(1, 50)) AS i)),
             |lab AS (SELECT 'v2_vector' AS version, k, cust, p FROM v2
             |  UNION ALL SELECT 'v3_merged', k, cust, p FROM fin)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141w_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val maxK = src.agg(max("k")).head().getLong(0)
        ss.commitOverwriteKeyed("t", "k", src, numFiles = 16)     // v1
        ss.commitDeleteKeys("t", src.filter(col("k") % 97 === 0 &&
          col("k") * 5 <= maxK).select("k"))                      // v2
        val cur = ss.readCurrent("t") // logical v2, vector applied
        val target = cur.withColumn("p", when(col("k") === maxK,
            (col("p") + lit(1)).cast("decimal(18,4)")).otherwise(col("p")))
          .unionByName(env.spark.range(1, 51)
            .select((lit(maxK) + col("id")).as("k"), lit(0L).as("cust"),
              col("id").cast("decimal(18,4)").as("p")))
        val (v3, reused) = ss.commitMergeCow("t", "k",            // v3
          CdcOps.snapshotDiff(cur, target, "k", Seq("cust", "p"))
            .filter(col("change_type") =!= "unchanged"))
        require(v3 == 3L && reused >= 10,
          s"the low-range vector + max-key touch must leave >= 10 of " +
            s"16 files reused, got $reused")
        require(ss.deleteKeysAt("t", 3L).isEmpty,
          "the merge must absorb the vector — no manual fold happened")
        val ch = ss.changesBetween("t", 2L, 3L).localCheckpoint()
        require(ch.filter(col("_change") === "delete").count() == 1L,
          "the absorbed step's changelog is exactly the merge's own " +
            "delete — vector rows must not reappear")
        graft.ops.RelOps.releaseCheckpoint(ch)
        shapedBucketsLabeled("v2_vector", ss.readVersion("t", 2L))
          .unionByName(shapedBucketsLabeled("v3_merged", ss.readCurrent("t")))
          .orderBy("version", "bucket")
      }),

    // X141z (r16): Z-ORDER-COMPATIBLE CoW MERGE — the r15 refusal
    // lifted: a z-ordered table's multi-column zones carry the merge
    // key's own per-file [lo__k, hi__k] ranges, so the touch set
    // prunes exactly as on the keyed layout, untouched hypercube files
    // carry by reference (require-pinned >= 10 of 16 reused), the
    // rewritten slice re-clusters on the SAME z-value (the version
    // STAYS z-ordered — require-pinned: the second z-column still
    // prunes after the merge), and an active same-key delete vector
    // folds into the merge exactly like X141w (absorbed, no vector on
    // the new version, the changelog emits only the merge's own
    // delete). Same transformation as X141w so the oracle recomputes
    // the identical content — what changed is the LAYOUT the merge ran
    // against.
    Query("x141z_zorder_merge",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |mx AS (SELECT max(k) AS mk FROM a),
             |v2 AS (SELECT a.* FROM a CROSS JOIN mx
             |  WHERE NOT (k % 97 = 0 AND k * 20 <= mk)),
             |fin AS (SELECT k, cust,
             |    CASE WHEN k = (SELECT mk FROM mx)
             |      THEN CAST(p + 1 AS DECIMAL(18,4)) ELSE p END AS p
             |  FROM v2
             |  UNION ALL SELECT mk + i, CAST(0 AS BIGINT),
             |    CAST(i AS DECIMAL(18,4)) FROM mx,
             |  (SELECT unnest(generate_series(1, 50)) AS i)),
             |lab AS (SELECT 'v2_vector' AS version, k, cust, p FROM v2
             |  UNION ALL SELECT 'v3_merged', k, cust, p FROM fin)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141z_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val maxK = src.agg(max("k")).head().getLong(0)
        ss.commitOverwriteZordered("t", Seq("k", "cust"), src,
          numFiles = 16, bits = 4)                                // v1
        ss.commitDeleteKeys("t", src.filter(col("k") % 97 === 0 &&
          col("k") * 20 <= maxK).select("k"))                      // v2
        val cur = ss.readCurrent("t") // logical v2, vector applied
        val target = cur.withColumn("p", when(col("k") === maxK,
            (col("p") + lit(1)).cast("decimal(18,4)")).otherwise(col("p")))
          .unionByName(env.spark.range(1, 51)
            .select((lit(maxK) + col("id")).as("k"), lit(0L).as("cust"),
              col("id").cast("decimal(18,4)").as("p")))
        val (v3, reused) = ss.commitMergeCow("t", "k",            // v3
          CdcOps.snapshotDiff(cur, target, "k", Seq("cust", "p"))
            .filter(col("change_type") =!= "unchanged"))
        // the z-layout spreads a 1-D key band across the hypercube
        // files (the documented single-column-vs-z tradeoff), so the
        // same low-range touch set reaches more files than the keyed
        // layout's >= 10 — the pin is half the files, still proving
        // genuine by-reference reuse on the z-ordered manifest
        require(v3 == 3L && reused >= 8,
          s"the z-range touch-set pruning must leave >= 8 of 16 " +
            s"z-files reused by reference, got $reused")
        require(ss.deleteKeysAt("t", 3L).isEmpty,
          "the merge must absorb the vector on the z-ordered layout")
        require(ss.pruneFiles("t", 3L, "cust", 10L, 25L)._2.nonEmpty,
          "the merged version must STAY z-ordered — the second " +
            "z-column must still prune")
        val ch = ss.changesBetween("t", 2L, 3L).localCheckpoint()
        require(ch.filter(col("_change") === "delete").count() == 1L,
          "the absorbed step's changelog is exactly the merge's own " +
            "delete — vector rows must not reappear")
        graft.ops.RelOps.releaseCheckpoint(ch)
        shapedBucketsLabeled("v2_vector", ss.readVersion("t", 2L))
          .unionByName(shapedBucketsLabeled("v3_merged", ss.readCurrent("t")))
          .orderBy("version", "bucket")
      }),

    // X141ab (r17): O(debt) OPTIMIZE for Z-ORDERED tables — the r16
    // verdict's missing maintenance answer: a z-table taking streaming
    // appends accumulates statless small files, and until now the only
    // fix was a full-table re-z-order. Here three micro-appends land on
    // a 16-file z-layout, optimizeSmallFiles packs ONLY them (reused ==
    // 16 require-pinned — zero of the table's real bytes move),
    // re-clustered on the SAME z-value so the packed file carries
    // multi-column zone rows and BOTH z-columns still prune
    // (require-pinned), metadata-only stats cover the whole table
    // again, and the changelog skips the content-preserving version.
    // A `fat` ballast column (sha-derived, incompressible) keeps the 16
    // z-files decisively above the small-file bar at every sf; it is
    // layout-only and excluded from the certified output, which hashes
    // identical content before and after the pack against the oracle.
    Query("x141ab_zorder_optimize",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |mx AS (SELECT max(k) AS mk FROM a),
             |app AS (SELECT mk + i AS k, CAST(0 AS BIGINT) AS cust,
             |    CAST(i AS DECIMAL(18,4)) AS p FROM mx,
             |  (SELECT unnest(generate_series(1, 3)) AS i)),
             |allr AS (SELECT k, cust, p FROM a
             |  UNION ALL SELECT k, cust, p FROM app),
             |lab AS (SELECT 'v4_debt' AS version, k, cust, p FROM allr
             |  UNION ALL SELECT 'v5_packed', k, cust, p FROM allr)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  min(k) AS min_k, max(k) AS max_k,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141ab_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
            col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
          .withColumn("fat", concat_ws("", (0 to 3).map(i =>
            sha2(concat(lit(i.toString), col("k").cast("string")),
              256)): _*))
        val maxK = src.agg(max("k")).head().getLong(0)
        val nSrc = src.count()
        ss.commitOverwriteZordered("t", Seq("k", "cust"), src,
          numFiles = 16, bits = 4)                               // v1
        (1 to 3).foreach(i => ss.commitAppend("t",                // v2..v4
          env.spark.range(i.toLong, i.toLong + 1)
            .select((lit(maxK) + col("id")).as("k"), lit(0L).as("cust"),
              col("id").cast("decimal(18,4)").as("p"),
              lit("debt").as("fat")).coalesce(1)))
        val (v5, packed, reused) = ss.optimizeSmallFiles("t",
          targetBytes = 1L << 20, smallBelowBytes = 8L << 10)
        require(v5 == 5L && packed == 3 && reused == 16,
          s"the z-pack must rewrite exactly the 3 debt files and carry " +
            s"all 16 z-files by reference, got ($v5, $packed, $reused)")
        require(ss.changesBetween("t", 4L, 5L).isEmpty,
          "the z-pack is content-preserving — the changelog must skip it")
        require(ss.statsFromZones("t", 5L).head().getAs[Long]("n_rows")
          == nSrc + 3,
          "the packed debt must gain zone rows — metadata-only stats " +
            "cover the whole table again")
        require(ss.pruneFiles("t", 5L, "k", 0L, 10L)._2.nonEmpty &&
          ss.pruneFiles("t", 5L, "cust", -2L, -1L)._2.nonEmpty,
          "both z-columns must still prune after the pack")
        shapedBucketsLabeled("v4_debt",
            ss.readVersion("t", 4L).select("k", "cust", "p"))
          .unionByName(shapedBucketsLabeled("v5_packed",
            ss.readCurrent("t").select("k", "cust", "p")))
          .orderBy("version", "bucket")
      }),

    // X142k: TYPE-WIDENING schema evolution — a 100 TB table whose int
    // key outgrows its type (or whose money column needs more decimal
    // precision) evolves in ONE metadata commit, no file rewrite: v1
    // commits with an INT key and DECIMAL(12,2) price; the appended
    // batch carries a LONG key BEYOND INT RANGE and DECIMAL(16,2)
    // prices, a sparse subset of them past (12,2)'s headroom — the
    // table widens (require-pinned end schema), v1's files read through it
    // unrewritten, v1 time-travels at its ORIGINAL narrow types
    // (require-pinned), the changelog reads at the end schema, and a
    // scale change still refuses (require-pinned). Output = both
    // versions shaped per shapedBuckets; the oracle recomputes both
    // snapshots with the same widening arithmetic.
    Query("x142k_type_widening",
      Some("""WITH a AS (SELECT CAST(o_orderkey AS INT) AS k,
             |    o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
             |w AS (SELECT CAST(k AS BIGINT) + 3000000000 AS k, cust,
             |    CAST(CAST(p AS DECIMAL(16,2)) +
             |      CASE WHEN k % 100 = 0 THEN 9999999999.25
             |           ELSE 0.00 END
             |      AS DECIMAL(16,2)) AS p FROM a),
             |v2 AS (SELECT CAST(k AS BIGINT) AS k, cust,
             |    CAST(p AS DECIMAL(16,2)) AS p FROM a
             |  UNION ALL SELECT k, cust, p FROM w),
             |lab AS (SELECT 'v1_original' AS version, CAST(k AS BIGINT)
             |    AS k, cust, CAST(p AS DECIMAL(16,2)) AS p FROM a
             |  UNION ALL SELECT 'v2_widened', k, cust, p FROM v2)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142k_") { dir =>
        import org.apache.spark.sql.types._
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val narrow = env.orders.select(
          col("o_orderkey").cast("int").as("k"),
          col("o_custkey").as("cust"),
          col("o_totalprice").cast("decimal(12,2)").as("p"))
        ss.commitOverwrite("t", narrow)                           // v1
        // the (16,2)-needing jump rides on a SPARSE subset (every 100th
        // key): enough rows to certify beyond-(12,2) values end-to-end,
        // while each bucket's double-cast SUM keeps its UNSCALED decimal
        // under 2^53 at every tested sf — above that DuckDB's
        // decimal→double (int128→double, then ÷scale: TWO roundings)
        // can sit one ulp off Spark's correctly-rounded cast (caught by
        // the r15 sf0.1 matrix)
        val wide = narrow.select(
          (col("k").cast("long") + 3000000000L).as("k"), col("cust"),
          (col("p").cast("decimal(16,2)")
            + when(col("k") % 100 === 0,
                lit(new java.math.BigDecimal("9999999999.25")))
              .otherwise(lit(new java.math.BigDecimal("0.00"))))
            .cast("decimal(16,2)").as("p"))
        ss.commitAppendEvolved("t", wide)                         // v2
        val s2 = ss.readCurrent("t").schema
        require(s2("k").dataType == LongType &&
          s2("p").dataType == DecimalType(16, 2),
          s"the append must widen k→long and p→(16,2), got $s2")
        val s1 = ss.readVersion("t", 1L).schema
        require(s1("k").dataType == IntegerType &&
          s1("p").dataType == DecimalType(12, 2),
          "time travel must keep v1's original narrow types")
        require(ss.changesBetween("t", 1L, 2L)
          .schema("k").dataType == LongType,
          "the changelog must read at the range's END schema")
        val refused =
          try { ss.commitAppendEvolved("t", wide.withColumn("p",
            col("p").cast("decimal(16,3)"))); false }
          catch { case _: IllegalArgumentException => true }
        require(refused, "a decimal SCALE change must refuse")
        shapedBucketsLabeled("v1_original", ss.readVersion("t", 1L))
          .unionByName(shapedBucketsLabeled("v2_widened", ss.readCurrent("t")))
          .orderBy("version", "bucket")
      }),

    // X141y: commit-time CHECK constraints — Delta-style table
    // invariants enforced AT WRITE, validated on the staging pass
    // itself (zero extra scans). The run: keyed table under a `p > 0`
    // check; an addCheck the content violates is refused and
    // deregistered (require-pinned); a violating CoW merge and a
    // violating append both refuse with NOTHING published and the
    // version number immediately reusable (require-pinned: the next
    // valid append lands on it — the claim was released, not wedged);
    // the valid append completes the corpus. Output = both live
    // versions shaped; the oracle recomputes from the raw table.
    Query("x141y_constraints",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |v1 AS (SELECT * FROM a WHERE k % 10 <> 7),
             |lab AS (SELECT 'v1_keyed' AS version, k, cust, p FROM v1
             |  UNION ALL SELECT 'v2_final', k, cust, p FROM a)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  min(k) AS min_k, max(k) AS max_k,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1)) AS BIGINT) AS fp
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141y_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val base = src.filter(col("k") % 10 =!= 7)
        ss.commitOverwriteKeyed("t", "k", base, numFiles = 16)   // v1
        ss.addCheck("t", "pos_price", "p > 0")
        // an add the CURRENT content violates refuses AND deregisters
        val badAdd =
          try { ss.addCheck("t", "neg_keys", "k < 0"); false }
          catch { case _: IllegalArgumentException => true }
        require(badAdd && ss.checks("t") == Map("pos_price" -> "p > 0"),
          "a violating addCheck must refuse and deregister")
        // a CoW merge whose rewritten slice violates: refused pre-swap
        val maxK = src.agg(max("k")).head().getLong(0)
        val lowUpd = col("k") % 10 === 3 && col("k") * 5 <= maxK
        val badTarget = base.withColumn("p",
          when(lowUpd, (col("p") * lit(-1)).cast("decimal(18,4)"))
            .otherwise(col("p")))
        val badDiff = CdcOps.snapshotDiff(base, badTarget, "k",
          Seq("cust", "p")).filter(col("change_type") =!= "unchanged")
        val cowRefused =
          try { ss.commitMergeCow("t", "k", badDiff); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("pos_price") }
        require(cowRefused && ss.currentVersion("t") == 1L,
          "a violating CoW merge must refuse naming the check, " +
            "publishing nothing")
        // a violating append: refused; the valid retry takes the SAME
        // version number — the refusal released its claim
        val b7 = src.filter(col("k") % 10 === 7)
        val appendRefused =
          try { ss.commitAppend("t",
            b7.withColumn("p", (col("p") * lit(-1)).cast("decimal(18,4)")))
            false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("pos_price") }
        require(appendRefused && ss.currentVersion("t") == 1L,
          "a violating append must refuse pre-swap")
        require(ss.commitAppend("t", b7) == 2L,
          "the refused append must have released its claim on v2")
        shapedBucketsLabeled("v1_keyed", ss.readVersion("t", 1L))
          .unionByName(shapedBucketsLabeled("v2_final",
            ss.readCurrent("t")))
          .orderBy("version", "bucket")
      }),

    // X141x: ZERO-COPY CLONE + PUBLISH-BY-REFERENCE — table branching
    // (Delta SHALLOW CLONE / Iceberg branch workflows): fork a 100 TB
    // table as a new table in ONE metadata commit (manifest entries
    // cross-reference the source's files — require-pinned: no local data
    // dir), evolve the branch with the full operator surface (here a CoW
    // merge that REUSES untouched cross-referenced files, require-
    // pinned), expire the fork version at the source with NO pin
    // bookkeeping (vacuum reachability is global over the store root —
    // the branch keeps reading, require-pinned by the output), then
    // PUBLISH the branch back as one metadata commit (require-pinned: no
    // data written under the target; the publish step's changelog is the
    // exact content diff — shared files cancel at canonical identity,
    // require-pinned to the branch's exact insert/delete counts).
    Query("x141x_clone_branch",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |mx AS (SELECT max(k) AS mk FROM a),
             |dev AS (SELECT k, cust,
             |    CASE WHEN k % 10 = 3 AND k * 5 <= mk
             |      THEN CAST(round(p * 1.05, 2) AS DECIMAL(18,4))
             |      ELSE p END AS p
             |  FROM a CROSS JOIN mx
             |  WHERE k % 10 <> 7 AND NOT (k % 10 = 5 AND k * 5 <= mk)),
             |lab AS (SELECT 'main_before_publish' AS version, k, cust, p
             |    FROM a
             |  UNION ALL SELECT 'dev_branch', k, cust, p FROM dev
             |  UNION ALL SELECT 'main_published', k, cust, p FROM dev)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  min(k) AS min_k, max(k) AS max_k,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1)) AS BIGINT) AS fp
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141x_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val maxK = src.agg(max("k")).head().getLong(0)
        val base = src.filter(col("k") % 10 =!= 7)
        ss.commitOverwriteKeyed("main", "k", base, numFiles = 16) // main v1
        ss.cloneTable("dev", "main")                              // dev v1
        require(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, "dev", "data")),
          "the clone must be zero-copy — no local data dir")
        // the branch diverges: LOW-RANGE deletes + repricings, CoW-merged
        // over the cross-referenced layout
        val lowDel = col("k") % 10 === 5 && col("k") * 5 <= maxK
        val lowUpd = col("k") % 10 === 3 && col("k") * 5 <= maxK
        val target = base.filter(!lowDel).withColumn("p",
          when(lowUpd,
            round(col("p") * lit(new java.math.BigDecimal("1.05")), 2)
              .cast("decimal(18,4)")).otherwise(col("p")))
        val diff = CdcOps.snapshotDiff(base, target, "k", Seq("cust", "p"))
          .filter(col("change_type") =!= "unchanged")
        val (devV2, reused) = ss.commitMergeCow("dev", "k", diff)
        require(devV2 == 2L && reused >= 10,
          s"the branch CoW must reuse the untouched high-range files " +
            s"by cross-reference, reused=$reused")
        // main diverges independently…
        ss.commitAppend("main", src.filter(col("k") % 10 === 7)) // main v2
        // …and expires the fork version — nothing pins it, yet the
        // branch keeps reading: vacuum reachability is global
        ss.expireByPolicy("main", keepLast = 1)
        require(ss.versions("main") == Seq(2L),
          s"clones must not clamp retention, got ${ss.versions("main")}")
        // publish the branch back: the r16 fast-forward guard REFUSES
        // first (main advanced past dev's fork point — v2 would be
        // silently clobbered), require-pinned; the explicit force is
        // the auditable "the branch wins" overwrite
        val guarded = try { ss.commitFromTable("main", "dev"); false }
          catch { case _: graft.sources.ConcurrentCommitException => true }
        require(guarded, "a diverged publish must refuse without force")
        // ONE metadata commit, no data moves
        val before = { val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(dir, "main", "data"))
          try s.count() finally s.close() }
        val v3 = ss.commitFromTable("main", "dev", force = true)
        val after = { val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(dir, "main", "data"))
          try s.count() finally s.close() }
        require(v3 == 3L && after == before,
          "the publish must write no local data under the target")
        require(ss.crossRefsInto("dev").contains("main"),
          "the published version must reference the branch's files")
        // the publish step's changelog = exactly the branch's change
        val n7 = src.filter(col("k") % 10 === 7).count()
        val n5 = src.filter(lowDel).count()
        val n3 = src.filter(lowUpd).count()
        val step = ss.changesBetween("main", 2L, 3L).localCheckpoint()
        require(step.filter(col("_change") === "delete").count() ==
            n7 + n5 + n3 &&
          step.filter(col("_change") === "insert").count() == n3,
          "the publish step must diff to exactly the branch's change")
        graft.ops.RelOps.releaseCheckpoint(step)
        shapedBucketsLabeled("main_before_publish",
            ss.readVersion("main", 2L))
          .unionByName(shapedBucketsLabeled("dev_branch",
            ss.readCurrent("dev")))
          .unionByName(shapedBucketsLabeled("main_published",
            ss.readCurrent("main")))
          .orderBy("version", "bucket")
      }),

    // X141aa (r16): GROUP clone/publish — the r15 single-table guard
    // lifted: a versioned MULTI-TABLE group (here a {rows, meta} state
    // with the rows sub HASH-BUCKETED, the persisted-index shape every
    // versioned index family uses) clones zero-copy (require-pinned:
    // no data dir under the clone), every sub reads through the
    // cross-references (bucketed subs resolve at commit_v-PARTITION
    // granularity through the OWNER's catalog), the clone evolves
    // LOCALLY (its append lands in its own bucket dir beside the
    // referenced partitions), and publishes back FAST-FORWARD as one
    // metadata commit (require-pinned: no data written under the
    // target; the target's sub-level changelog across the publish
    // cancels the shared partitions at canonical identity and emits
    // exactly the branch's append). Output = the fork's content and
    // the published content, shaped; the oracle derives both from the
    // raw table.
    Query("x141aa_group_clone",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |fork AS (SELECT * FROM a WHERE k % 3 IN (0, 1)),
             |pub AS (SELECT * FROM a),
             |lab AS (SELECT 'clone_fork' AS version, k, cust, p FROM fork
             |  UNION ALL SELECT 'published', k, cust, p FROM pub)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141aa_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        def meta(w: Long) =
          graft.ops.RelOps.localLongRow(env.spark, "w" -> w)
        ss.commitTables("g", overwrites = Map(
          "rows" -> src.filter(col("k") % 3 === 0), "meta" -> meta(1L)),
          buckets = Map("rows" -> graft.sources.SubBucket("cust", 8)))
        ss.commitTables("g", appends = Map(
          "rows" -> src.filter(col("k") % 3 === 1)),
          overwrites = Map("meta" -> meta(2L)))                   // g v2
        ss.cloneTable("gc", "g")
        require(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, "gc", "data")),
          "a group clone must be zero-copy — no local data dir")
        val forkShape = shapedBucketsLabeled("clone_fork",
          ss.readTable("gc", "rows")).localCheckpoint()
        // the clone evolves locally: one bucketed append + its watermark
        ss.commitTables("gc", appends = Map(
          "rows" -> src.filter(col("k") % 3 === 2)),
          overwrites = Map("meta" -> meta(3L)))                   // gc v2
        require(java.nio.file.Files.exists(java.nio.file.Paths.get(
          dir, "gc", "data", "bkt__rows", "commit_v=2")),
          "the clone's own append must land in its own bucket dir")
        // publish back fast-forward: ONE metadata commit
        val before = { val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(dir, "g", "data"))
          try s.count() finally s.close() }
        val v3 = ss.commitFromTable("g", "gc")
        val after = { val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(dir, "g", "data"))
          try s.count() finally s.close() }
        require(v3 == 3L && after == before,
          "the group publish must write no data under the target")
        require(ss.readTable("g", "meta").head().getLong(0) == 3L,
          "the published watermark must serve through the reference")
        // the target's sub-level changelog across the publish cancels
        // shared partitions at canonical identity: exactly the
        // branch's appended rows, all inserts
        val n2 = src.filter(col("k") % 3 === 2).count()
        val step = ss.changesBetweenTable("g", "rows", 2L, 3L)
          .localCheckpoint()
        require(step.filter(col("_change") === "delete").isEmpty &&
          step.count() == n2,
          "the publish step must diff to exactly the branch's append")
        graft.ops.RelOps.releaseCheckpoint(step)
        val out = forkShape.unionByName(shapedBucketsLabeled("published",
          ss.readTable("g", "rows"))).orderBy("version", "bucket")
        val rows = out.collect().toSeq
        graft.ops.RelOps.releaseCheckpoint(forkShape)
        import scala.jdk.CollectionConverters._
        env.spark.createDataFrame(rows.asJava, out.schema)
      }),

    // X143 (r16): the SQL FRONT-END — the r15 scope decision (#8) made
    // in-scope: SnapshotSql gives the table format the SQL spellings
    // users reach for (`VERSION AS OF` time travel, `TAG AS OF` named
    // releases, DESCRIBE HISTORY, CALL maintenance procedures) as a
    // token-level rewrite onto spark.sql — never a second
    // implementation, so the SQL read IS readVersion (zone pruning,
    // vectors, schema markers all apply). The run: two versions + a
    // tagged release built through CALLs; the OUTPUT query itself runs
    // through the SQL surface — both versions of the table in one
    // statement (tag + current), grouped and fingerprinted; a
    // cross-version anti-join inside the same statement counts the
    // appended keys (require-pinned). Mutation statements stay the
    // Scala API (COVERAGE records the scope line).
    Query("x143_sql_surface",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |rel AS (SELECT * FROM a WHERE k % 10 <> 7),
             |lab AS (SELECT 'release' AS version, k, cust, p FROM rel
             |  UNION ALL SELECT 'current', k, cust, p FROM a)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x143_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        ss.commitOverwriteKeyed("t", "k", src.filter(col("k") % 10 =!= 7),
          numFiles = 16)                                          // v1
        graft.sources.SnapshotSql.sql(ss, "CALL tag('t', 'rel', 1)")
        ss.commitAppend("t", src.filter(col("k") % 10 === 7))     // v2
        // a cross-version anti-join in ONE SQL statement: exactly the
        // appended bucket-7 keys are new
        val n7 = src.filter(col("k") % 10 === 7).count()
        val newKeys = graft.sources.SnapshotSql.sql(ss,
          """SELECT count(*) AS n FROM t cur
            |LEFT ANTI JOIN t TAG AS OF 'rel' old ON cur.k = old.k"""
            .stripMargin).head().getLong(0)
        require(newKeys == n7,
          s"the SQL cross-version anti-join must count exactly the " +
            s"appended keys: $newKeys vs $n7")
        require(graft.sources.SnapshotSql.sql(ss, "DESCRIBE HISTORY t")
          .count() == 2L, "DESCRIBE HISTORY must list both versions")
        // the OUTPUT itself runs through the SQL surface: tag + current
        // in one statement
        graft.sources.SnapshotSql.sql(ss,
          """WITH lab AS (
            |  SELECT 'release' AS version, k, cust, p FROM t TAG AS OF 'rel'
            |  UNION ALL
            |  SELECT 'current' AS version, k, cust, p FROM t)
            |SELECT version, cust % 10 AS bucket, count(*) AS n,
            |  CAST(sum(p) AS DOUBLE) AS total,
            |  CAST(sum(((k * 1009 + cust) % 1000003) *
            |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
            |    AS BIGINT) AS fp,
            |  min(k) AS min_k, max(k) AS max_k
            |FROM lab GROUP BY 1, 2
            |ORDER BY version, bucket""".stripMargin)
      }),

    // X141ac (r17): APPENDS BORN PRUNABLE — commitAppendZoned writes
    // the batch range-clustered in the table's own dialect WITH its
    // per-file zone rows in the same commit (Delta's stats-on-every-
    // add): no statless debt, so metadata-only stats keep serving
    // immediately (require-pinned with NO optimize in between), the
    // appended range reads pruned-exact, and a following CoW merge
    // touching ONLY the appended file's range reuses ALL 16 original
    // files by reference (require-pinned == 16) — the appended file is
    // file-granular, not conservatively-always-rewritten. The 100 TB
    // story: streaming ingest plus nightly OPTIMIZE no longer has an
    // always-read window between them.
    Query("x141ac_zoned_append",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |mx AS (SELECT max(k) AS mk FROM a),
             |app AS (SELECT mk + i AS k, CAST(0 AS BIGINT) AS cust,
             |    CAST(i AS DECIMAL(18,4)) AS p FROM mx,
             |  (SELECT unnest(generate_series(1, 50)) AS i)),
             |v2 AS (SELECT k, cust, p FROM a
             |  UNION ALL SELECT k, cust, p FROM app),
             |v3 AS (SELECT k, cust,
             |    CASE WHEN k = (SELECT mk + 50 FROM mx)
             |      THEN CAST(p + 1 AS DECIMAL(18,4)) ELSE p END AS p
             |  FROM v2),
             |lab AS (SELECT 'v1_base' AS version, k, cust, p FROM a
             |  UNION ALL SELECT 'v2_zoned_append', k, cust, p FROM v2
             |  UNION ALL SELECT 'v3_merged', k, cust, p FROM v3)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  min(k) AS min_k, max(k) AS max_k,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141ac_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val maxK = src.agg(max("k")).head().getLong(0)
        val nSrc = src.count()
        ss.commitOverwriteKeyed("t", "k", src, numFiles = 16)     // v1
        val v2 = ss.commitAppendZoned("t", env.spark.range(1L, 51L)
          .select((lit(maxK) + col("id")).as("k"), lit(0L).as("cust"),
            col("id").cast("decimal(18,4)").as("p")))             // v2
        require(v2 == 2L, s"zoned append must be v2, got $v2")
        // born prunable: NO optimize ran, yet metadata-only stats serve
        // and the appended range reads pruned-exact
        require(ss.statsFromZones("t", 2L).head().getAs[Long]("n_rows")
          == nSrc + 50,
          "the zoned append must keep statsFromZones serving with no " +
            "optimize in between")
        require(ss.readVersionWhere("t", 2L, "k", maxK + 1L, maxK + 50L)
          .count() == 50L, "the pruned read over the appended range " +
            "must be exact")
        require(ss.pruneFiles("t", 2L, "k", maxK + 1L, maxK + 50L)
          ._2.size >= 14,
          "the beyond-max probe must skip nearly every original file")
        // a merge repricing ONLY the appended file's max key reuses all
        // 16 original files — the appended file is file-granular debt
        val cur = ss.readCurrent("t")
        val target = cur.withColumn("p", when(col("k") === maxK + 50L,
          (col("p") + lit(1)).cast("decimal(18,4)")).otherwise(col("p")))
        val (v3, reused) = ss.commitMergeCow("t", "k",
          CdcOps.snapshotDiff(cur, target, "k", Seq("cust", "p"))
            .filter(col("change_type") =!= "unchanged"))          // v3
        require(v3 == 3L && reused == 16,
          s"the appended-file-only touch must reuse all 16 original " +
            s"files, got ($v3, $reused)")
        shapedBucketsLabeled("v1_base", ss.readVersion("t", 1L))
          .unionByName(shapedBucketsLabeled("v2_zoned_append",
            ss.readVersion("t", 2L)))
          .unionByName(shapedBucketsLabeled("v3_merged",
            ss.readCurrent("t")))
          .orderBy("version", "bucket")
      }),

    // X144 (r17): PREDICATE CoW MUTATIONS — DELETE WHERE / UPDATE SET
    // WHERE as file-granular copy-on-write commits: one scan finds the
    // files actually HOLDING matching rows, only those rewrite, the
    // rest carry by reference (require-pinned >= 10/16 on both
    // mutations — the predicates confine to the low fifth of the key
    // space), the rewritten slice re-clusters + re-stats in the keyed
    // dialect, the changelog is the EXACT row diff (counts
    // require-pinned: deletes = matched rows; update = delete+insert
    // pairs), and the UPDATE's cast-back keeps the schema identical.
    // The update drives the CALL update_where SQL spelling (the
    // Iceberg procedure shape), so the SQL front-end's mutation
    // surface is certified in the same run. At 100 TB this is the
    // retention/correction workload: `DELETE WHERE date < X` touches
    // only matching files, never the table.
    Query("x144_predicate_mutations",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |mx AS (SELECT max(k) AS mk FROM a),
             |v2 AS (SELECT a.* FROM a CROSS JOIN mx
             |  WHERE NOT (k % 10 = 7 AND k * 5 <= mk)),
             |v3 AS (SELECT k, cust,
             |    CASE WHEN k % 10 = 3 AND k * 5 <= (SELECT mk FROM mx)
             |      THEN CAST(p * 2 AS DECIMAL(18,4)) ELSE p END AS p
             |  FROM v2),
             |lab AS (SELECT 'v1_base' AS version, k, cust, p FROM a
             |  UNION ALL SELECT 'v2_delete', k, cust, p FROM v2
             |  UNION ALL SELECT 'v3_update', k, cust, p FROM v3)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  min(k) AS min_k, max(k) AS max_k,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x144_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val maxK = src.agg(max("k")).head().getLong(0)
        ss.commitOverwriteKeyed("t", "k", src, numFiles = 16)     // v1
        val delPred = s"k % 10 = 7 AND k * 5 <= $maxK"
        val updPred = s"k % 10 = 3 AND k * 5 <= $maxK"
        val nDel = src.filter(expr(delPred)).count()
        val (v2, reusedD) = ss.commitDeleteWhere("t", delPred)    // v2
        require(v2 == 2L && reusedD >= 10,
          s"the low-range delete must carry >= 10 of 16 files by " +
            s"reference, got ($v2, $reusedD)")
        val chD = ss.changesBetween("t", 1L, 2L).localCheckpoint()
        require(chD.count() == nDel && chD.filter(
            col("_change") === "delete").count() == nDel,
          s"the delete changelog must be EXACTLY the $nDel matched rows")
        graft.ops.RelOps.releaseCheckpoint(chD)
        val nUpd = ss.readCurrent("t").filter(expr(updPred)).count()
        // the UPDATE drives the SQL CALL spelling
        val st = graft.sources.SnapshotSql.sql(ss,                 // v3
          s"CALL update_where('t', '$updPred', 'p', 'CAST(p * 2 AS " +
            "DECIMAL(18,4))')")
          .collect().map(r => (r.getString(0), r.getString(1))).toMap
        require(st("version") == "3" && st("files_reused").toInt >= 10,
          s"the low-range update must carry >= 10 of 16 files: $st")
        require(ss.changesBetween("t", 2L, 3L).count() == 2L * nUpd,
          "the update changelog is delete+insert per matched row")
        require(ss.readCurrent("t").schema ==
          ss.readVersion("t", 1L).schema,
          "the cast-back must keep the schema identical")
        shapedBucketsLabeled("v1_base", ss.readVersion("t", 1L))
          .unionByName(shapedBucketsLabeled("v2_delete",
            ss.readVersion("t", 2L)))
          .unionByName(shapedBucketsLabeled("v3_update",
            ss.readCurrent("t")))
          .orderBy("version", "bucket")
      }),

    // X144b (r18): the RETENTION-plus-ERASURE lifecycle on a keyed
    // table — the composition the r17 verdict named. A GDPR-style
    // delete vector accumulates, then the retention `DELETE WHERE
    // k <= cut` runs: discovery is ZONE-PRUNED (require-pinned: >= 10
    // of 16 files are never even opened to find the touch set — the
    // plan fix that clears the X144 weak grade) and the vector FOLDS
    // into the same commit (pinned: no sidecar survives). A second
    // vector then folds into a ZONED APPEND the same way (pinned:
    // >= 8 entries carry by reference into the append's manifest).
    // At 100 TB this is one bounded-touch commit per step where r17
    // required a manual full-vector compaction between each.
    Query("x144b_retention_fold",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |cut AS (SELECT CAST(FLOOR(max(k) / 5) AS BIGINT) AS c,
             |    max(k) AS mk FROM a),
             |v3 AS (SELECT k, cust, p FROM a CROSS JOIN cut
             |  WHERE NOT (k <= c)
             |    AND NOT (k % 7 = 0 AND k * 10 > mk * 9)),
             |v5 AS (SELECT k, cust, p FROM v3 CROSS JOIN cut
             |  WHERE NOT (k % 11 = 0 AND k * 10 > mk * 9)
             |  UNION ALL
             |  SELECT k + mk AS k, cust, p FROM a CROSS JOIN cut
             |  WHERE k * 20 <= mk),
             |lab AS (SELECT 'v1_base' AS version, k, cust, p FROM a
             |  UNION ALL SELECT 'v3_retention', k, cust, p FROM v3
             |  UNION ALL SELECT 'v5_appended', k, cust, p FROM v5)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  min(k) AS min_k, max(k) AS max_k,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x144b_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val maxK = src.agg(max("k")).head().getLong(0)
        val cut = maxK / 5
        def vec(mod: Int) = src.filter(col("k") % mod === 0 &&
          col("k") * 10 > maxK * 9).select("k")
        ss.commitOverwriteKeyed("t", "k", src, numFiles = 16)     // v1
        ss.commitDeleteKeys("t", vec(7))                          // v2
        // the retention predicate's discovery opens ONLY files whose
        // key range crosses the cut — the zone sidecar proves it
        val (cand, skip) =
          ss.pruneFilesForPredicate("t", 2L, s"k <= $cut")
        require(skip.size >= 10 && cand.nonEmpty,
          s"zone-pruned discovery must skip the upper files, got " +
            s"${cand.size} candidates / ${skip.size} skipped of 16")
        val (v3, reused) = ss.commitDeleteWhere("t", s"k <= $cut") // v3
        require(v3 == 3L && reused >= 9,
          s"files neither below the cut nor vector-touched must carry " +
            s"by reference, got ($v3, $reused)")
        require(ss.deleteKeysAt("t", 3L).isEmpty,
          "the erasure vector must fold into the retention commit")
        ss.commitDeleteKeys("t", vec(11))                         // v4
        val v5 = ss.commitAppendZoned("t",                        // v5
          src.filter(col("k") * 20 <= maxK)
            .select((col("k") + maxK).as("k"), col("cust"), col("p")),
          numFiles = 2)
        require(v5 == 5L && ss.deleteKeysAt("t", 5L).isEmpty,
          "the second vector must fold into the zoned append")
        require(ss.readManifest("t", 5L).toSet
            .intersect(ss.readManifest("t", 4L).toSet).size >= 8,
          "the append must carry untouched files by reference")
        shapedBucketsLabeled("v1_base", ss.readVersion("t", 1L))
          .unionByName(shapedBucketsLabeled("v3_retention",
            ss.readVersion("t", 3L)))
          .unionByName(shapedBucketsLabeled("v5_appended",
            ss.readCurrent("t")))
          .orderBy("version", "bucket")
      }),

    // X144c (r18): predicate mutations on ONE SUB of a multi-table
    // group — the versioned-corpus layout's row-correction path. The
    // group holds a data sub and a dimension sub; DELETE WHERE and
    // UPDATE WHERE hit only the data sub as single atomic group
    // versions, and the dimension sub's entries carry BY REFERENCE
    // through both (require-pinned manifest identity — zero bytes of
    // the untouched sub move at any scale). Reads time-travel across
    // the whole group.
    Query("x144c_group_mutations",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |v2 AS (SELECT k, cust, p FROM a WHERE NOT (k % 9 = 4)),
             |v3 AS (SELECT k, cust,
             |    CASE WHEN k % 9 = 2
             |      THEN CAST(p * 3 AS DECIMAL(18,4)) ELSE p END AS p
             |  FROM v2),
             |lab AS (SELECT 'v1_base' AS version, k, cust, p FROM a
             |  UNION ALL SELECT 'v2_delete', k, cust, p FROM v2
             |  UNION ALL SELECT 'v3_update', k, cust, p FROM v3)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  min(k) AS min_k, max(k) AS max_k,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x144c_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val dim = env.customer.select(col("c_custkey").as("cust"),
          col("c_mktsegment").as("seg"))
        ss.commitTables("g", overwrites =
          Map("data" -> src, "dim" -> dim))                       // v1
        def dimEntries(v: Long) =
          ss.readManifest("g", v).filter(_.startsWith("dim:"))
        val dim1 = dimEntries(1L)
        val v2 = ss.commitDeleteWhereTable("g", "data", "k % 9 = 4")
        require(v2 == 2L && dimEntries(2L) == dim1,
          "the untouched dim sub must carry by reference through DELETE")
        val v3 = ss.commitUpdateWhereTable("g", "data", "k % 9 = 2",
          Map("p" -> "CAST(p * 3 AS DECIMAL(18,4))"))
        require(v3 == 3L && dimEntries(3L) == dim1,
          "the untouched dim sub must carry by reference through UPDATE")
        require(ss.readTableVersion("g", 3L, "data").schema ==
          ss.readTableVersion("g", 1L, "data").schema,
          "the SET cast-back must keep the sub schema identical")
        require(ss.readTableVersion("g", 3L, "dim").count() ==
          dim.count(), "the dim sub content must be untouched")
        shapedBucketsLabeled("v1_base",
            ss.readTableVersion("g", 1L, "data"))
          .unionByName(shapedBucketsLabeled("v2_delete",
            ss.readTableVersion("g", 2L, "data")))
          .unionByName(shapedBucketsLabeled("v3_update",
            ss.readTableVersion("g", 3L, "data")))
          .orderBy("version", "bucket")
      }),

    // X143b (r18): the SQL mutation STATEMENTS + tag-bounded CHANGES —
    // the spellings users actually type, certified against the same
    // oracle discipline as the Scala API. `DELETE FROM ... WHERE` and
    // `UPDATE ... SET ... WHERE` dispatch through the masked
    // whole-statement match onto the predicate CoW commits
    // (require-pinned: the DELETE carries >= 10 of 16 files — the SQL
    // layer inherits the file-granular plan, never a second
    // implementation); `CHANGES(t, 'rel-a', 'rel-b')` resolves tag
    // bounds ("what changed between releases" as one query), pinned
    // to be exactly the deleted rows and emitted as part of the
    // hashed output.
    Query("x143b_sql_mutations",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |mx AS (SELECT max(k) AS mk FROM a),
             |del AS (SELECT k, cust, p FROM a CROSS JOIN mx
             |  WHERE k % 8 = 5 AND k * 5 <= mk),
             |v2 AS (SELECT k, cust, p FROM a CROSS JOIN mx
             |  WHERE NOT (k % 8 = 5 AND k * 5 <= mk)),
             |v3 AS (SELECT k, cust,
             |    CASE WHEN k % 8 = 1 AND k * 5 <= (SELECT mk FROM mx)
             |      THEN CAST(p * 2 AS DECIMAL(18,4)) ELSE p END AS p
             |  FROM v2),
             |lab AS (SELECT 'v1_base' AS version, k, cust, p FROM a
             |  UNION ALL SELECT 'v2_delete', k, cust, p FROM v2
             |  UNION ALL SELECT 'v3_update', k, cust, p FROM v3
             |  UNION ALL SELECT 'tag_changes', k, cust, p FROM del)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  min(k) AS min_k, max(k) AS max_k,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x143b_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val maxK = src.agg(max("k")).head().getLong(0)
        ss.commitOverwriteKeyed("t", "k", src, numFiles = 16)     // v1
        ss.tag("t", "rel-a", 1L)
        val st = graft.sources.SnapshotSql.sql(ss,                // v2
          s"DELETE FROM t WHERE k % 8 = 5 AND k * 5 <= $maxK")
          .collect().map(r => (r.getString(0), r.getString(1))).toMap
        require(st("version") == "2" && st("files_reused").toInt >= 10,
          s"the DELETE statement must take the file-granular CoW " +
            s"path: $st")
        ss.tag("t", "rel-b", 2L)
        val st2 = graft.sources.SnapshotSql.sql(ss,               // v3
          s"UPDATE t SET p = CAST(p * 2 AS DECIMAL(18,4)) " +
            s"WHERE k % 8 = 1 AND k * 5 <= $maxK")
          .collect().map(r => (r.getString(0), r.getString(1))).toMap
        require(st2("version") == "3" && st2("files_reused").toInt >= 10,
          s"the UPDATE statement must carry untouched files: $st2")
        // tag-bounded changelog: exactly the statement's deleted rows
        val tagDel = graft.sources.SnapshotSql.sql(ss,
          "SELECT c.k, c.cust, c.p FROM CHANGES(t, 'rel-a', 'rel-b') c " +
            "WHERE c._change = 'delete'")
        val nDel = src.filter(expr(s"k % 8 = 5 AND k * 5 <= $maxK"))
          .count()
        require(tagDel.count() == nDel,
          "CHANGES between release tags must be exactly the deletes")
        shapedBucketsLabeled("v1_base", ss.readVersion("t", 1L))
          .unionByName(shapedBucketsLabeled("v2_delete",
            ss.readVersion("t", 2L)))
          .unionByName(shapedBucketsLabeled("v3_update",
            ss.readCurrent("t")))
          .unionByName(shapedBucketsLabeled("tag_changes", tagDel))
          .orderBy("version", "bucket")
      }),

    // X141v: NAMED TAGS — durable names for versions, the release/
    // reproducibility primitive retention must respect (Iceberg tags).
    // The run: four versions; v2 (the full corpus) tagged as a release;
    // a keep-last-1 retention policy fires — require-pinned to CLAMP at
    // the tag (v1 expires, v2..v4 survive) where without the tag it
    // would have left only v4 and 404'd the release; an explicit
    // expire past the tag REFUSES naming it (require-pinned). Output =
    // the release read back THROUGH ITS TAG (time-traveled across the
    // sweep) + the current version, shaped per shapedBuckets; the
    // oracle recomputes both snapshots from the raw table.
    Query("x141v_tags",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |cur AS (SELECT * FROM a WHERE k % 9 <> 4 AND k % 7 <> 2),
             |lab AS (SELECT 'tag_release' AS version, * FROM a
             |  UNION ALL SELECT 'v4_current', * FROM cur)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1))
             |    AS BIGINT) AS fp,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141v_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        ss.commitOverwrite("t", src.filter(col("k") % 10 =!= 7))  // v1
        ss.commitAppend("t", src.filter(col("k") % 10 === 7))    // v2
        ss.tag("t", "release-2026.08", 2L)
        ss.commitOverwrite("t", src.filter(col("k") % 9 =!= 4))  // v3
        ss.commitOverwrite("t",                                  // v4
          src.filter(col("k") % 9 =!= 4 && col("k") % 7 =!= 2))
        // explicit expire past the tag: refused, and the error NAMES it
        val refused =
          try { ss.expireVersions("t", 3L); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("release-2026.08") }
        require(refused, "expiring past a tag must refuse and name it")
        // the policy sweep clamps at the tag: v1 goes, the release stays
        ss.expireByPolicy("t", keepLast = 1)
        require(ss.versions("t") == (2L to 4L),
          s"keep-last-1 must clamp at the tag, got ${ss.versions("t")}")
        shapedBucketsLabeled("tag_release", ss.readTagged("t", "release-2026.08"))
          .unionByName(shapedBucketsLabeled("v4_current", ss.readCurrent("t")))
          .orderBy("version", "bucket")
      }),

    Query("x141r_deletion_vectors",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |mx AS (SELECT max(k) AS mk FROM a),
             |v2 AS (SELECT * FROM a CROSS JOIN mx
             |  WHERE NOT (k % 97 = 0 AND k * 5 <= mk)),
             |fin AS (SELECT * FROM a CROSS JOIN mx
             |  WHERE NOT (k % 97 = 0 AND k * 5 <= mk)
             |    AND NOT (k % 89 = 0 AND k * 5 <= mk)),
             |lab AS (SELECT 'v2_first_vector' AS version, cust, p FROM v2
             |  UNION ALL SELECT 'v4_folded', cust, p FROM fin)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141r_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val maxK = src.agg(max("k")).head().getLong(0)
        def dels(mod: Int) = src.filter(col("k") % mod === 0 &&
          col("k") * 5 <= maxK).select("k")
        ss.commitOverwriteKeyed("t", "k", src, numFiles = 16)     // v1
        val m1 = ss.readManifest("t", 1L)
        ss.commitDeleteKeys("t", dels(97))                        // v2
        require(ss.readManifest("t", 2L) == m1 &&
          !java.nio.file.Files.exists(
            java.nio.file.Paths.get(dir, "t", "data", "v2")),
          "a vector commit must rewrite NO data file (manifest carried " +
            "by reference, no new data dir)")
        val nDel1 = dels(97).count()
        val ch = ss.changesBetween("t", 1L, 2L).localCheckpoint()
        require(ch.count() == nDel1 &&
          ch.filter(col("_change") =!= "delete").isEmpty,
          "the changelog must emit exactly the deleted payload rows")
        graft.ops.RelOps.releaseCheckpoint(ch)
        ss.commitDeleteKeys("t", dels(89))                        // v3
        val (v4, reused) = ss.compactDeleteKeys("t")
        require(v4 == 4L && reused >= 8,
          s"the fold must reuse the untouched range files, reused=$reused")
        require(ss.deleteKeysAt("t", 4L).isEmpty,
          "the fold must clear the vector")
        require(ss.changesBetween("t", 3L, 4L).isEmpty,
          "the fold is content-preserving — the changelog skips it")
        def shaped(label: String, df: DataFrame): DataFrame =
          df.groupBy((col("cust") % 10).as("bucket"))
            .agg(count(lit(1)).as("n"),
              sum(col("p")).cast("double").as("total"))
            .select(lit(label).as("version"), col("bucket"), col("n"),
              col("total"))
        shaped("v2_first_vector", ss.readVersion("t", 2L))
          .unionByName(shaped("v4_folded", ss.readCurrent("t")))
          .orderBy("version", "bucket")
      }),

    Query("x141q_history",
      Some("""SELECT * FROM (VALUES
             |  ('t', CAST(1 AS BIGINT), false, false),
             |  ('t', CAST(2 AS BIGINT), false, false),
             |  ('t', CAST(3 AS BIGINT), true,  false),
             |  ('t', CAST(4 AS BIGINT), false, false),
             |  ('t', CAST(5 AS BIGINT), false, false),
             |  ('u', CAST(1 AS BIGINT), false, false),
             |  ('u', CAST(2 AS BIGINT), false, true))
             |AS h(tbl, version, content_preserving, schema_evolved)
             |ORDER BY tbl, version""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141q_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          priceDec("o_totalprice").as("p"))
        ss.commitOverwriteKeyed("t", "k", src, numFiles = 8)      // v1
        val cut = src.agg(max("k")).head().getLong(0) / 5
        val b = src.filter(!(col("k") <= cut && col("k") % 10 === 5))
        ss.commitMergeCow("t", "k",                               // v2
          CdcOps.snapshotDiff(src, b, "k", Seq("p"))
            .filter(col("change_type") =!= "unchanged"))
        ss.compactKeyed("t", "k", numFiles = 8)                   // v3
        ss.commitAppend("t",                                      // v4
          src.filter(col("k") % 10 === 5).filter(col("k") <= cut))
        ss.rollback("t", 2L)                                      // v5
        ss.commitOverwrite("u", src.limit(100).select("k"))       // u v1
        ss.commitAppendEvolved("u", env.spark.range(1)            // u v2
          .select(lit(-1L).as("k"), lit("x").as("extra")))
        def hist(tbl: String) = ss.history(tbl)
          .select(lit(tbl).as("tbl"), col("version"),
            col("content_preserving"), col("schema_evolved"))
        hist("t").unionByName(hist("u")).orderBy("tbl", "version")
      }),

    // X141m: write-audit-publish — a batch is STAGED as the next version
    // (files + manifest under a claimed number no reader resolves),
    // audited with the DQ suite against the staged snapshot, and only
    // then atomically published; a failing batch is discarded and never
    // existed (no version, no changelog step — the complement of the
    // DQ-vetoed streaming sink's report-only versions). The run: good
    // batch staged→audited→published; corrupted batch (negated prices)
    // staged→audit FAILS→discarded (pointer unmoved, in-query require);
    // corrected batch re-stages the SAME freed version number and
    // publishes. The oracle reconstructs all three published snapshots —
    // the hash certifies the discard left zero trace and the publishes
    // landed exactly their content.
    Query("x141m_write_audit_publish",
      Some("""WITH src AS (SELECT o_orderkey AS k,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders)
             |SELECT 'v1_base' AS version, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total FROM src WHERE k % 4 = 0
             |UNION ALL SELECT 'v2_wap_published', count(*),
             |  CAST(sum(p) AS DOUBLE) FROM src WHERE k % 4 <= 1
             |UNION ALL SELECT 'v3_wap_republished', count(*),
             |  CAST(sum(p) AS DOUBLE) FROM src WHERE k % 4 <= 2
             |ORDER BY version""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x141m_") { dir =>
        import graft.ops.DqOps
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          priceDec("o_totalprice").as("p"))
        val audit = Seq(DqOps.Completeness("p"),
          DqOps.Bounds("p", 0.0, 1e9))
        def passes(df: DataFrame): Boolean = DqOps.runChecks(df, audit)
          .agg(min(col("passed"))).head().getBoolean(0)
        ss.commitOverwrite("t", src.filter(col("k") % 4 === 0))  // v1
        val g = ss.stageAppend("t", src.filter(col("k") % 4 === 1))
        require(passes(ss.readStaged("t", g)), "good batch must audit clean")
        ss.publishStaged("t", g)                                 // v2
        val b = ss.stageAppend("t",
          src.filter(col("k") % 4 === 2).withColumn("p", -col("p")))
        require(ss.currentVersion("t") == 2L &&
          ss.readCurrent("t").columns.sameElements(Array("k", "p")),
          "a staged batch must be invisible to readers")
        require(!passes(ss.readStaged("t", b)), "bad batch must fail audit")
        ss.discardStaged("t", b)
        require(ss.currentVersion("t") == 2L && ss.versions("t") == (1L to 2L),
          "discard must leave no version behind")
        val r = ss.stageAppend("t", src.filter(col("k") % 4 === 2))
        require(r == b, "the discarded number must be reusable")
        require(passes(ss.readStaged("t", r)), "corrected batch audits clean")
        ss.publishStaged("t", r)                                 // v3
        def agg(label: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("n"),
              sum(col("p")).cast("double").as("total"))
            .select(lit(label).as("version"), col("n"), col("total"))
        agg("v1_base", ss.readVersion("t", 1L))
          .unionByName(agg("v2_wap_published", ss.readVersion("t", 2L)))
          .unionByName(agg("v3_wap_republished", ss.readCurrent("t")))
          .orderBy("version")
      }),

    // X142: version-to-version row-level changelog — the snapshot store
    // as a CDC SOURCE. Three commits (overwrite / append / merge) and
    // the store derives what changed per step FROM ITS MANIFESTS: the
    // append step is the file-level fast path (no diff compute — the
    // in-query require pins that it reads ONLY the appended files), the
    // merge step is a multiset EXCEPT ALL bounded to rewritten files.
    // The oracle re-derives every change class independently (inserts =
    // the appended bucket, the merge's deletes = bucket 5 plus bucket
    // 3's old payloads, its inserts = bucket 3 repriced); summed per
    // (commit, change, key-bucket) with exact decimal arithmetic so one
    // hash certifies the whole changelog.
    Query("x142_version_changelog",
      Some("""WITH src AS (SELECT o_orderkey AS k,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |ch AS (
             |  SELECT 2 AS commit_v, 'insert' AS change_type, k, p
             |    FROM src WHERE k % 10 = 7
             |  UNION ALL SELECT 3, 'delete', k, p FROM src
             |    WHERE k % 10 IN (3, 5)
             |  UNION ALL SELECT 3, 'insert', k,
             |      CAST(round(p * 1.05, 2) AS DECIMAL(18,4))
             |    FROM src WHERE k % 10 = 3)
             |SELECT commit_v, change_type, k % 100 AS k_bucket,
             |  count(*) AS n, CAST(sum(p) AS DOUBLE) AS total
             |FROM ch GROUP BY 1, 2, 3
             |ORDER BY commit_v, change_type, k_bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          priceDec("o_totalprice").as("p"))
        val target = src.filter(col("k") % 10 =!= 5)
          .select(col("k"),
            when(col("k") % 10 === 3,
                round(col("p") * lit(new java.math.BigDecimal("1.05")), 2))
              .otherwise(col("p")).cast("decimal(18,4)").as("p"))
        ss.commitOverwrite("t", src.filter(col("k") % 10 =!= 7)) // v1
        ss.commitAppend("t", src.filter(col("k") % 10 === 7))    // v2
        ss.commitMerge("t", "k",                                 // v3
          CdcOps.snapshotDiff(src, target, "k", Seq("p"))
            .filter(col("change_type") =!= "unchanged"))
        // the append step must be manifest-derived: only v2's files read
        require(ss.changesBetween("t", 1L, 2L).inputFiles
            .forall(_.contains("/v2")),
          "append fast path must read only the appended files")
        ss.changesBetween("t", 1L, 3L)
          .groupBy(col("_commit_v").as("commit_v"),
            col("_change").as("change_type"),
            (col("k") % 100).as("k_bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("p")).cast("double").as("total"))
          .orderBy("commit_v", "change_type", "k_bucket")
      }),

    // X142d: changelog of ONE sub-table of a multi-table group — what
    // lets a derived view consume a streaming-ingested {data, meta}
    // group incrementally. Three atomic group commits: data+meta, a data
    // append (+meta overwrite), then a META-ONLY commit whose data
    // carries by reference — the data changelog must contribute NOTHING
    // for it and read ONLY the appended files for the append step (both
    // pinned by in-query requires). The oracle derives the one real data
    // change set independently.
    Query("x142d_group_changelog",
      Some("""WITH src AS (SELECT o_orderkey AS k,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders)
             |SELECT 2 AS commit_v, 'insert' AS change_type,
             |  k % 100 AS k_bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total
             |FROM src WHERE k % 3 = 1 GROUP BY 3
             |ORDER BY k_bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142d_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          priceDec("o_totalprice").as("p"))
        def meta(id: Long) =
          graft.ops.RelOps.localLongRow(env.spark, "batch" -> id)
        ss.commitTables("t", overwrites = Map(
          "data" -> src.filter(col("k") % 3 === 0), "meta" -> meta(1)))
        ss.commitTables("t",
          appends = Map("data" -> src.filter(col("k") % 3 === 1)),
          overwrites = Map("meta" -> meta(2)))
        ss.commitTables("t", overwrites = Map("meta" -> meta(3)))
        require(ss.changesBetweenTable("t", "data", 2L, 3L).count() == 0,
          "a meta-only commit must contribute NOTHING to the data changelog")
        val ch = ss.changesBetweenTable("t", "data", 1L, 3L)
        require(ch.inputFiles.nonEmpty &&
          ch.inputFiles.forall(_.contains("v2__data")),
          "the data changelog must read only the appended sub files")
        ch.groupBy(col("_commit_v").as("commit_v"),
            col("_change").as("change_type"),
            (col("k") % 100).as("k_bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("p")).cast("double").as("total"))
          .orderBy("k_bucket")
      }),

    // X142e: additive schema evolution — the second batch arrives with a
    // NEW column (order priority); the evolved commit stamps the
    // version's schema, so the pre-evolution files read the column as
    // null from then on while time travel to v1 keeps the ORIGINAL
    // two-column shape (require-pinned). The oracle derives both reads:
    // v1 = the original projection, v2 = the union where only the new
    // batch carries a priority (older rows group under the '-' bucket).
    Query("x142e_schema_evolution",
      Some("""WITH src AS (SELECT o_orderkey AS k,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p,
             |    o_orderpriority AS prio FROM orders)
             |SELECT 'v1_original' AS version, '-' AS prio, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total FROM src WHERE k % 2 = 0
             |UNION ALL
             |SELECT 'v2_evolved',
             |  coalesce(CASE WHEN k % 2 = 1 THEN prio END, '-'),
             |  count(*), CAST(sum(p) AS DOUBLE)
             |FROM src GROUP BY 2
             |ORDER BY version, prio""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142e_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          priceDec("o_totalprice").as("p"),
          col("o_orderpriority").as("prio"))
        ss.commitOverwrite("t",
          src.filter(col("k") % 2 === 0).select("k", "p"))   // v1
        ss.commitAppendEvolved("t", src.filter(col("k") % 2 === 1)) // v2
        require(ss.readVersion("t", 1L).columns.sameElements(
          Array("k", "p")), "time travel must keep the original schema")
        require(ss.readCurrent("t").columns.sameElements(
          Array("k", "p", "prio")), "current must carry the evolved schema")
        val v1 = ss.readVersion("t", 1L)
          .agg(count(lit(1)).as("n"),
            sum(col("p")).cast("double").as("total"))
          .select(lit("v1_original").as("version"), lit("-").as("prio"),
            col("n"), col("total"))
        val v2 = ss.readCurrent("t")
          .groupBy(coalesce(col("prio"), lit("-")).as("prio"))
          .agg(count(lit(1)).as("n"),
            sum(col("p")).cast("double").as("total"))
          .select(lit("v2_evolved").as("version"), col("prio"),
            col("n"), col("total"))
        v1.unionByName(v2).orderBy("version", "prio")
      }),

    // X142b: exactly-once incrementally-maintained aggregate view — the
    // changelog consumed by CdcOps.refreshSumView, whose every refresh
    // commits the merged per-customer aggregate AND the source watermark
    // it consumed as ONE atomic snapshot version. The run: initial view
    // off v1, then TWO source commits (append + merge) folded by ONE
    // incremental refresh (O(changes), never a source rescan), then a
    // redelivery refresh that must commit NOTHING. The output reads BOTH
    // view versions — v1 time-traveled from after the refresh overwrote
    // it — so one hash certifies initial build, incremental maintenance
    // ≡ from-scratch recompute, no-op redelivery (a third version would
    // shift the labels), and snapshot isolation of the view itself.
    // Decimal sums ride exact through BOTH aggregation levels (per-cust,
    // then per-bucket) and cast to double only at the end.
    Query("x142b_incremental_agg_view",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |v1 AS (SELECT cust, sum(p) AS s, count(*) AS n FROM a
             |  WHERE k % 10 <> 7 GROUP BY cust),
             |tgt AS (SELECT cust, CASE WHEN k % 10 = 3
             |      THEN CAST(round(p * 1.05, 2) AS DECIMAL(18,4))
             |      ELSE p END AS p
             |  FROM a WHERE k % 10 <> 5),
             |v2 AS (SELECT cust, sum(p) AS s, count(*) AS n FROM tgt
             |  GROUP BY cust),
             |lab AS (SELECT 'v1_initial' AS version, cust, s, n FROM v1
             |  UNION ALL
             |  SELECT 'v2_incremental', cust, s, n FROM v2)
             |SELECT version, cust % 50 AS cust_bucket,
             |  count(*) AS ngroups, CAST(sum(s) AS DOUBLE) AS total,
             |  CAST(sum(n) AS BIGINT) AS n_rows
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, cust_bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142b_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val target = src.filter(col("k") % 10 =!= 5)
          .select(col("k"), col("cust"),
            when(col("k") % 10 === 3,
                round(col("p") * lit(new java.math.BigDecimal("1.05")), 2))
              .otherwise(col("p")).cast("decimal(18,4)").as("p"))
        ss.commitOverwrite("t", src.filter(col("k") % 10 =!= 7)) // v1
        val vInit = CdcOps.refreshSumView(ss, "t", "v", Seq("cust"), "p")
        require(vInit == 1L, s"initial view build must be v1, got v$vInit")
        ss.commitAppend("t", src.filter(col("k") % 10 === 7))    // v2
        ss.commitMerge("t", "k",                                 // v3
          CdcOps.snapshotDiff(src, target, "k", Seq("cust", "p"))
            .filter(col("change_type") =!= "unchanged"))
        val vIncr = CdcOps.refreshSumView(ss, "t", "v", Seq("cust"), "p")
        require(vIncr == 2L, s"incremental refresh must land v2, got v$vIncr")
        val vNoop = CdcOps.refreshSumView(ss, "t", "v", Seq("cust"), "p")
        require(vNoop == 2L && ss.currentVersion("v") == 2L,
          "redelivery refresh must commit nothing")
        def rollup(label: String, agg: DataFrame): DataFrame =
          agg.groupBy((col("cust") % 50).as("cust_bucket"))
            .agg(count(lit(1)).as("ngroups"),
              sum(col("sum_m")).cast("double").as("total"),
              sum(col("n_rows")).as("n_rows"))
            .select(lit(label).as("version"), col("cust_bucket"),
              col("ngroups"), col("total"), col("n_rows"))
        rollup("v1_initial", ss.readTableVersion("v", 1L, "agg"))
          .unionByName(rollup("v2_incremental", ss.readTable("v", "agg")))
          .orderBy("version", "cust_bucket")
      }),

    // X142h: the changelog as a STREAMING SOURCE (r13 verdict #4) —
    // the view refresher DECOUPLED from ingest: drainChangeFeed drains
    // every version since its checkpointed watermark (one micro-batch
    // per version, Trigger.AvailableNow semantics; version 1 delivers
    // the initial snapshot as inserts), and foldSumViewStep makes the
    // at-least-once delivery exactly-once (redelivered steps commit
    // NOTHING — require-pinned; gaps refused loudly). The scenario
    // CRASHES the consumer at step 3 mid-drain: the restart drain is
    // require-pinned to deliver ONLY v3 — resumed from the checkpoint,
    // nothing re-delivered, nothing skipped. Same source shapes as
    // x142b (append + rewrite with updates AND deletes); the view
    // after v2 (time-traveled) and the final view both hash-match
    // from-scratch recomputes.
    Query("x142h_change_feed_view",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |tgt AS (SELECT cust, CASE WHEN k % 10 = 3
             |      THEN CAST(round(p * 1.05, 2) AS DECIMAL(18,4))
             |      ELSE p END AS p
             |  FROM a WHERE k % 10 <> 5),
             |s2 AS (SELECT cust, sum(p) AS s, count(*) AS n FROM a
             |  GROUP BY cust),
             |s3 AS (SELECT cust, sum(p) AS s, count(*) AS n FROM tgt
             |  GROUP BY cust),
             |lab AS (SELECT 'after_v2' AS version, cust, s, n FROM s2
             |  UNION ALL
             |  SELECT 'after_v3', cust, s, n FROM s3)
             |SELECT version, cust % 50 AS cust_bucket,
             |  count(*) AS ngroups, CAST(sum(s) AS DOUBLE) AS total,
             |  CAST(sum(n) AS BIGINT) AS n_rows
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, cust_bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142h_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val ck = new java.io.File(dir, "feed_ck").getAbsolutePath
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val target = src.filter(col("k") % 10 =!= 5)
          .select(col("k"), col("cust"),
            when(col("k") % 10 === 3,
                round(col("p") * lit(new java.math.BigDecimal("1.05")), 2))
              .otherwise(col("p")).cast("decimal(18,4)").as("p"))
        ss.commitOverwrite("t", src.filter(col("k") % 10 =!= 7)) // v1
        ss.commitAppend("t", src.filter(col("k") % 10 === 7))    // v2
        ss.commitMerge("t", "k",                                 // v3
          CdcOps.snapshotDiff(src, target, "k", Seq("cust", "p"))
            .filter(col("change_type") =!= "unchanged"))
        def fold(ch: DataFrame, v: Long): Unit =
          CdcOps.foldSumViewStep(ss, "v", Seq("cust"), "p", ch, v): Unit
        // the consumer dies at step 3; steps 1–2 consume + checkpoint
        try graft.streaming.StreamOps.drainChangeFeed(ss, "t", ck) {
          (ch, v) =>
            require(v != 3L, "__feed_crash__")
            fold(ch, v)
        } catch {
          case e: IllegalArgumentException
            if e.getMessage.contains("__feed_crash__") => ()
        }
        require(ss.currentVersion("v") == 2L,
          "the crashed drain must leave the view at the consumed prefix")
        // restart resumes from the checkpoint: ONLY v3 delivers
        val resumed = graft.streaming.StreamOps
          .drainChangeFeed(ss, "t", ck)(fold)
        require(resumed == Seq(3L),
          s"restart must deliver exactly the unconsumed v3, got $resumed")
        // redelivered step (crash between process and watermark
        // advance): the fold commits NOTHING — not even a version
        CdcOps.foldSumViewStep(ss, "v", Seq("cust"), "p",
          ss.changesBetween("t", 2L, 3L), 3L)
        require(ss.currentVersion("v") == 3L,
          "a redelivered step must commit nothing")
        def rollup(label: String, agg: DataFrame): DataFrame =
          agg.groupBy((col("cust") % 50).as("cust_bucket"))
            .agg(count(lit(1)).as("ngroups"),
              sum(col("sum_m")).cast("double").as("total"),
              sum(col("n_rows")).as("n_rows"))
            .select(lit(label).as("version"), col("cust_bucket"),
              col("ngroups"), col("total"), col("n_rows"))
        rollup("after_v2", ss.readTableVersion("v", 2L, "agg"))
          .unionByName(rollup("after_v3", ss.readTable("v", "agg")))
          .orderBy("version", "cust_bucket")
      }),

    // X142g: incrementally-maintained MIN/MAX view (r13 verdict #3) —
    // the non-invertible aggregate: inserts fold via least/greatest,
    // deletes re-derive ONLY the groups whose stored extreme fell. The
    // scenario forces all three refresh shapes: build (v1 of the view),
    // an insert-only refresh (require-pinned to recompute ZERO groups),
    // then a delete merge that (a) removes group 3's entire max VALUE —
    // the extreme falls, the group must recompute — and (b) removes
    // strictly-INTERIOR rows of group 5 (p strictly between its min and
    // max, every 7th by rank) — extremes provably survive, so the
    // refresh is require-pinned to recompute EXACTLY ONE group; group
    // 5's n_rows adjusts without touching the source. A nothing-new
    // refresh commits nothing. Output = all three view versions (two
    // time-traveled), min/max cast to double at the end; the oracle
    // recomputes every snapshot from scratch with the same window-
    // defined delete rule.
    Query("x142g_minmax_view",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey % 20 AS g,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |w AS (SELECT k, g, p,
             |    min(p) OVER (PARTITION BY g) AS mnp,
             |    max(p) OVER (PARTITION BY g) AS mxp,
             |    row_number() OVER (PARTITION BY g ORDER BY p, k) AS ra
             |  FROM a),
             |dels AS (SELECT k FROM w WHERE (g = 3 AND p = mxp)
             |    OR (g = 5 AND p > mnp AND p < mxp AND ra % 7 = 0)),
             |fin AS (SELECT * FROM a
             |  WHERE k NOT IN (SELECT k FROM dels)),
             |v1 AS (SELECT g, min(p) mn, max(p) mx, count(*) n FROM a
             |  WHERE k % 10 <> 7 GROUP BY g),
             |v2 AS (SELECT g, min(p) mn, max(p) mx, count(*) n FROM a
             |  GROUP BY g),
             |v3 AS (SELECT g, min(p) mn, max(p) mx, count(*) n FROM fin
             |  GROUP BY g),
             |lab AS (SELECT 'v1_initial' AS version, * FROM v1
             |  UNION ALL SELECT 'v2_inserts', * FROM v2
             |  UNION ALL SELECT 'v3_deletes', * FROM v3)
             |SELECT version, g, CAST(mn AS DOUBLE) AS min_m,
             |  CAST(mx AS DOUBLE) AS max_m, n AS n_rows
             |FROM lab ORDER BY version, g""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142g_") { dir =>
        import org.apache.spark.sql.expressions.Window
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          (col("o_custkey") % 20).as("g"), priceDec("o_totalprice").as("p"))
        ss.commitOverwrite("t", src.filter(col("k") % 10 =!= 7))  // v1
        val (vInit, _) = CdcOps.refreshMinMaxView(ss, "t", "v",
          Seq("g"), "p")
        require(vInit == 1L, s"initial build must be view v1, got $vInit")
        ss.commitAppend("t", src.filter(col("k") % 10 === 7))     // v2
        val (vIns, dIns) = CdcOps.refreshMinMaxView(ss, "t", "v",
          Seq("g"), "p")
        require(vIns == 2L && dIns == 0L,
          s"insert-only refresh must recompute NO groups, got $dIns")
        // the delete merge: current source content == src exactly
        val byG = Window.partitionBy("g")
        val stats = src
          .withColumn("mnp", min("p").over(byG))
          .withColumn("mxp", max("p").over(byG))
          .withColumn("ra", row_number().over(byG.orderBy("p", "k")))
        val delKeys = stats.filter(
          (col("g") === 3 && col("p") === col("mxp")) ||
          (col("g") === 5 && col("p") > col("mnp") &&
            col("p") < col("mxp") && col("ra") % 7 === 0))
          .select("k")
        val target = src.join(delKeys, Seq("k"), "left_anti")
        ss.commitMerge("t", "k",                                  // v3
          CdcOps.snapshotDiff(src, target, "k", Seq("g", "p"))
            .filter(col("change_type") =!= "unchanged"))
        val (vDel, dDel) = CdcOps.refreshMinMaxView(ss, "t", "v",
          Seq("g"), "p")
        require(vDel == 3L && dDel == 1L,
          s"ONLY the fallen-extreme group must recompute, got $dDel")
        val (vNoop, _) = CdcOps.refreshMinMaxView(ss, "t", "v",
          Seq("g"), "p")
        require(vNoop == 3L && ss.currentVersion("v") == 3L,
          "nothing-new refresh must commit nothing")
        def shaped(label: String, agg: DataFrame): DataFrame =
          agg.select(lit(label).as("version"), col("g"),
            col("min_m").cast("double").as("min_m"),
            col("max_m").cast("double").as("max_m"), col("n_rows"))
        shaped("v1_initial", ss.readTableVersion("v", 1L, "agg"))
          .unionByName(shaped("v2_inserts", ss.readTableVersion("v", 2L, "agg")))
          .unionByName(shaped("v3_deletes", ss.readTable("v", "agg")))
          .orderBy("version", "g")
      }),

    // X142j: incrementally-maintained TOP-K view (k = 5) — the
    // k-generalization of x142g's min/max and the serving shape of a
    // leaderboard: per group, the DESC-sorted array of the 5 largest
    // values + the row count. The run forces all three refresh shapes:
    // build off v1; an insert-only refresh (require-pinned to recompute
    // ZERO groups — batch top-5s merge into the stored arrays and
    // re-truncate); then a delete merge that (a) removes group 3's
    // entire MAX value — inside the top-5, the group must recompute —
    // and (b) removes group-5 rows strictly BELOW its 5th-largest value
    // (every 7th by rank) — provably outside the array, so the refresh
    // is require-pinned to recompute EXACTLY ONE group while group 5's
    // n_rows adjusts without touching the source. A nothing-new refresh
    // commits nothing. Output = all three view versions (two
    // time-traveled), each stored array EXPLODED to (rank, value)
    // rows with values cast to double (the driver's hasher cannot
    // hash array columns); the oracle recomputes every snapshot from
    // scratch with the same window-defined delete rule.
    Query("x142j_topk_view",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey % 20 AS g,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |w AS (SELECT k, g, p,
             |    max(p) OVER (PARTITION BY g) AS mxp,
             |    nth_value(p, 5) OVER (PARTITION BY g ORDER BY p DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND UNBOUNDED FOLLOWING) AS kv,
             |    row_number() OVER (PARTITION BY g ORDER BY p, k) AS ra
             |  FROM a),
             |dels AS (SELECT k FROM w WHERE (g = 3 AND p = mxp)
             |    OR (g = 5 AND p < kv AND ra % 7 = 0)),
             |fin AS (SELECT * FROM a
             |  WHERE k NOT IN (SELECT k FROM dels)),
             |v1 AS (SELECT g, (array_agg(p ORDER BY p DESC))[1:5] AS tk,
             |    count(*) AS n FROM a WHERE k % 10 <> 7 GROUP BY g),
             |v2 AS (SELECT g, (array_agg(p ORDER BY p DESC))[1:5] AS tk,
             |    count(*) AS n FROM a GROUP BY g),
             |v3 AS (SELECT g, (array_agg(p ORDER BY p DESC))[1:5] AS tk,
             |    count(*) AS n FROM fin GROUP BY g),
             |lab AS (SELECT 'v1_initial' AS version, * FROM v1
             |  UNION ALL SELECT 'v2_inserts', * FROM v2
             |  UNION ALL SELECT 'v3_deletes', * FROM v3)
             |SELECT version, g, r.rank,
             |  CAST(tk[r.rank] AS DOUBLE) AS value, n AS n_rows
             |FROM lab, (SELECT unnest(generate_series(1, 5)) AS rank) r
             |WHERE r.rank <= len(tk)
             |ORDER BY version, g, rank""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142j_") { dir =>
        import org.apache.spark.sql.expressions.Window
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          (col("o_custkey") % 20).as("g"), priceDec("o_totalprice").as("p"))
        ss.commitOverwrite("t", src.filter(col("k") % 10 =!= 7))  // v1
        val (vInit, _) = CdcOps.refreshTopKView(ss, "t", "v",
          Seq("g"), "p", 5)
        require(vInit == 1L, s"initial build must be view v1, got $vInit")
        ss.commitAppend("t", src.filter(col("k") % 10 === 7))     // v2
        val (vIns, dIns) = CdcOps.refreshTopKView(ss, "t", "v",
          Seq("g"), "p", 5)
        require(vIns == 2L && dIns == 0L,
          s"insert-only refresh must recompute NO groups, got $dIns")
        val byG = Window.partitionBy("g")
        val stats = src
          .withColumn("mxp", max("p").over(byG))
          .withColumn("kv", nth_value(col("p"), 5).over(
            byG.orderBy(col("p").desc).rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("ra", row_number().over(byG.orderBy("p", "k")))
        val delKeys = stats.filter(
          (col("g") === 3 && col("p") === col("mxp")) ||
          (col("g") === 5 && col("p") < col("kv") && col("ra") % 7 === 0))
          .select("k")
        val target = src.join(delKeys, Seq("k"), "left_anti")
        ss.commitMerge("t", "k",                                  // v3
          CdcOps.snapshotDiff(src, target, "k", Seq("g", "p"))
            .filter(col("change_type") =!= "unchanged"))
        val (vDel, dDel) = CdcOps.refreshTopKView(ss, "t", "v",
          Seq("g"), "p", 5)
        require(vDel == 3L && dDel == 1L,
          s"ONLY the fallen-top-value group must recompute, got $dDel")
        val (vNoop, _) = CdcOps.refreshTopKView(ss, "t", "v",
          Seq("g"), "p", 5)
        require(vNoop == 3L && ss.currentVersion("v") == 3L,
          "nothing-new refresh must commit nothing")
        // EXPLODED output, not the array itself: the driver's hasher
        // cannot hash an array-typed column (pandas sort dies on
        // ndarray cells — the r14 x142j lesson), so the served arrays
        // flatten to (version, g, rank, value) rows, one per entry.
        def shaped(label: String, agg: DataFrame): DataFrame =
          agg.select(lit(label).as("version"), col("g"), col("n_rows"),
              posexplode(col("topk")))
            .select(col("version"), col("g"),
              (col("pos") + 1).cast("int").as("rank"),
              col("col").cast("double").as("value"), col("n_rows"))
        shaped("v1_initial", ss.readTableVersion("v", 1L, "agg"))
          .unionByName(shaped("v2_inserts",
            ss.readTableVersion("v", 2L, "agg")))
          .unionByName(shaped("v3_deletes", ss.readTable("v", "agg")))
          .orderBy("version", "g", "rank")
      }),

    // X142i: incrementally-maintained moment-STATS view (count/sum/
    // sum-of-squares → avg + population stddev derived at read) — the
    // fully-INVERTIBLE sibling of x142g's min/max: the same scattered
    // delete that forces min/max to re-derive fallen-extreme groups
    // folds here as a pure signed delta — the refresh NEVER touches the
    // source (no recompute path even exists). The scenario makes the
    // deletes hit EVERY group (k % 9 — a min/max view would re-derive
    // ~all of them): build off v1, then ONE refresh folds an append
    // (v2) AND the scattered-delete merge (v3), then a nothing-new
    // refresh commits nothing. Moments ride exact through DECIMAL
    // (sum and sum-of-squares both), cast to double only in the final
    // derivation; the oracle recomputes both snapshots from scratch
    // with the same formulas.
    Query("x142i_stats_view",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey % 20 AS g,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |fin AS (SELECT * FROM a WHERE k % 9 <> 4),
             |v1 AS (SELECT g, sum(p) AS s,
             |    sum(CAST(p AS DECIMAL(20,4)) * p) AS q, count(*) AS n
             |  FROM a WHERE k % 10 <> 7 GROUP BY g),
             |v2 AS (SELECT g, sum(p) AS s,
             |    sum(CAST(p AS DECIMAL(20,4)) * p) AS q, count(*) AS n
             |  FROM fin GROUP BY g),
             |lab AS (SELECT 'v1_initial' AS version, * FROM v1
             |  UNION ALL SELECT 'v2_incremental', * FROM v2)
             |SELECT version, g, n AS n_rows, CAST(s AS DOUBLE) AS total,
             |  round(CAST(s AS DOUBLE) / n, 6) AS avg_m,
             |  round(sqrt(CAST(q AS DOUBLE) / n
             |    - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)),
             |    6) AS std_m
             |FROM lab ORDER BY version, g""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142i_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          (col("o_custkey") % 20).as("g"), priceDec("o_totalprice").as("p"))
        ss.commitOverwrite("t", src.filter(col("k") % 10 =!= 7))  // v1
        val vInit = CdcOps.refreshStatsView(ss, "t", "v", Seq("g"), "p")
        require(vInit == 1L, s"initial build must be view v1, got $vInit")
        ss.commitAppend("t", src.filter(col("k") % 10 === 7))     // v2
        val target = src.filter(col("k") % 9 =!= 4)
        ss.commitMerge("t", "k",                                  // v3
          CdcOps.snapshotDiff(src, target, "k", Seq("g", "p"))
            .filter(col("change_type") =!= "unchanged"))
        val vIncr = CdcOps.refreshStatsView(ss, "t", "v", Seq("g"), "p")
        require(vIncr == 2L,
          s"one refresh must fold append + deletes as view v2, got $vIncr")
        val vNoop = CdcOps.refreshStatsView(ss, "t", "v", Seq("g"), "p")
        require(vNoop == 2L && ss.currentVersion("v") == 2L,
          "nothing-new refresh must commit nothing")
        def shaped(label: String, agg: DataFrame): DataFrame = {
          val s = col("sum_m").cast("double")
          agg.select(lit(label).as("version"), col("g"),
            col("n_rows"), s.as("total"),
            round(s / col("n_rows"), 6).as("avg_m"),
            round(sqrt(col("sumsq_m").cast("double") / col("n_rows")
              - (s / col("n_rows")) * (s / col("n_rows"))), 6).as("std_m"))
        }
        shaped("v1_initial", ss.readTableVersion("v", 1L, "agg"))
          .unionByName(shaped("v2_incremental", ss.readTable("v", "agg")))
          .orderBy("version", "g")
      }),

    // X142f: incrementally-maintained APPROX-DISTINCT view (bound
    // contract) — per-bucket Datasketches HLL sketches built off v1 and
    // MERGED (hll_union) with two appended batches in one refresh; the
    // estimate must land within 5% of the EXACT per-bucket distinct
    // count (HLL lgK=12 rsd ≈ 1.6%, wide margin), and the oracle pins
    // the bucket set with an all-true contract — the x7_distinct_bound
    // pattern for views. Redelivery must commit nothing (require).
    Query("x142f_distinct_view_bound",
      Some("""SELECT o_custkey % 10 AS bucket,
             |  CAST(1 AS BOOLEAN) AS within_bound
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142f_") { dir =>
        import graft.ops.CdcOps
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"),
          (col("o_custkey") % 10).as("bucket"))
        ss.commitOverwrite("t", src.filter(col("k") % 4 <= 1))   // v1
        require(CdcOps.refreshDistinctView(ss, "t", "v",
          Seq("bucket"), "cust") == 1L)
        ss.commitAppend("t", src.filter(col("k") % 4 === 2))     // v2
        ss.commitAppend("t", src.filter(col("k") % 4 === 3))     // v3
        require(CdcOps.refreshDistinctView(ss, "t", "v",
          Seq("bucket"), "cust") == 2L, "one refresh folds both appends")
        require(CdcOps.refreshDistinctView(ss, "t", "v",
          Seq("bucket"), "cust") == 2L && ss.currentVersion("v") == 2L,
          "redelivery refresh must commit nothing")
        val exact = ss.readCurrent("t").groupBy("bucket")
          .agg(countDistinct(col("cust")).as("exact_n"))
        CdcOps.distinctViewEstimate(ss, "v", Seq("bucket"))
          .join(exact, Seq("bucket"))
          .select(col("bucket"),
            (abs(col("approx_distinct") - col("exact_n")) <=
              col("exact_n") * 0.05).as("within_bound"))
          .orderBy("bucket")
      }),

    // X142l: EXACT incrementally-maintained COUNT(DISTINCT) view WITH
    // delete support — the aggregate the HLL view refuses deletes for
    // (x142f) and no invertible fold can serve: per-(bucket, key)
    // SUPPORT rides an append-only bucketed sub, and only 0→+ births /
    // +→0 deaths move the served count. The run: build off the keyed
    // corpus → a FULL duplicate append folds with ZERO transitions
    // (require-pinned — pure support churn must cost no distinct work)
    // → deleting the duplicates back again folds with ZERO transitions
    // (require-pinned) → a delete-vector commit killing century-0 keys
    // entirely recomputes EXACTLY the dead pairs (require-pinned to the
    // per-bucket pair count) → compaction folds the support state
    // without changing the serving rows. Output = the view at the
    // round-trip version (time-traveled) + after the deaths; the
    // oracle recomputes both COUNT(DISTINCT)s from the raw table.
    Query("x142l_distinct_view_exact",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey % 10 AS g,
             |    o_orderkey // 100 AS u FROM orders),
             |lab AS (SELECT 'v3_roundtrip' AS version, g, u FROM a
             |  UNION ALL SELECT 'v4_after_deaths', g, u FROM a
             |  WHERE k >= 100)
             |SELECT version, g, count(DISTINCT u) AS n_distinct
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, g""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142l_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          (col("o_custkey") % 10).as("g"),
          expr("o_orderkey div 100").as("u"))
        val maxK = src.agg(max("k")).head().getLong(0)
        ss.commitOverwriteKeyed("t", "k", src, numFiles = 16)    // v1
        require(CdcOps.refreshExactDistinctView(ss, "t", "v",
          Seq("g"), "u") == ((1L, 0L)))
        // a FULL duplicate of the corpus under fresh keys: every
        // (g, u) pair already exists — support-only, zero transitions
        ss.commitAppend("t", src.select((col("k") + maxK + 1L).as("k"),
          col("g"), col("u")))                                   // v2
        require(CdcOps.refreshExactDistinctView(ss, "t", "v",
          Seq("g"), "u") == ((2L, 0L)),
          "a whole-corpus duplicate must fold with ZERO transitions")
        // …and deleting the duplicates back: still zero transitions
        ss.commitDeleteKeys("t", src.select(
          (col("k") + maxK + 1L).as("k")))                       // v3
        require(CdcOps.refreshExactDistinctView(ss, "t", "v",
          Seq("g"), "u") == ((3L, 0L)),
          "deleting the duplicates must fold with ZERO transitions")
        // century-0 keys die ENTIRELY (u = 0 ⟺ k < 100, so every
        // (g, 0) pair loses its whole support)
        val deadPairs = src.filter(col("u") === 0L)
          .select("g").distinct().count()
        ss.commitDeleteKeys("t",
          src.filter(col("k") < 100L).select("k"))               // v4
        val (v4, moves) = CdcOps.refreshExactDistinctView(ss, "t", "v",
          Seq("g"), "u")
        require(v4 == 4L && moves == deadPairs,
          s"exactly the $deadPairs dead (g, 0) pairs must transition, " +
            s"got $moves")
        // compaction folds the support deltas; serving rows unchanged
        CdcOps.compactDistinctViewExact(ss, "v", Seq("g"), "u")
        def shaped(label: String, v: Long) =
          CdcOps.exactDistinctOf(ss, "v", Seq("g"), Some(v))
            .select(lit(label).as("version"), col("g"), col("n_distinct"))
        shaped("v3_roundtrip", 3L)
          .unionByName(shaped("v4_after_deaths", 4L))
          .orderBy("version", "g")
      }),

    // X142m: incrementally-maintained SCD TYPE-2 dimension history —
    // validity intervals in source-version coordinates, APPEND-ONLY
    // state (a refresh never rewrites history). The run: build off the
    // keyed corpus → ONE refresh folds a CoW reprice commit AND a
    // delete-vector commit (require-pinned to the exact event count:
    // close+open per update, close per delete) → the intervals ALONE
    // reconstruct every source version's content — the output derives
    // all three snapshots from scd2Of (no readVersion), hash-matched
    // against the oracle's direct recomputations.
    Query("x142m_scd2_view",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |v1 AS (SELECT * FROM a WHERE k % 10 <> 7),
             |v2 AS (SELECT k, cust, CASE WHEN k % 10 = 3
             |      THEN CAST(round(p * 1.05, 2) AS DECIMAL(18,4))
             |      ELSE p END AS p FROM v1),
             |v3 AS (SELECT * FROM v2 WHERE k % 10 <> 5),
             |lab AS (SELECT 'asof_v1' AS version, k, cust, p FROM v1
             |  UNION ALL SELECT 'asof_v2', k, cust, p FROM v2
             |  UNION ALL SELECT 'asof_v3', k, cust, p FROM v3)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  min(k) AS min_k, max(k) AS max_k,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1)) AS BIGINT) AS fp
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142m_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val base = src.filter(col("k") % 10 =!= 7)
        ss.commitOverwriteKeyed("t", "k", base, numFiles = 16)   // v1
        require(CdcOps.refreshScd2View(ss, "t", "v", "k") == ((1L, 0L)))
        // v2: CoW reprice of bucket 3 (update = close+open per key)
        val target = base.withColumn("p",
          when(col("k") % 10 === 3,
            round(col("p") * lit(new java.math.BigDecimal("1.05")), 2)
              .cast("decimal(18,4)")).otherwise(col("p")))
        ss.commitMergeCow("t", "k",
          CdcOps.snapshotDiff(base, target, "k", Seq("cust", "p"))
            .filter(col("change_type") =!= "unchanged"))
        // v3: bucket 5 dies via a delete VECTOR (merge-on-read — the
        // changelog still names every deleted payload row)
        ss.commitDeleteKeys("t",
          base.filter(col("k") % 10 === 5).select("k"))
        val n3 = base.filter(col("k") % 10 === 3).count()
        val n5 = base.filter(col("k") % 10 === 5).count()
        val (vv, events) = CdcOps.refreshScd2View(ss, "t", "v", "k")
        require(vv == 2L && events == 2 * n3 + n5,
          s"one refresh must fold both commits to exactly " +
            s"${2 * n3 + n5} events, got $events")
        // every snapshot reconstructs from the INTERVALS alone
        val iv = CdcOps.scd2Of(ss, "v").localCheckpoint()
        def asOf(label: String, v: Long): DataFrame =
          shapedBucketsLabeled(label, iv.filter(col("valid_from_v") <= v &&
            (col("valid_to_v").isNull || col("valid_to_v") > v))
            .select("k", "cust", "p"))
        val out = asOf("asof_v1", 1L).unionByName(asOf("asof_v2", 2L))
          .unionByName(asOf("asof_v3", 3L)).orderBy("version", "bucket")
        val rows = out.collect().toSeq
        graft.ops.RelOps.releaseCheckpoint(iv)
        import scala.jdk.CollectionConverters._
        env.spark.createDataFrame(rows.asJava, out.schema)
      }),

    // X142n (r16): SCD2 HISTORY COMPACTION — closes the r15 verdict's
    // unbounded-read-cost gap: without it scd2Of rank-pairs EVERY
    // historical event per read, so months of churn make each PIT read
    // O(all-history). compactScd2View seals the paired CLOSED
    // intervals into a bucketed `sealed` sub (APPEND-only — history
    // never rewrites, require-pinned via the sub's own changelog),
    // resets the event subs to the open tail (require-pinned: closes
    // EMPTY, opens = live keys), and preserves content EXACTLY —
    // every as-of snapshot reconstructs identically across TWO
    // compactions interleaved with folds (update batch, vector
    // deletes, post-compaction re-births). The second compaction
    // appends exactly the newly-closed intervals (require-pinned
    // count). Oracle = the four source snapshots derived in SQL.
    Query("x142n_scd2_compact",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |v1 AS (SELECT * FROM a WHERE k % 10 <> 7),
             |v2 AS (SELECT k, cust, CASE WHEN k % 10 = 3
             |      THEN CAST(round(p * 1.05, 2) AS DECIMAL(18,4))
             |      ELSE p END AS p FROM v1),
             |v3 AS (SELECT * FROM v2 WHERE k % 10 <> 5),
             |v4 AS (SELECT * FROM v3
             |  UNION ALL SELECT k, cust, p FROM a WHERE k % 10 = 7),
             |lab AS (SELECT 'asof_v1' AS version, k, cust, p FROM v1
             |  UNION ALL SELECT 'asof_v2', k, cust, p FROM v2
             |  UNION ALL SELECT 'asof_v3', k, cust, p FROM v3
             |  UNION ALL SELECT 'asof_v4', k, cust, p FROM v4)
             |SELECT version, cust % 10 AS bucket, count(*) AS n,
             |  CAST(sum(p) AS DOUBLE) AS total,
             |  min(k) AS min_k, max(k) AS max_k,
             |  CAST(sum(((k * 1009 + cust) % 1000003) *
             |    (CAST(p * 10000 AS BIGINT) % 1000003 + 1)) AS BIGINT) AS fp
             |FROM lab GROUP BY 1, 2
             |ORDER BY version, bucket""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142n_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val src = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val base = src.filter(col("k") % 10 =!= 7)
        ss.commitOverwriteKeyed("t", "k", base, numFiles = 16)    // v1
        require(CdcOps.refreshScd2View(ss, "t", "v", "k") == ((1L, 0L)))
        // v2: CoW reprice of bucket 3; fold it
        val target = base.withColumn("p",
          when(col("k") % 10 === 3,
            round(col("p") * lit(new java.math.BigDecimal("1.05")), 2)
              .cast("decimal(18,4)")).otherwise(col("p")))
        ss.commitMergeCow("t", "k",
          CdcOps.snapshotDiff(base, target, "k", Seq("cust", "p"))
            .filter(col("change_type") =!= "unchanged"))
        val n3 = base.filter(col("k") % 10 === 3).count()
        val n5 = base.filter(col("k") % 10 === 5).count()
        val n7 = src.filter(col("k") % 10 === 7).count()
        require(CdcOps.refreshScd2View(ss, "t", "v", "k")
          == ((2L, 2 * n3)))
        // FIRST compaction: seals the repriced keys' closed intervals,
        // resets the event subs to the open tail
        val vC1 = CdcOps.compactScd2View(ss, "v")                 // view v3
        require(ss.readTable("v", "closes").isEmpty,
          "every close pairs — the closes sub must reset to empty")
        require(ss.readTable("v", "sealed").count() == n3 &&
          ss.readTable("v", "opens").count() == base.count(),
          "sealed = the repriced intervals; opens = the live keys")
        // v3 src: bucket 5 dies via a delete VECTOR; v4 src: bucket 7
        // re-born through a vector-ABSORBING CoW merge (X141w — a plain
        // append is refused while a vector is active) — ONE catch-up
        // refresh folds both onto the COMPACTED layout (rank alignment
        // across the seal, require-pinned count)
        ss.commitDeleteKeys("t",
          base.filter(col("k") % 10 === 5).select("k"))
        val cur3 = ss.readCurrent("t") // logical v3, vector applied
        ss.commitMergeCow("t", "k",
          CdcOps.snapshotDiff(cur3,
            cur3.unionByName(src.filter(col("k") % 10 === 7)),
            "k", Seq("cust", "p"))
            .filter(col("change_type") =!= "unchanged"))
        require(CdcOps.refreshScd2View(ss, "t", "v", "k")
          == ((4L, n5 + n7)))
        // SECOND compaction: appends EXACTLY the newly-closed intervals
        val sealedBefore = ss.readTable("v", "sealed").count()
        val vC2 = CdcOps.compactScd2View(ss, "v")
        require(ss.readTable("v", "sealed").count() == sealedBefore + n5,
          "the second seal must append exactly the vector-died intervals")
        require(ss.changesBetweenTable("v", "sealed", vC2 - 1, vC2)
          .filter(col("_change") === "delete").isEmpty,
          "sealed history must never rewrite")
        // every snapshot reconstructs from the compacted intervals
        val iv = CdcOps.scd2Of(ss, "v").localCheckpoint()
        def asOf(label: String, v: Long): DataFrame =
          shapedBucketsLabeled(label, iv.filter(col("valid_from_v") <= v &&
            (col("valid_to_v").isNull || col("valid_to_v") > v))
            .select("k", "cust", "p"))
        val out = asOf("asof_v1", 1L).unionByName(asOf("asof_v2", 2L))
          .unionByName(asOf("asof_v3", 3L)).unionByName(asOf("asof_v4", 4L))
          .orderBy("version", "bucket")
        val rows = out.collect().toSeq
        graft.ops.RelOps.releaseCheckpoint(iv)
        import scala.jdk.CollectionConverters._
        env.spark.createDataFrame(rows.asJava, out.schema)
      }),

    // X142c: exactly-once incremental JOIN view — V = orders ⋈ customer
    // maintained by CdcOps.refreshJoinView: each side's touched keys come
    // from ITS changelog since the view's watermark PAIR, only touched
    // view rows are repaired (maintainJoinView), and the repaired view
    // commits with BOTH consumed watermarks as one atomic version. The
    // run: initial view, then THREE source commits across BOTH sides
    // (fact append + fact merge with deletes/updates + dimension merge
    // re-segmenting every 13th customer) folded by ONE refresh, then a
    // no-op redelivery. Both view versions read back (v1 time-traveled),
    // rolled up per segment with exact decimal sums — the oracle derives
    // both joins from scratch.
    Query("x142c_incremental_join_view",
      Some("""WITH a AS (SELECT o_orderkey AS k, o_custkey AS cust,
             |    CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders),
             |c AS (SELECT c_custkey AS cust, c_mktsegment AS seg
             |  FROM customer),
             |a1 AS (SELECT * FROM a WHERE k % 10 <> 7),
             |a2 AS (SELECT k, cust, CASE WHEN k % 10 = 3
             |      THEN CAST(round(p * 1.05, 2) AS DECIMAL(18,4))
             |      ELSE p END AS p
             |  FROM a WHERE k % 10 <> 5),
             |c2 AS (SELECT cust, CASE WHEN cust % 13 = 0 THEN 'MOVED'
             |    ELSE seg END AS seg FROM c),
             |v1 AS (SELECT 'v1_initial' AS version, seg, count(*) AS n,
             |    CAST(sum(p) AS DOUBLE) AS total
             |  FROM a1 JOIN c USING (cust) GROUP BY seg),
             |v2 AS (SELECT 'v2_incremental', seg, count(*),
             |    CAST(sum(p) AS DOUBLE)
             |  FROM a2 JOIN c2 USING (cust) GROUP BY seg)
             |SELECT * FROM v1 UNION ALL SELECT * FROM v2
             |ORDER BY version, seg""".stripMargin),
      env => withTempTableSummary(env.spark, "graft_x142c_") { dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val a = env.orders.select(col("o_orderkey").as("k"),
          col("o_custkey").as("cust"), priceDec("o_totalprice").as("p"))
        val aTgt = a.filter(col("k") % 10 =!= 5)
          .select(col("k"), col("cust"),
            when(col("k") % 10 === 3,
                round(col("p") * lit(new java.math.BigDecimal("1.05")), 2))
              .otherwise(col("p")).cast("decimal(18,4)").as("p"))
        val b = env.customer.select(col("c_custkey").as("cust"),
          col("c_mktsegment").as("seg"))
        val b2 = b.select(col("cust"), when(col("cust") % 13 === 0, "MOVED")
          .otherwise(col("seg")).as("seg"))
        ss.commitOverwrite("a", a.filter(col("k") % 10 =!= 7))
        ss.commitOverwrite("b", b)
        val v0 = CdcOps.refreshJoinView(ss, "a", "b", "v", "k", "cust")
        require(v0 == 1L, s"initial join view must be v1, got v$v0")
        ss.commitAppend("a", a.filter(col("k") % 10 === 7))
        ss.commitMerge("a", "k",
          CdcOps.snapshotDiff(a, aTgt, "k", Seq("cust", "p"))
            .filter(col("change_type") =!= "unchanged"))
        ss.commitMerge("b", "cust",
          CdcOps.snapshotDiff(b, b2, "cust", Seq("seg"))
            .filter(col("change_type") =!= "unchanged"))
        val v1 = CdcOps.refreshJoinView(ss, "a", "b", "v", "k", "cust")
        require(v1 == 2L, s"incremental refresh must land v2, got v$v1")
        require(CdcOps.refreshJoinView(ss, "a", "b", "v", "k", "cust") == 2L
            && ss.currentVersion("v") == 2L,
          "redelivery refresh must commit nothing")
        def roll(label: String, df: DataFrame): DataFrame =
          df.groupBy("seg").agg(count(lit(1)).as("n"),
              sum(col("p")).cast("double").as("total"))
            .select(lit(label).as("version"), col("seg"), col("n"),
              col("total"))
        roll("v1_initial", ss.readTableVersion("v", 1L, "view"))
          .unionByName(roll("v2_incremental", ss.readTable("v", "view")))
          .orderBy("version", "seg")
      })
  )
}
