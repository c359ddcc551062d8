package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators — pure `DataFrame => DataFrame` functions
  * (SURVEY §7.1 principle). Each mirrors a SURVEY §2 inventory row; the
  * reference expresses these in pandas/DuckDB/PostgreSQL, we restate them
  * Spark-first and let Catalyst handle pushdown/pruning/join strategy.
  */
object RelOps {

  /** A1 (reference dags/etl_elt_wine.py:423-428): group-by multi-aggregate
    * mean/median/std/min/max/count of `valueCol` per `groupCol`. pandas
    * `median` is the exact interpolated 50th percentile → Spark exact
    * `percentile` (a TypedImperativeAggregate, NOT percentile_approx);
    * pandas `std` is ddof=1 → `stddev_samp`. Doubles rounded to 6 so the
    * oracle hash is insensitive to float association order (SURVEY §5.2).
    *
    * Scale note: single shuffle on groupCol with map-side partial aggs for
    * all but `percentile` (which buffers per-group values — at 100 TB swap
    * in `percentile_approx` where exactness is negotiable).
    */
  def groupStats(groupCol: String, valueCol: String)(df: DataFrame): DataFrame =
    df.groupBy(groupCol).agg(
      round(avg(valueCol), 6).as("mean_v"),
      round(percentile(col(valueCol), lit(0.5)), 6).as("median_v"),
      round(stddev_samp(valueCol), 6).as("std_v"),
      min(valueCol).as("min_v"),
      max(valueCol).as("max_v"),
      count(lit(1)).as("n"))

  /** P4 (reference dags/etl_elt_wine.py:185-188): derived boolean flag. */
  def deriveFlag(name: String, predicate: Column)(df: DataFrame): DataFrame =
    df.withColumn(name, predicate)

  /** S6 (reference dags/etl_elt_wine.py:214-217): idempotent keyed append —
    * `INSERT OR IGNORE ... BY NAME`: keep existing row on PK conflict,
    * align columns by name. Restated as: dedup incoming on key, anti-join
    * against existing keys, canonicalize column order (O2).
    *
    * Scale note: the anti-join shuffles on the key; with a bucketed/
    * partitioned existing table Catalyst prunes to matching buckets, and
    * AQE picks broadcast when the incoming batch is small.
    */
  def newRowsOnly(existing: DataFrame, key: String)(incoming: DataFrame): DataFrame = {
    val target = existing.columns.toSeq
    incoming
      .dropDuplicates(key)
      .join(existing.select(key), Seq(key), "left_anti")
      .select(target.map(col): _*)
  }

  /** X8: union with by-name column alignment, absent columns null-filled
    * (the two reference stores hold schema-divergent copies — SURVEY §2.4). */
  def unionByNameLoose(other: DataFrame)(df: DataFrame): DataFrame =
    df.unionByName(other, allowMissingColumns = true)

  /** X5: top-N rows per group. Deterministic via explicit tiebreak columns.
    * Single shuffle on the partition keys; no global sort. */
  def topNPerGroup(n: Int, partCols: Seq[String], orderCols: Seq[Column])(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** X6: global top-k. Spark plans TakeOrderedAndProject — per-partition
    * heap + driver merge of k·numPartitions rows, never a full sort. */
  def topK(k: Int, orderCols: Seq[Column])(df: DataFrame): DataFrame =
    df.orderBy(orderCols: _*).limit(k)

  /** Global row number WITHOUT the single-partition trap: a bare
    * `Window.orderBy(...)` plans every row into ONE partition (Spark even
    * warns), which is exactly what dies at 100 TB. Instead: range-partition
    * on the sort key, sort within partitions (together = total order across
    * ascending partition ids), then `zipWithIndex` — which runs one
    * lightweight count job for the per-partition offsets and never moves
    * data again. Deterministic when `sortCols` form a unique key: the rank
    * of a row is order-defined regardless of where the sampled range
    * boundaries land.
    *
    * Cost: one range shuffle + one count job + the Row round-trip of
    * `df.rdd` (off the codegen path — acceptable for rank assignment;
    * downstream plans re-enter codegen from the returned frame). */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
                      rnCol: String = "rn"): DataFrame = {
    require(!df.columns.contains(rnCol),
      s"globalRowNumber: input already has a '$rnCol' column; pass a distinct rnCol")
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val out = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(out,
      sorted.schema.add(rnCol, org.apache.spark.sql.types.LongType,
        nullable = false))
  }

  /** Distributed running total (prefix sum) of `valCol` in `sortCols`
    * order, WITHOUT the single-partition trap a bare
    * `Window.orderBy(...).rowsBetween(unboundedPreceding, currentRow)`
    * plans (all rows into one task — dead at 100 TB). Classic two-pass
    * scan instead: range-partition on the sort key and sort within
    * partitions (= total order across ascending partition ids), take
    * per-partition totals (ONE row per partition — the only thing that
    * touches the driver), broadcast their exclusive prefix back as a
    * per-partition offset, and add it to a per-partition running window
    * (partitioned by partition id — even-sized, no hot key).
    *
    * Deterministic when `sortCols` form a unique key. The input is
    * localCheckpoint-pinned so the partition ids seen by the totals pass
    * and the window pass are the same physical partitions; CALLER
    * OBLIGATION (as with connectedComponents): release via
    * `RelOps.releaseCheckpoint` after consuming the result. */
  def globalCumSum(df: DataFrame, sortCols: Seq[Column], valCol: String,
                   out: String): DataFrame = {
    require(!df.columns.contains(out),
      s"globalCumSum: input already has a '$out' column; pass a distinct name")
    require(!df.columns.contains("__pid") && !df.columns.contains("__off"),
      "globalCumSum: input must not already have '__pid'/'__off' columns")
    val spark = df.sparkSession
    import spark.implicits._
    val sorted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .localCheckpoint()
    val totals = sorted
      .groupBy(spark_partition_id().as("__pid"))
      .agg(coalesce(sum(col(valCol).cast("long")), lit(0L)).as("__s"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    // exclusive prefix of the per-partition totals = each partition's offset
    val offsets = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, s)) =>
      (pid, acc + s)
    }.tail.zip(totals).map { case ((pid, cum), (_, s)) => (pid, cum - s) }
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val w = Window.partitionBy("__pid").orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sorted.withColumn("__pid", spark_partition_id())
      .join(broadcast(offDf), Seq("__pid"))
      .withColumn(out,
        // coalesce: a leading run of null values gives a null window sum;
        // those rows carry the running total unchanged (offset alone)
        coalesce(sum(col(valCol).cast("long")).over(w), lit(0L)) + col("__off"))
      .drop("__pid", "__off")
  }

  /** Skew-resilient equi join: salts the skewed (left) side's key with a
    * random suffix in [0, salt) and explodes the build side across all
    * salt values, so one hot key spreads over `salt` reducers. AQE's
    * runtime skew splitting usually suffices (GraftSession enables it);
    * explicit salting is for the cases AQE can't fix — e.g. a single key
    * holding >1 partition's worth of build rows. Semantics = plain inner
    * equi join (spec-verified). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salt: Int): DataFrame = {
    val saltCol = "__graft_salt"
    require(!left.columns.contains(saltCol) && !right.columns.contains(saltCol),
      s"saltedJoin: inputs must not already have a '$saltCol' column")
    val saltedLeft = left.withColumn(saltCol,
      (rand(42) * salt).cast("int"))
    val saltedRight = right.withColumn(saltCol,
      explode(sequence(lit(0), lit(salt - 1))))
    saltedLeft.join(saltedRight, Seq(key, saltCol), "inner").drop(saltCol)
  }

  /** Release the storage blocks of EVERY localCheckpoint the frame's plan
    * references. Dataset.unpersist is a no-op here — checkpoint blocks
    * belong to the internal RDD wrapped in a LogicalRDD node, never
    * registered with the CacheManager — so a long-running caller would
    * accumulate blocks until driver GC.
    *
    * ONLY call this after every consumer of every checkpoint reachable
    * from the argument has executed. That "every reachable" is load-
    * bearing: because the whole tree is walked, releasing one frame
    * derived from a shared checkpoint (e.g. two branches over one
    * connectedComponents result) kills the OTHER branch too — a
    * checkpoint truncates lineage, so the sibling's next action fails
    * with missing blocks rather than recomputing.
    * Query-builder functions that RETURN a plan over a
    * checkpoint (minhashNearDups etc.) must not release it — the caller
    * hasn't run the plan yet; those blocks live until driver GC or
    * session end, the accepted cost of intra-query reuse (at cluster
    * scale: persist to a table instead, per the SimilarityOps docs). */
  def releaseCheckpoint(df: DataFrame): Unit =
    // Walk the WHOLE analyzed tree, not just the root: frames derived from
    // a checkpointed input (globalCumSum's result, anything built on a
    // connectedComponents output) carry the LogicalRDD somewhere below
    // projections/joins, and a root-only match silently released nothing —
    // measured as monotonically growing probe times as leaked blocks
    // accumulated across iterations.
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }

  /** A one-row all-LONG frame as a LocalRelation — the watermark/meta
    * row every view refresh commits. Built via createDataFrame (not
    * range(1).select(lit…), whose optimized plan stays a Range) so the
    * staging side can recognize it as driver-held rows and write the
    * parquet WITHOUT a Spark job (SnapshotStore's driver-side staging —
    * a 1-row metadata write was paying a full job launch + commit
    * protocol per view commit). */
  def localLongRow(spark: org.apache.spark.sql.SparkSession,
      cols: (String, Long)*): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(cols.map(_._2): _*)).asJava,
      org.apache.spark.sql.types.StructType(cols.map { case (n, _) =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.LongType, nullable = false) }))
  }

  /** S4b: stratified sample — per-stratum Bernoulli fractions (seeded),
    * the class-rebalancing primitive of a training-data pipeline (e.g.
    * downsample the dominant language/label, keep the long tail whole).
    * One narrow pass; no shuffle: each row's keep-decision depends only on
    * its stratum's fraction and the seeded hash. Strata absent from the
    * map are dropped (fraction 0), matching df.stat.sampleBy. */
  def stratifiedSample(keyCol: String, fractions: Map[Any, Double],
                       seed: Long)(df: DataFrame): DataFrame =
    df.stat.sampleBy(keyCol, fractions, seed)

  /** Deterministic weighted sample WITHOUT replacement (Efraimidis-
    * Spirakis A-ES): each row draws an exponential priority
    * p = -ln(u) / w from a HASH-uniform u ∈ (0,1) on its key (md5
    * prefix — reproducible across engines, reruns, and task retries,
    * where rand(seed) depends on partition layout), and the k SMALLEST
    * priorities win — inclusion probability ∝ weight for k ≪ n, the
    * quality-weighted corpus subsample shape. One TakeOrderedAndProject
    * (per-partition heaps, k rows leave each partition, no global
    * sort). Weights must be > 0 (a zero weight divides to infinity and
    * simply never wins; negatives are the caller's bug). Returns the
    * sampled rows plus their `priority` column. */
  def weightedSample(k: Int, keyCol: String, weightCol: Column)(df: DataFrame): DataFrame = {
    val v = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val u = (v + lit(0.5)) / lit(4294967296.0)
    val scored = df.withColumn("priority", -log(u) / weightCol.cast("double"))
    topK(k, Seq(col("priority"), col(keyCol)))(scored)
  }

  /** X4b as-of join, merge formulation — the 100 TB shape. Union both
    * sides, one window pass per key ordered by (time, side, right-id):
    * each left row reads the latest preceding right row via
    * last(ignoreNulls) over an unbounded-preceding frame. ONE shuffle on
    * the key and zero row multiplication, vs the range-join formulation
    * whose intermediate is |matches| per left row. Rights sort before
    * lefts at equal time (inclusive <=); ties among rights break to the
    * largest rightId. Returns (leftId, asof_id, asof_ts); inner semantics
    * (lefts with no preceding right drop out). */
  def asOfJoinMerge(left: DataFrame, right: DataFrame, joinKey: String,
                    leftId: String, leftTime: String, rightTime: String,
                    rightId: String): DataFrame = {
    val rv = "struct<ts:timestamp,id:bigint>"
    val l = left.select(col(joinKey).as("k"), col(leftTime).as("t"),
      lit(1).as("side"), col(leftId).as("lid"), lit(null).cast(rv).as("rv"))
    val r = right.select(col(joinKey).as("k"), col(rightTime).as("t"),
      lit(0).as("side"), lit(null).cast("bigint").as("lid"),
      struct(col(rightTime).as("ts"), col(rightId).as("id")).as("rv"))
    val w = Window.partitionBy("k")
      .orderBy(col("t"), col("side"), col("rv.id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("asof", last(col("rv"), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("asof").isNotNull)
      .select(col("lid").as(leftId), col("asof.id").as("asof_id"),
        col("asof.ts").as("asof_ts"))
  }

  /** Forward as-of join (merge formulation): for each left row the
    * EARLIEST right row with rightTime >= leftTime — the mirror of
    * asOfJoinMerge with the same one-shuffle/zero-multiplication shape.
    * Rights sort AFTER lefts at equal time (inclusive >=); ties among
    * rights break to the SMALLEST rightId. Inner semantics. */
  def asOfJoinMergeForward(left: DataFrame, right: DataFrame, joinKey: String,
                           leftId: String, leftTime: String, rightTime: String,
                           rightId: String): DataFrame = {
    val rv = "struct<ts:timestamp,id:bigint>"
    val l = left.select(col(joinKey).as("k"), col(leftTime).as("t"),
      lit(0).as("side"), col(leftId).as("lid"), lit(null).cast(rv).as("rv"))
    val r = right.select(col(joinKey).as("k"), col(rightTime).as("t"),
      lit(1).as("side"), lit(null).cast("bigint").as("lid"),
      struct(col(rightTime).as("ts"), col(rightId).as("id")).as("rv"))
    val w = Window.partitionBy("k")
      .orderBy(col("t"), col("side"), col("rv.id").asc_nulls_first)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    l.unionByName(r)
      .withColumn("asof", first(col("rv"), ignoreNulls = true).over(w))
      .filter(col("side") === 0 && col("asof").isNotNull)
      .select(col("lid").as(leftId), col("asof.id").as("asof_id"),
        col("asof.ts").as("asof_ts"))
  }

  /** Nearest as-of join: for each left row the right row with the smallest
    * |rightTime − leftTime|, preferring the BACKWARD match on equal gap
    * (pandas merge_asof direction='nearest' semantics). BOTH direction
    * picks ride ONE exchange: the union frame computes last-preceding and
    * first-following over the same key window (rights sort before lefts at
    * equal time, so a same-time right is classified backward — gap 0,
    * backward-preferred either way). Tie rules per side match the
    * dedicated variants: backward → largest id, forward → smallest id. */
  def asOfJoinMergeNearest(left: DataFrame, right: DataFrame, joinKey: String,
                           leftId: String, leftTime: String, rightTime: String,
                           rightId: String): DataFrame = {
    val rv = "struct<ts:timestamp,id:bigint>"
    val l = left.select(col(joinKey).as("k"), col(leftTime).as("t"),
      lit(1).as("side"), col(leftId).as("lid"), lit(null).cast(rv).as("rv"))
    val r = right.select(col(joinKey).as("k"), col(rightTime).as("t"),
      lit(0).as("side"), lit(null).cast("bigint").as("lid"),
      struct(col(rightTime).as("ts"), col(rightId).as("id")).as("rv"))
    val base = Window.partitionBy("k")
      .orderBy(col("t"), col("side"), col("rv.id").asc_nulls_first)
    val prevW = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // forward ties among rights must break to the SMALLEST id, but the
    // shared ordering walks ids ascending — first() over the following
    // frame picks the smallest anyway
    val nextW = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val gapPrev = unix_micros(col("t")) - unix_micros(col("prev.ts"))
    val gapNext = unix_micros(col("next.ts")) - unix_micros(col("t"))
    l.unionByName(r)
      .withColumn("prev", last(col("rv"), ignoreNulls = true).over(prevW))
      .withColumn("next", first(col("rv"), ignoreNulls = true).over(nextW))
      .filter(col("side") === 1 &&
        (col("prev").isNotNull || col("next").isNotNull))
      .withColumn("asof",
        when(col("next").isNull, col("prev"))
          .when(col("prev").isNull, col("next"))
          .when(gapPrev <= gapNext, col("prev"))
          .otherwise(col("next")))
      .select(col("lid").as(leftId), col("asof.id").as("asof_id"),
        col("asof.ts").as("asof_ts"))
  }

  /** X127: point-in-time (PIT) join against an SCD2 dimension — for every
    * fact row, the dimension VERSION effective at the fact's timestamp
    * (valid_from <= ts, latest such version). The feature-store primitive
    * that prevents training-serving skew: features joined as-of event
    * time, never leaking a later version.
    *
    * Merge formulation (the asOfJoinMerge shape, generalized to carry an
    * arbitrary payload struct): facts and versions union into ONE window
    * pass per key — versions sort before facts at equal time (inclusive
    * <=), each fact reads the latest preceding payload via
    * last(ignoreNulls). One shuffle on the key, ZERO row multiplication —
    * the BETWEEN interval join's intermediate is |versions| candidates
    * per fact before its filter; this never widens. Facts before their
    * key's first version drop (inner semantics). Requires (key,
    * validFrom) unique — which an SCD2 builder guarantees — and fact/
    * version time columns of the same type.
    *
    * Returns every fact column plus `payloadCols` from the picked
    * version. */
  def pitJoin(facts: DataFrame, dim: DataFrame, key: String,
              factTs: String, validFrom: String,
              payloadCols: Seq[String]): DataFrame = {
    val pv = struct(payloadCols.map(col): _*)
    val pvType = dim.select(pv.as("__pv")).schema("__pv").dataType
    val fv = struct(facts.columns.map(col): _*)
    val fvType = facts.select(fv.as("__fv")).schema("__fv").dataType
    val f = facts.select(col(key).as("__k"), col(factTs).as("__t"),
      lit(1).as("__side"), fv.as("__fv"), lit(null).cast(pvType).as("__pv"))
    val d = dim.select(col(key).as("__k"), col(validFrom).as("__t"),
      lit(0).as("__side"), lit(null).cast(fvType).as("__fv"),
      pv.as("__pv"))
    val w = Window.partitionBy("__k").orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    f.unionByName(d)
      .withColumn("__pick", last(col("__pv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1 && col("__pick").isNotNull)
      .select(facts.columns.map(c => col(s"__fv.$c").as(c)) ++
        payloadCols.map(c => col(s"__pick.$c").as(c)): _*)
  }

  /** X4b: as-of join — for each left row, the single latest right row of the
    * same key with rightTime <= leftTime. Composed from built-ins (SURVEY
    * §4.2 preference (a)): range join + per-left-row row_number. Tiebreaks
    * make the pick total. At 100 TB prefer asOfJoinMerge (no row
    * multiplication); this variant keeps full right-row payloads without a
    * second join.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, joinKey: String,
               leftId: String, leftTime: String, rightTime: String,
               rightTiebreak: String): DataFrame = {
    val l = left.alias("l")
    val r = right.alias("r")
    val joined = l.join(r,
      col(s"l.$joinKey") === col(s"r.$joinKey") &&
        col(s"r.$rightTime") <= col(s"l.$leftTime"),
      "inner")
    val w = Window.partitionBy(col(s"l.$leftId"))
      .orderBy(col(s"r.$rightTime").desc, col(s"r.$rightTiebreak").desc)
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** X78: bloom-join — exact left-semi join of `fact` against `dim`,
    * pre-filtered by a bloom filter of the dim keys (the classic
    * distributed-DB bloom join; Spark's InjectRuntimeFilter builds the
    * same shape automatically for eligible shuffle joins, this makes it
    * explicit and reusable).
    *
    * When the dim is too big to broadcast as a hash relation, a plain
    * semi-join shuffles the ENTIRE fact table. The bloom is ~1.2
    * bytes/key at 1% fpp — 100M dim keys ≈ 120 MB of plan metadata vs a
    * multi-GB hash relation — and is applied AT THE SCAN inside
    * whole-stage codegen (BloomMightContain expression), so only true
    * matches + the fpp sliver reach the exchange. The trailing semi-join
    * re-checks survivors exactly: false positives drop out, and the
    * result is bit-identical to the plain semi-join (oracle-checkable;
    * x78_bloom_bound pins the no-false-negative + fpp-band contract).
    *
    * Keys are canonicalized through xxhash64 on BOTH sides (build and
    * probe), so any key type works and the bloom only ever hashes longs.
    * dim.stat.bloomFilter aggregates distributed (treeAggregate of
    * per-partition sketches); the driver holds O(bloom bits), never
    * O(keys).
    */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                    dimKey: String, expectedItems: Long = 1000000L,
                    fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomMightContain
    val bf = dim.stat.bloomFilter(xxhash64(col(dimKey)), expectedItems, fpp)
    BloomMightContain.register(fact.sparkSession)
    val pre = fact.filter(BloomMightContain.bloom_might_contain(
      xxhash64(col(factKey)), bf))
    val keys = dim.select(col(dimKey).as("__graft_bk")).distinct()
    pre.join(keys, col(factKey) === col("__graft_bk"), "left_semi")
  }

  /** Scale-adaptive bucket count for a hash-bucketed view/index sub
    * (optimization guide §2: derive partitioning from input size, never
    * a constant tuned for one deployment): ~2M rows per bucket from the
    * BUILD snapshot, power-of-two, clamped to [8, 4096]. A tiny
    * dimension view stops paying a 32-file write/read constant on every
    * commit; a 10B-row corpus sub gets thousands of buckets. The choice
    * is made ONCE at build (bucket specs are immutable per sub — later
    * appends/compactions read the persisted spec), and every operator
    * keeps an explicit nBuckets override for deployments that know
    * their target size. */
  def adaptiveBuckets(rows: Long): Int = {
    val ideal = rows / 2000000L + (if (rows % 2000000L == 0) 0 else 1)
    var b = 8L
    while (b < ideal && b < 4096L) b <<= 1
    b.toInt
  }

  /** The space-filling Z-VALUE column behind the Z-ordered layout
    * (SnapshotStore.commitOverwriteZordered and the z-order re-clustering
    * of its rewrites): each cluster column maps to a 2^bits equi-depth bucket rank
    * (approxQuantile boundaries — skew cannot collapse buckets), the
    * bucket bits interleave into one long. One quantile action per
    * column at plan time (a tiny driver array of cuts); the bucket
    * sum-of-comparisons and shift/or interleave are codegen'd
    * expressions — no UDF. Numeric columns only; NULL ranks into
    * bucket 0. */
  def zValueColumn(df: DataFrame, zCols: Seq[String], bits: Int): Column = {
    require(zCols.size >= 2,
      "z-ordering needs >= 2 columns (use the single-key layout for one)")
    require(bits >= 1 && bits * zCols.size <= 62,
      s"bits=$bits x ${zCols.size} cols overflows a long")
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    // ONE quantile pass for every z-column (r19 optimization round —
    // guide §1.2): Spark's single-column approxQuantile is literally
    // approxQuantile(Array(col), ...).head, so the multi-column call
    // returns identical cuts while scanning df once instead of once per
    // column (measured: the z-merge family spent ~3.5 s/query in
    // per-column quantile jobs).
    val allCuts = df.select(zCols.map(col): _*).stat
      .approxQuantile(zCols.toArray, probs, 1.0 / (1 << (bits + 2)))
    zCols.zipWithIndex.map { case (c, ci) =>
      val cuts = allCuts(ci).distinct.sorted
      val bucket = coalesce(
        cuts.map(cut => (col(c).cast("double") >= lit(cut)).cast("long"))
          .reduce(_ + _), lit(0L))
      // bit i of this column's bucket lands at interleaved position
      // i * nCols + ci — adjacent z-values differ in low-order buckets
      // of EVERY column, which is what makes contiguous z-ranges cubes
      (0 until bits).map { i =>
        shiftleft(shiftright(bucket, i).bitwiseAND(lit(1L)),
          i * zCols.size + ci)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }
}
