package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions.col
import graft.ops.RelOps

/** Parquet-backed table namespace — the engine's stand-in for the
  * reference's DuckDB and PostgreSQL stores (SURVEY §2.1 S5-S9).
  *
  * Scale posture: tables are directories of parquet files; appends add
  * files (no rewrite); the keyed append's anti-join is the documented S6
  * formulation (at 100 TB: partition/bucket by key and let AQE broadcast
  * the incoming batch; a MERGE-capable format would subsume this). The
  * read-dedup-write sequence is not transactional — single-writer
  * semantics, matching the reference's concurrency=1 (W11).
  *
  * Reads launch no Spark job: `read` takes the schema Spark wrote into a
  * data file's parquet footer (one driver-side footer read), not Spark's
  * per-read schema-inference job. Nothing is memoized, so writes need no
  * invalidation.
  */
final class TableStore(spark: SparkSession, root: String) {

  Files.createDirectories(Paths.get(root))

  def path(name: String): String = s"$root/$name"

  def exists(name: String): Boolean = {
    val p = Paths.get(path(name))
    if (!Files.exists(p)) return false
    val stream = Files.list(p)
    try stream.findFirst().isPresent finally stream.close()
  }

  /** S5 (etl_elt_wine.py:126-145): CREATE TABLE IF NOT EXISTS with declared
    * schema. PK uniqueness is not engine-enforced (as in Spark generally) —
    * appendKeyed provides it by construction. */
  def createIfNotExists(name: String, schema: StructType): Unit =
    if (!exists(name)) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode(SaveMode.Overwrite).parquet(path(name))
    }

  /** S9 (utils.py:51-67): table read. Launches no Spark job: the data
    * schema comes from one data file's parquet footer, read on the
    * driver (see footerSchema), and is handed to the reader, so Spark
    * skips its one-task schema-inference job. Partition columns still
    * come from directory discovery, exactly as an inferred read finds
    * them. A table whose footer lacks the Spark schema (or has no data
    * file) takes Spark's own inference, as before.
    *
    * The store root is glob-escaped: Spark glob-expands every read
    * path, so an UNescaped root containing [ ] { } * ? would resolve to
    * the wrong directory (or nothing) on every read — writes are
    * unaffected (save() does not glob). */
  def read(name: String): DataFrame = {
    val dir = escapeGlob(path(name))
    footerSchema(name).fold(spark.read.parquet(dir))(
      spark.read.schema(_).parquet(dir))
  }

  /** The schema Spark's non-merging inference would give the table,
    * without the job it launches to read it
    * ([[ParquetFooters.inferredSchema]]). Every file of a table shares one
    * schema (the same assumption Spark's inference makes unless
    * mergeSchema is on). */
  private def footerSchema(name: String): Option[StructType] =
    ParquetFooters.inferredSchema(spark, Seq(Paths.get(path(name))))

  /** S6 (etl_elt_wine.py:214-217): idempotent keyed append — INSERT OR
    * IGNORE BY NAME semantics; keeps existing rows on key conflict.
    * Returns the number of rows actually appended (the reference logs and
    * XComs this row count). */
  def appendKeyed(name: String, key: String, incoming: DataFrame): Long = {
    val existing = read(name)
    // localCheckpoint (not cache): the write appends files into the same
    // directory the anti-join's lineage lists, so a lost cache block that
    // triggered recomputation mid-write could re-list the directory being
    // appended. Checkpointing severs the lineage entirely.
    // The row count rides the checkpoint's own pass, observed at the root
    // of its plan: a separate count() would run the new rows again. (AQE
    // may prune an empty subtree below an observation, dropping its
    // metrics; nothing sits above the root one.)
    val added = org.apache.spark.sql.Observation()
    val fresh = RelOps.newRowsOnly(existing, key)(incoming)
      .observe(added, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .localCheckpoint()
    try {
      val n = added.get("n").asInstanceOf[Long]
      if (n > 0) fresh.write.mode(SaveMode.Append).parquet(path(name))
      n
    } finally RelOps.releaseCheckpoint(fresh)
  }

  /** Raw append: new files land next to the existing ones, no key
    * filtering — for callers that pre-filter (SimilarityOps'
    * appendWindowBatch anti-joins on doc id BEFORE computing rows).
    * The frame must be pinned/materialized by the caller if its lineage
    * reads this same table. */
  def append(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path(name))

  /** MERGE-style keyed upsert: incoming rows replace same-key existing
    * rows, new keys append (the complement of appendKeyed's keep-existing
    * semantics). Rewrites the table — at 100 TB restrict the rewrite to
    * affected partitions or use a MERGE-capable format. */
  def upsertKeyed(name: String, key: String, incoming: DataFrame): Long = {
    val existing = read(name)
    val deduped = incoming.dropDuplicates(key)
    val kept = existing.join(deduped.select(key), Seq(key), "left_anti")
    val merged = kept.unionByName(deduped.select(existing.columns.map(col): _*))
      .cache()
    val n = merged.count()
    // write to a sibling dir then swap — the overwrite would otherwise
    // read-and-clobber its own input
    merged.write.mode(SaveMode.Overwrite).parquet(tmpPath(name))
    merged.unpersist()
    promoteTmp(name)
    n
  }

  /** CDC change application in ONE rewrite: delete `deletes` keys, replace
    * or insert `upserts` rows (upserts must already be one-row-per-key).
    * The single read-merge-swap is what cdcUpsertSink calls per
    * micro-batch — two separate delete + upsert passes would rewrite the
    * table twice. Same 100 TB caveat as upsertKeyed: path-rewrite
    * semantics; at scale route through applyDiffToPartitionedTable or a
    * MERGE-capable format. */
  def applyChanges(name: String, key: String, upserts: DataFrame,
      deletes: DataFrame): Long = {
    val existing = read(name)
    val touched = upserts.select(col(key)).unionByName(deletes.select(col(key)))
      .distinct()
    val kept = existing.join(touched, Seq(key), "left_anti")
    val merged = kept
      .unionByName(upserts.select(existing.columns.map(col): _*))
      .cache()
    val n = merged.count()
    merged.write.mode(SaveMode.Overwrite).parquet(tmpPath(name))
    merged.unpersist()
    promoteTmp(name)
    n
  }

  /** CDC change application that rewrites ONLY the partitions the batch
    * touches — the scale path applyChanges' doc comment promises. At
    * 100 TB a per-batch full rewrite is O(|table|) per micro-batch; this
    * is O(|touched partitions|):
    *   1. touched partition values come from the BATCH (driver collect
    *      bounded by partition count, never row count);
    *   2. the base scan carries a partition filter — untouched partitions
    *      are pruned at planning and their files never open;
    *   3. merge (anti-join + union) runs within touched rows only;
    *   4. dynamic partition overwrite replaces only partitions present in
    *      the output; partitions the batch EMPTIED (all rows deleted) are
    *      dropped explicitly, as in CdcOps.applyDiffToPartitionedTable.
    * Contract: every change row — tombstones included — carries `partCol`,
    * and the partition value of a key is immutable (a partition-moving
    * update needs the old_v-tracking diff path,
    * CdcOps.applyDiffToPartitionedTable). Returns the row count of the
    * touched partitions after the merge (the full-table count would cost
    * a full scan — exactly what this path exists to avoid). */
  def applyChangesPartitioned(name: String, key: String, partCol: String,
      upserts: DataFrame, deletes: DataFrame): Long = {
    // Guard the layout contract up front: called against a table written
    // FLAT (overwrite), the dynamic-overwrite partitionBy write below
    // would ADD partCol=... dirs while the old root-level parquet files
    // remain — silently duplicating every untouched row on subsequent
    // reads. Fail fast instead.
    requirePartitionedLayout(name, partCol)
    // pinned: each side feeds touched-derivation, the key anti-join, and
    // (upserts) the union — and the write replaces files their lineage
    // would otherwise re-list
    val up = upserts.localCheckpoint()
    val del = deletes.localCheckpoint()
    try {
      val touched = up.select(col(partCol)).unionByName(del.select(col(partCol)))
        .distinct().collect().map(_.get(0)).toIndexedSeq
      // A NULL partition value would silently vanish from the merge:
      // isin(null) is never true, so the base filter drops the row and
      // the change is lost. The contract (every change row carries
      // partCol) makes NULL a caller bug — reject it loudly.
      require(!touched.contains(null),
        s"applyChangesPartitioned($name): NULL $partCol in change batch — " +
          "every change row (tombstones included) must carry a non-null " +
          "partition value")
      if (touched.isEmpty) return 0L
      val base = read(name).filter(col(partCol).isin(touched: _*))
      val touchedKeys = up.select(col(key)).unionByName(del.select(col(key)))
        .distinct()
      val kept = base.join(touchedKeys, Seq(key), "left_anti")
      val merged = kept.unionByName(up.select(base.columns.map(col): _*))
        .localCheckpoint()
      try {
        val n = merged.count()
        val survivors = merged.select(col(partCol)).distinct()
          .collect().map(r => String.valueOf(r.get(0))).toSet
        val emptied = touched
          .filterNot(v => survivors.contains(String.valueOf(v)))
          .map(String.valueOf)
        val prev =
          spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try merged.write.mode(SaveMode.Overwrite).partitionBy(partCol)
          .parquet(path(name))
        finally prev match {
          case Some(v) =>
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None =>
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        if (emptied.nonEmpty)
          graft.ops.CdcOps.dropPartitionDirs(spark, path(name), partCol,
            emptied.toSet)
        n
      } finally RelOps.releaseCheckpoint(merged)
    } finally {
      RelOps.releaseCheckpoint(up)
      RelOps.releaseCheckpoint(del)
    }
  }

  /** Partitioned-layout guard for the partition-overwrite merge paths:
    * the table root must contain ONLY `partCol=...` directories (hidden
    * files like _SUCCESS aside). One driver-side listing of one directory
    * level — O(partitions), the same bound the touched-partition collect
    * already carries. */
  private def requirePartitionedLayout(name: String, partCol: String): Unit = {
    val dir = path(name)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(dir)
    require(fs.exists(root),
      s"applyChangesPartitioned($name): table does not exist")
    val prefix = s"$partCol="
    val entries = fs.listStatus(root)
      .filterNot(st => st.getPath.getName.startsWith("_") ||
        st.getPath.getName.startsWith("."))
    val offending = entries.filterNot(st =>
      st.isDirectory && st.getPath.getName.startsWith(prefix))
    require(offending.isEmpty,
      s"applyChangesPartitioned($name): table is not laid out partitioned " +
        s"by $partCol — found non-partition entries " +
        offending.take(3).map(_.getPath.getName).mkString(", ") +
        "; write it with a partitionBy writer first (a dynamic-overwrite " +
        "merge on a flat table would duplicate every untouched row)")
  }

  /** Hadoop's path resolution glob-expands every path handed to
    * spark.read, so a store root containing glob metacharacters like
    * [ ] { } * ? would resolve to the wrong directory (or nothing).
    * Backslash-escape them so a read path matches exactly one literal
    * directory. */
  private def escapeGlob(s: String): String =
    s.replaceAll("([\\\\\\[\\]{}*?])", "\\\\$1")

  /** Compaction: rewrite the table's accumulated small files into
    * `numFiles` larger ones (same rows, same schema). Append-style
    * ingestion (appendKeyed, streaming keyedAppendSink) adds files per
    * batch; at 100 TB the listing/open cost of millions of small files
    * dominates scan time, so periodic compaction is a first-class
    * maintenance operator. coalesce (not repartition) merges without a
    * shuffle; the write lands in a sibling dir, then the recoverable
    * swap promotes it. */
  def compact(name: String, numFiles: Int = 1): Long = {
    // layout guards: a blind rewrite would silently destroy physical
    // layout contracts. Bucketed tables (catalog-declared bucket files)
    // cannot be compacted path-wise at all — the catalog would still
    // declare buckets the rewritten filenames no longer encode, and every
    // subsequent spark.table read fails. Partitioned tables keep their
    // directory layout: compaction coalesces within each partition.
    require(!isBucketed(name),
      s"$name is bucketed — re-run overwriteBucketed to compact it " +
        "(bucket files must be rewritten through the catalog)")
    val partCols = partitionColumnsOf(name)
    // partition VALUES must round-trip byte-identically: with type
    // inference on, a string partition like code=01 would be read back as
    // int 1 and rewritten as code=1 (value and type silently changed).
    // Reading them as strings reproduces the exact directory names; later
    // normal reads re-infer types from those unchanged names as before.
    // The toggle lives in a CLONED session (isolated SQLConf, shared
    // SparkContext) so concurrent readers of the shared session never see
    // string-typed partition columns mid-compaction. newSession starts
    // from context defaults, so the caller's RUNTIME-set confs (rebase
    // modes, codecs, …) are copied over first — only the inference key
    // diverges. Static confs reject set() on a live session; skip them.
    val s2 = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try s2.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    s2.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val compacted = s2.read.parquet(escapeGlob(path(name))).coalesce(numFiles)
    val writer = compacted.write.mode(SaveMode.Overwrite)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(tmpPath(name))
    promoteTmp(name)
    read(name).count()
  }

  /** True iff the session catalog declares bucketing for a table of this
    * name AT THIS STORE'S PATH — a same-named catalog table living
    * elsewhere (another store's root) must not trip the guard. */
  private def isBucketed(name: String): Boolean =
    spark.catalog.tableExists(name) && {
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(name)
      val meta = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.catalog.getTableMetadata(ident)
      meta.bucketSpec.nonEmpty &&
        new java.io.File(meta.location).getCanonicalPath ==
          new java.io.File(path(name)).getCanonicalPath
    }

  /** Partition columns from the directory layout, in nesting order —
    * descends `col=value` levels so multi-column layouts
    * (`region=…/day=…`) are preserved, not flattened to the first level. */
  private def partitionColumnsOf(name: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    def levels(dir: java.nio.file.Path): Seq[String] = {
      val stream = Files.list(dir)
      val firstPart = try {
        stream.iterator().asScala
          .find(p => Files.isDirectory(p) &&
            p.getFileName.toString.contains("="))
      } finally stream.close()
      firstPart match {
        case Some(p) =>
          p.getFileName.toString.split("=", 2)(0) +: levels(p)
        case None => Nil
      }
    }
    levels(Paths.get(path(name)))
  }

  /** Promote `<table>__tmp` into place. Keeps a recoverable copy at every
    * failure point: old data is moved aside (not deleted) before the new
    * directory takes its place, and only then discarded. */
  private def promoteTmp(name: String): Unit = {
    val target = Paths.get(path(name))
    val old = Paths.get(s"${path(name)}__old")
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile) // stale leftover
    Files.move(target, old)
    Files.move(Paths.get(tmpPath(name)), target)
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
  }

  private def tmpPath(name: String): String = s"${path(name)}__tmp"

  /** One full-replace implementation for every format/layout variant.
    * The returned row count comes from an Observation riding the write
    * job itself — a read-back count() would re-scan the table just
    * written, a real second pass at 100 TB (the reference re-counts for
    * its XCom row_count; this is the Spark-native version). */
  private def replaceCounted(name: String, df: DataFrame, format: String,
                             partitionCols: Seq[String] = Nil): Long = {
    val obs = org.apache.spark.sql.Observation()
    val w = df.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).format(format)
      .option("header", "true") // no-op outside csv
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .save(path(name))
    obs.get("n").asInstanceOf[Long]
  }

  /** S7 (etl_elt_wine.py:239-243): full-replace load. */
  def overwrite(name: String, df: DataFrame): Long =
    replaceCounted(name, df, "parquet")

  /** Format-parameterized full-replace load + read-back: parquet is the
    * engine default (columnar, statistics, pushdown), but interchange
    * with external systems wants orc/csv/json too. CSV/JSON reads take
    * the explicit schema (header-only inference is a silent-corruption
    * source at scale — SURVEY §1.2). */
  def overwriteFormat(name: String, df: DataFrame, format: String): Long =
    replaceCounted(name, df, format)

  def readFormat(name: String, format: String, schema: StructType): DataFrame =
    spark.read.format(format).schema(schema).option("header", "true")
      .load(escapeGlob(path(name)))

  /** S7 JDBC variant (etl_elt_wine.py:239-243, the PostgreSQL full-
    * replace load): overwrite a table in an external relational store
    * over JDBC. Tested against embedded Derby (the only DB this
    * zero-egress container ships); against a real server only the url/
    * driver change. */
  def overwriteJdbc(url: String, driver: String, table: String,
                    df: DataFrame): Unit =
    df.write.format("jdbc")
      .option("url", url).option("driver", driver).option("dbtable", table)
      .mode(SaveMode.Overwrite).save()

  /** S8 (etl_elt_wine.py:268-272): pushed-down read from an external DB —
    * filters/projections applied to the returned frame reach the remote
    * engine as SQL (Catalyst JDBC pushdown; PlanSpec asserts
    * PushedFilters on the JDBCRelation scan). Pass `partitioning` for
    * any non-toy table: without it Spark opens ONE connection and reads
    * the whole table in a single task — (column, lower, upper, n) splits
    * the scan into n parallel range queries. */
  def readJdbc(url: String, driver: String, table: String,
               partitioning: Option[(String, Long, Long, Int)] = None,
               fetchSize: Int = 10000): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("driver", driver).option("dbtable", table)
      .option("fetchsize", fetchSize.toString)
    partitioning.fold(base) { case (col, lo, hi, n) =>
      base.option("partitionColumn", col)
        .option("lowerBound", lo.toString).option("upperBound", hi.toString)
        .option("numPartitions", n.toString)
    }.load()
  }

  /** Partitioned full-replace load — the 100 TB layout: directory
    * partitioning on low-cardinality filter columns so Catalyst prunes
    * non-matching partitions at planning time (scans never open them).
    * PlanSpec-style assertion lives in EtlEltWineSpec. */
  def overwritePartitioned(name: String, df: DataFrame,
                           partitionCols: Seq[String]): Long =
    replaceCounted(name, df, "parquet", partitionCols)

  /** Bucketed full-replace load — the co-located-join layout: rows are
    * hash-bucketed (and sorted) on the join key at WRITE time, so two
    * tables bucketed on the same key with the same bucket count join with
    * NO shuffle exchange (and no sort, if sorted). At 100 TB this turns
    * the recurring fact⋈fact join from the dominant network cost into a
    * local merge per bucket — paid once at load instead of per query.
    * Bucketing metadata lives in the session catalog (saveAsTable), the
    * data under this store's root; read it back with `spark.table(name)`
    * (a plain parquet path read sees files but no bucket spec). */
  def overwriteBucketed(name: String, df: DataFrame, key: String,
                        nBuckets: Int): Long = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // row count from an Observation riding the write job itself — the
    // post-write spark.table(name).count() this replaces was a full
    // readback scan of everything just written, a real second pass at
    // 100 TB (r19 optimization round; replaceCounted already measures
    // this way)
    val obs = org.apache.spark.sql.Observation()
    // repartition ON THE BUCKET KEY first: the bucketed writer emits one
    // file per (task, bucket) pair, so a 32-partition batch over 16
    // buckets writes ~500 tiny files; hash-repartitioning into nBuckets
    // tasks aligns task == bucket (both sides are murmur3 pmod nBuckets)
    // and the write emits exactly one file per non-empty bucket — the
    // Iceberg write.distribution-mode=hash posture (guide §6: small
    // files hurt twice). One shuffle of the batch, O(batch).
    df.repartition(nBuckets, org.apache.spark.sql.functions.col(key))
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, key).sortBy(key)
      .option("path", path(name))
      .saveAsTable(name)
    obs.get("n").asInstanceOf[Long]
  }
}
