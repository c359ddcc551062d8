package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture operators: diff two keyed snapshots into a typed
  * change set, and apply a change set as a MERGE. The lakehouse
  * ingest/compaction primitives — at 100 TB the diff is one co-partitioned
  * full-outer shuffle join on the key (AQE handles skewed keys), and apply
  * is anti-join + union; a table format (Delta/Iceberg) would add file-level
  * pruning of untouched partitions on top of exactly these semantics.
  */
object CdcOps {

  /** Broadcast-or-shuffle gate for the IVM state-probe joins (r15
    * verdict #1). The probe frame is O(batch) — usually tiny, so a
    * broadcast hint keeps the hash-bucketed state side exchange-free —
    * but the batch is UNBOUNDED by design when a refresh folds a bulk
    * delete (the GDPR-purge workload the delete-vector ops advertise)
    * or an unbounded feed drain folds a month's backlog, and a FORCED
    * broadcast of a state-sized frame dies as an opaque driver OOM
    * instead of this codebase's loud requires. Gate on the probe's row
    * count (the caller already `localCheckpoint`ed the delta, so the
    * count is a free metadata job): at or below
    * `spark.graft.broadcastProbeMaxRows` (default 4M rows — well under
    * driver heap at the pair-row widths these probes carry) hint
    * broadcast; above, return the frame unhinted — the state sub is
    * hash-bucketed on the key, so the planner's fallback shuffles only
    * the O(batch) probe side while the bucketed state scan still feeds
    * the join without a full exchange. Both regimes compute the same
    * join; CdcOpsSpec pins result parity across the gate. */
  private[graft] def probeSide(probe: DataFrame, nRows: Long): DataFrame = {
    val max = probe.sparkSession.conf
      .get("spark.graft.broadcastProbeMaxRows", (1L << 22).toString).toLong
    if (nRows <= max) broadcast(probe) else probe
  }

  /** Key-level diff of two snapshots. Inputs must be keyed, deduplicated
    * frames; `cmpCols` are the payload columns whose change constitutes an
    * UPDATE. Output: (key, change_type ∈ insert|delete|update|unchanged,
    * old_v struct, new_v struct). The payloads ride as single structs so
    * the comparison is one vectorized struct-equality, and apply can
    * reconstruct full rows from `new_v` without re-reading the source. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, key: String,
      cmpCols: Seq[String]): DataFrame = {
    val o = oldSnap.select(col(key), struct(cmpCols.map(col): _*).as("old_v"))
    val n = newSnap.select(col(key), struct(cmpCols.map(col): _*).as("new_v"))
    o.join(n, Seq(key), "full_outer")
      .select(col(key),
        when(col("old_v").isNull, "insert")
          .when(col("new_v").isNull, "delete")
          .when(col("old_v") =!= col("new_v"), "update")
          .otherwise("unchanged").as("change_type"),
        col("old_v"), col("new_v"))
  }

  /** MERGE a snapshotDiff change set into `base` (which must project
    * exactly key + the diff's cmpCols): delete/update keys are anti-joined
    * away, then insert/update rows are appended from `new_v`. Applying the
    * diff of (A, B) onto A reproduces B exactly — CdcOpsSpec pins that
    * round trip, and x106's oracle re-derives B independently. */
  def applyDiff(base: DataFrame, diff: DataFrame, key: String): DataFrame = {
    val removed = diff
      .filter(col("change_type").isin("delete", "update"))
      .select(col(key))
    val appended = diff
      .filter(col("change_type").isin("insert", "update"))
      .select(col(key), col("new_v.*"))
    base.join(removed, Seq(key), "left_anti").unionByName(appended)
  }

  /** Partition values the change set touches — BOTH sides of every change:
    * an UPDATE that moves a row across partitions (mutable partition
    * column) touches its OLD partition (the stale row must be anti-joined
    * away there) AND its NEW one; collapsing the two with coalesce would
    * leave a silent duplicate of the key in the old partition. `partCol`
    * must ride inside the diff's payload structs (include it in
    * snapshotDiff's cmpCols). Driver-side collect is bounded by the
    * table's PARTITION count (a layout property), never by row count. */
  /** Incremental maintenance of a materialized two-table equi-join view
    * V = A ⋈ B (inner, on `joinKey`) under keyed change batches to either
    * side — the IVM shape that keeps a 100 TB join view fresh in
    * O(touched keys) instead of re-running the join:
    *
    *  - a view row is identified by `aPk` (A's primary key — each A row
    *    contributes at most one view row per matching B row);
    *  - the touched set is (A-keys changed directly) ∪ (A-keys of new-A
    *    rows whose joinKey hits a changed B key) — one semi-join on the
    *    (small) change batch;
    *  - untouched view rows survive via one LEFT ANTI join against the
    *    touched-key set — no broadcast HINT (a backfill-sized batch must
    *    not OOM the driver); AQE sees the materialized touched-set size
    *    and converts the anti join to broadcast in the normal incremental
    *    case, so the VIEW never shuffles (CdcOpsSpec pins the adaptive
    *    plan shape);
    *  - touched rows re-derive from the NEW table states only (semi-join
    *    A' on touched, then the ordinary join with B').
    *
    * Deletions fall out for free on both sides: a deleted A row's key is
    * touched but absent from A' (row removed); an A' row pointing at a
    * deleted B row loses the inner join (row removed). Result ≡
    * newA ⋈ newB exactly — x116's oracle derives that identity
    * independently, so the hash gate proves the reconstruction.
    *
    * Caveat (documented, checked by the caller): B-side changes must be
    * keyed by `joinKey` (the dimension's key). A view over a non-keyed
    * join condition needs the partial-recompute generalized to the
    * touched-predicate closure — out of scope here. */
  def maintainJoinView(view: DataFrame, aPk: String, joinKey: String,
      newA: DataFrame, newB: DataFrame,
      changedAKeys: DataFrame, changedBKeys: DataFrame): DataFrame = {
    val touched = changedAKeys.select(col(aPk))
      .unionByName(
        newA.join(changedBKeys.select(col(joinKey)), Seq(joinKey), "left_semi")
          .select(col(aPk)))
      .distinct()
    val keep = view.join(touched, Seq(aPk), "left_anti")
    val recomputed = newA.join(touched, Seq(aPk), "left_semi")
      .join(newB, joinKey)
    keep.unionByName(recomputed.select(view.columns.map(col).toIndexedSeq: _*))
  }

  def touchedPartitions(diff: DataFrame, partCol: String): Seq[Any] = {
    val changed = diff.filter(col("change_type") =!= "unchanged")
    changed.select(col(s"new_v.$partCol").as("p"))
      .unionByName(changed.select(col(s"old_v.$partCol").as("p")))
      .filter(col("p").isNotNull)
      .distinct().collect().map(_.get(0)).toSeq
  }

  /** MERGE into a partitioned parquet table rewriting ONLY the partitions
    * the change set touches — the file-level pruning a table format
    * (Delta/Iceberg) layers on the same semantics, expressed with vanilla
    * partitioned parquet + dynamic partition overwrite. At 100 TB this is
    * the difference between rewriting the table per merge and rewriting
    * the few partitions that changed:
    *   1. derive touched partition values from the diff (small);
    *   2. scan base WITH a partition filter (untouched partitions are
    *      pruned at planning — CdcOpsSpec asserts PartitionFilters and
    *      that untouched partition files are byte-identical after apply);
    *   3. merge (anti-join + union) within the touched rows only;
    *   4. dynamic-overwrite: only partitions present in the merged output
    *      are replaced.
    * The diff and the merged frame are each pinned once (localCheckpoint)
    * so the full-outer diff join and the merge run ONCE, not once per
    * consumer (touched-derivation, survivor scan, write). Null partition
    * values are not supported (touchedPartitions drops struct-nulls, which
    * a genuine null partition value is indistinguishable from).
    * Returns the touched-partition values (for audit/logging). */
  def applyDiffToPartitionedTable(tableDir: String, diff: DataFrame,
      key: String, partCol: String): Seq[Any] = {
    val spark = diff.sparkSession
    val d = diff.localCheckpoint()
    try {
      val touched = touchedPartitions(d, partCol)
      if (touched.nonEmpty) {
        val base = spark.read.parquet(tableDir)
          .filter(col(partCol).isin(touched: _*))
        val changes = d.filter(col(s"new_v.$partCol").isin(touched: _*) ||
          col(s"old_v.$partCol").isin(touched: _*))
        // pinned: consumed by the survivor scan AND the overwrite write
        val merged = applyDiff(base, changes, key).localCheckpoint()
        try {
          // Dynamic overwrite only replaces partitions PRESENT in the
          // output — a touched partition whose rows were all deleted
          // produces no output and would keep its stale files. Find those
          // up front and drop their directories explicitly.
          val survivors = merged.select(col(partCol)).distinct()
            .collect().map(r => String.valueOf(r.get(0))).toSet
          val emptied = touched
            .filterNot(v => survivors.contains(String.valueOf(v)))
            .map(String.valueOf)
          val prev =
            spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          try merged.write.mode("overwrite").partitionBy(partCol)
            .parquet(tableDir)
          finally prev match {
            case Some(v) =>
              spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
            case None =>
              spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
          }
          if (emptied.nonEmpty) dropPartitionDirs(spark, tableDir, partCol,
            emptied.toSet)
        } finally RelOps.releaseCheckpoint(merged)
      }
      touched
    } finally RelOps.releaseCheckpoint(d)
  }

  /** Delete the directories of `emptied` partition values by LISTING the
    * table's partition directories and matching their decoded values —
    * never by constructing `part=value` paths, whose escaping (Hive
    * %XX-encodes ':', ' ', '%', …) would have to be replicated exactly;
    * a mismatch silently leaves the stale partition in place. Deleting the
    * listed path as-is needs no escaping at all. Throws if a matched
    * directory cannot be deleted (a silent false return would resurrect
    * deleted rows on the next read). */
  private[graft] def dropPartitionDirs(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, partCol: String, emptied: Set[String]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tableDir), spark.sparkContext.hadoopConfiguration)
    val prefix = s"$partCol="
    fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
      .filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith(prefix))
      .foreach { st =>
        val raw = st.getPath.getName.substring(prefix.length)
        if (emptied.contains(unescapePathName(raw)))
          require(fs.delete(st.getPath, true),
            s"failed to delete emptied partition ${st.getPath}")
      }
  }

  /** Incrementally-maintained SUM/COUNT aggregate view over a snapshot
    * table, with EXACTLY-ONCE refresh lineage. The view lives as a
    * SnapshotStore multi-table group {`agg` (dims, sum_m, n_rows),
    * `meta` (src_v)}: every refresh commits the merged aggregate AND the
    * source watermark it consumed as ONE atomic version
    * ([[graft.sources.SnapshotStore.commitTablesAt]]), so the watermark
    * can never advance without its data or separately from it — a crash
    * anywhere leaves the previous version whole, and the retry recomputes
    * the SAME source range. A refresh that finds nothing new commits
    * NOTHING (no version — redelivery-clean history, matching the
    * versioned index sinks); concurrent refreshers CAS on the view
    * version, so the loser fails retryably instead of double-applying.
    *
    * Refresh cost is O(source changes since the watermark) — one
    * [[graft.sources.SnapshotStore.changesBetween]] scan (append commits
    * contribute their files directly; rewrites diff only rewritten
    * files), a groupBy of the changes, and a full-outer merge into the
    * view — plus a rewrite of the VIEW, which is the small side by
    * construction (a view too big to rewrite per refresh would move to
    * the keyed CoW layout). SUM/COUNT are self-maintainable under
    * insert/delete changelogs (inserts add, deletes subtract; a group
    * whose n_rows reaches 0 is dropped); averages derive as
    * sum_m / n_rows downstream. The source must stay retention-live at
    * the watermark ([[graft.sources.SnapshotStore.changesBetween]]'s
    * contract). `srcSub` points the view at ONE sub-table of a
    * multi-table source group (a streaming-ingested {data, meta} table)
    * via [[graft.sources.SnapshotStore.changesBetweenTable]] — commits
    * touching only other subs cost nothing. Returns the view's
    * (possibly unchanged) version. */
  /** Shared scaffolding of the incremental views ([[refreshSumView]],
    * [[refreshDistinctView]], [[refreshJoinView]]'s two sides): the
    * (possibly sub-scoped) source version/read/changelog and the
    * rolled-back-source sanity gate — ONE definition, so a fix to the
    * watermark logic never has to land in three places. */
  private final case class ViewSource(store: graft.sources.SnapshotStore,
      src: String, sub: Option[String]) {
    def version: Long = store.currentVersion(src)
    def at(v: Long): DataFrame =
      sub.fold(store.readVersion(src, v))(store.readTableVersion(src, v, _))
    def changes(from: Long, to: Long): DataFrame =
      sub.fold(store.changesBetween(src, from, to))(
        store.changesBetweenTable(src, _, from, to))
    def requireNotAhead(view: String, w: Long, cur: Long): Unit =
      require(w <= cur, s"view '$view' watermark v$w is AHEAD of " +
        s"source '$src' v$cur — was the source rolled back or rebuilt?")
  }

  /** Exactly-once incrementally-maintained SUM/COUNT view (see the
    * x142b driver query for the full lifecycle contract). NULL-EXACT
    * via the [[refreshStatsView]] n_vals discipline: the stored row
    * carries the non-null measure count, and sum_m reads back NULL
    * exactly when n_vals hits 0 — so a group whose last non-null
    * measure is deleted serves NULL, matching the from-scratch SQL
    * sum (a signed fold alone cannot tell "the last non-null row was
    * deleted" from a plain 10 + (−10) subtotal). */
  def refreshSumView(store: graft.sources.SnapshotStore, src: String,
      view: String, dims: Seq[String], measure: String,
      srcSub: Option[String] = None): Long = {
    val source = ViewSource(store, src, srcSub)
    val srcV = source.version
    def srcAt(v: Long): DataFrame = source.at(v)
    def srcChanges(from: Long, to: Long): DataFrame = source.changes(from, to)
    def metaRow(spark: org.apache.spark.sql.SparkSession) =
      RelOps.localLongRow(spark, "src_v" -> srcV)
    def aggOf(rows: DataFrame): DataFrame =
      rows.groupBy(dims.map(col): _*)
        .agg(sum(col(measure)).as("sum_m"),
          count(col(measure)).as("n_vals"), count(lit(1)).as("n_rows"))
    if (!store.exists(view)) {
      val full = aggOf(srcAt(srcV))
      store.commitTables(view, overwrites =
        Map("agg" -> full, "meta" -> metaRow(full.sparkSession)))
    } else {
      val cur = store.currentVersion(view)
      val w = store.tinySubHead(view, cur, "meta").getAs[Long]("src_v")
      if (w == srcV) cur // nothing new: commit NOTHING, not even a version
      else {
        source.requireNotAhead(view, w, srcV)
        commitSumDelta(store, view, dims, measure, srcChanges(w, srcV),
          srcV, cur)
      }
    }
  }

  /** The signed-delta merge + atomic watermark commit shared by the
    * PULL refresh ([[refreshSumView]] — it computes the changelog
    * itself) and the FEED-driven fold ([[foldSumViewStep]] — the
    * changelog is delivered to it): one definition, so the two
    * consumption shapes cannot diverge. `ch` is a `_change`-tagged
    * changelog frame; `srcV` the source version it reaches; `cur` the
    * pinned view version the commit CASes on. */
  private def commitSumDelta(store: graft.sources.SnapshotStore,
      view: String, dims: Seq[String], measure: String, ch: DataFrame,
      srcV: Long, cur: Long): Long = {
    val ins = col("_change") === "insert"
    val signed = ch.withColumn("__m",
      when(ins, col(measure)).otherwise(-col(measure)))
      .withColumn("__v", when(col(measure).isNull, lit(0L))
        .otherwise(when(ins, lit(1L)).otherwise(lit(-1L))))
      .withColumn("__n", when(ins, 1L).otherwise(-1L))
    val delta = signed.groupBy(dims.map(col): _*)
      .agg(sum(col("__m")).as("d_sum"), sum(col("__v")).as("d_nv"),
        sum(col("__n")).as("d_n"))
    val old0 = store.readTableVersion(view, cur, "agg")
    // legacy backfill: a view persisted before the n_vals column
    // existed refreshes by assuming every counted row was non-null —
    // exactly the information the old format carried (its 0-vs-NULL
    // behavior continues until a rebuild); without this the first
    // refresh of an old view dies on an unresolved column
    val old = (if (old0.columns.contains("n_vals")) old0
      else old0.withColumn("n_vals", col("n_rows"))).as("o")
    val d = delta.as("d")
    val sumType = old0.schema("sum_m").dataType
    val zero = lit(0).cast(sumType)
    // NULL-SAFE key match: a null dimension value is one group in
    // groupBy but never equates in a plain join — without <=> the
    // null group would split into old + delta rows and diverge from
    // the from-scratch aggregate on every refresh. Empty dims (a
    // global-total view) = one group on each side: lit(true), the
    // refreshDistinctView guard (reduce on Nil throws).
    val joinCond =
      if (dims.isEmpty) lit(true)
      else dims.map(c => col(s"o.$c") <=> col(s"d.$c")).reduce(_ && _)
    // the n_vals discipline (refreshStatsView's): sum_m reads NULL
    // exactly when the group has no non-null measures left — a folded
    // 0 subtotal and "every value deleted" are different answers
    val nv = coalesce(col("n_vals"), lit(0L)) +
      coalesce(col("d_nv"), lit(0L))
    val merged = old.join(d, joinCond, "full_outer")
      .select(dims.map(c =>
        coalesce(col(s"o.$c"), col(s"d.$c")).as(c)) ++ Seq(
        when(nv === 0L, lit(null).cast(sumType))
          .otherwise((coalesce(col("sum_m"), zero)
            + coalesce(col("d_sum"), zero)).cast(sumType)).as("sum_m"),
        nv.as("n_vals"),
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n_rows")): _*)
      .filter(col("n_rows") > 0)
    store.commitTablesAt(view, cur, overwrites =
      Map("agg" -> merged,
        "meta" -> RelOps.localLongRow(merged.sparkSession, "src_v" -> srcV)))
  }

  /** Exactly-once fold of ONE change-feed step into a SUM/COUNT view —
    * the consumer half of [[graft.streaming.StreamOps.drainChangeFeed]]:
    * the feed delivers at-least-once per version, and this fold makes
    * the composition exactly-once — a REDELIVERED step (view watermark
    * already at or past `srcV`) commits NOTHING, not even a version; a
    * GAP (a step beyond watermark+1 — a consumer that skipped versions)
    * fails loudly instead of silently double-counting the missed
    * changes' absence. Step v1 (the feed's initial-snapshot batch, all
    * inserts) builds the view. State + consumed watermark commit as ONE
    * atomic CASed version, exactly like the pull refresh (shared
    * [[commitSumDelta]]). Returns the view's version. */
  def foldSumViewStep(store: graft.sources.SnapshotStore, view: String,
      dims: Seq[String], measure: String, changes: DataFrame,
      srcV: Long): Long =
    if (!store.exists(view)) {
      require(srcV == 1L,
        s"view '$view' does not exist — the feed must deliver from " +
          s"version 1, got step v$srcV (was the checkpoint shared?)")
      val full = changes.filter(col("_change") === "insert")
        .drop("_change", "_commit_v")
        .groupBy(dims.map(col): _*)
        .agg(sum(col(measure)).as("sum_m"),
          count(col(measure)).as("n_vals"), count(lit(1)).as("n_rows"))
      store.commitTables(view, overwrites = Map("agg" -> full,
        "meta" -> RelOps.localLongRow(full.sparkSession, "src_v" -> srcV)))
    } else {
      val cur = store.currentVersion(view)
      val w = store.tinySubHead(view, cur, "meta").getAs[Long]("src_v")
      if (w >= srcV) cur // redelivered step: commit NOTHING
      else {
        require(srcV == w + 1,
          s"change-feed gap: view '$view' consumed v$w, step is v$srcV")
        commitSumDelta(store, view, dims, measure, changes, srcV, cur)
      }
    }

  /** Exactly-once incrementally-maintained MIN/MAX view — the
    * NON-INVERTIBLE sibling of [[refreshSumView]] (a deleted extreme
    * cannot be subtracted back out of a min/max the way a sum can):
    * inserts fold incrementally (least/greatest against the stored
    * extremes — sound even when an insert was later deleted in the same
    * range, see the dirty test), and DELETES re-derive ONLY the DIRTY
    * groups — those whose stored extreme may have fallen: any group
    * with a deleted value at-or-beyond its stored [min_m, max_m] (or
    * with deletes the view has no stored row for). The changelog names
    * the deleted rows; one null-safe join against the stored extremes
    * names the dirty groups; the recompute semi-joins the source to
    * exactly them — a delete strictly INSIDE a group's extremes adjusts
    * n_rows without touching the source at all. Soundness of the clean
    * fold: clean ⇒ every deleted value is strictly inside the OLD
    * extremes ⇒ the old extreme rows survive, and any range-insert
    * more extreme than them either survives (stays foldable) or
    * appears in the delete set at-or-beyond an extreme (⇒ dirty).
    * State + watermark commit as ONE atomic CASed version; nothing-new
    * refreshes commit nothing; same `srcSub` group support. Returns
    * (view version, dirty groups recomputed) — the second component is
    * the O(dirty)-recompute contract the x142g driver query
    * require-pins. */
  def refreshMinMaxView(store: graft.sources.SnapshotStore, src: String,
      view: String, dims: Seq[String], measure: String,
      srcSub: Option[String] = None): (Long, Long) = {
    val source = ViewSource(store, src, srcSub)
    val srcV = source.version
    def metaRow(spark: org.apache.spark.sql.SparkSession) =
      RelOps.localLongRow(spark, "src_v" -> srcV)
    def aggOf(rows: DataFrame): DataFrame =
      rows.groupBy(dims.map(col): _*)
        .agg(min(col(measure)).as("min_m"), max(col(measure)).as("max_m"),
          count(lit(1)).as("n_rows"))
    def cond(l: String, r: String) =
      if (dims.isEmpty) lit(true)
      else dims.map(c => col(s"$l.$c") <=> col(s"$r.$c")).reduce(_ && _)
    if (!store.exists(view)) {
      val full = aggOf(source.at(srcV))
      (store.commitTables(view, overwrites =
        Map("agg" -> full, "meta" -> metaRow(full.sparkSession))), 0L)
    } else {
      val cur = store.currentVersion(view)
      val w = store.tinySubHead(view, cur, "meta").getAs[Long]("src_v")
      if (w == srcV) (cur, 0L)
      else {
        source.requireNotAhead(view, w, srcV)
        val ch = source.changes(w, srcV).localCheckpoint()
        try {
          def deltaOf(change: String, p: String) =
            ch.filter(col("_change") === change)
              .groupBy(dims.map(col): _*)
              .agg(min(col(measure)).as(s"${p}_min"),
                max(col(measure)).as(s"${p}_max"),
                count(lit(1)).as(s"${p}_n"))
          val old = store.readTableVersion(view, cur, "agg").as("o")
          // old ⟗ inserts ⟗ deletes, null-safe on the dims at each step
          // (the refreshSumView <=> discipline — a null group must stay
          // ONE group)
          val oi = old.join(deltaOf("insert", "i").as("i"), cond("o", "i"),
              "full_outer")
            .select(dims.map(c => coalesce(col(s"o.$c"), col(s"i.$c")).as(c))
              ++ Seq(col("min_m"), col("max_m"), col("n_rows"),
                col("i_min"), col("i_max"), col("i_n")): _*)
          val merged3 = oi.as("oi")
            .join(deltaOf("delete", "d").as("d"), cond("oi", "d"),
              "full_outer")
            .select(dims.map(c =>
              coalesce(col(s"oi.$c"), col(s"d.$c")).as(c))
              ++ Seq(col("min_m"), col("max_m"), col("n_rows"),
                col("i_min"), col("i_max"), col("i_n"),
                col("d_min"), col("d_max"), col("d_n")): _*)
            .localCheckpoint()
          try {
            // dirty = deletes at-or-beyond a stored extreme, deletes
            // against a group the view has no stored row for, or a
            // NON-NULL delete against a group whose STORED extremes are
            // NULL (an all-NULL group: the deleted value can only have
            // been inserted in this same refresh range, and the value
            // comparisons below evaluate NULL — without this clause a
            // same-range insert+delete would fold "clean" and serve the
            // dead value as the group's extreme; the topk sibling's
            // size<k rule covers this shape there)
            val dirty = merged3.filter(col("d_n").isNotNull &&
                (col("n_rows").isNull ||
                  (col("d_max").isNotNull && col("min_m").isNull) ||
                  col("d_min") <= col("min_m") ||
                  col("d_max") >= col("max_m")))
              .select(dims.map(col): _*).localCheckpoint()
            try {
              val nDirty = dirty.count()
              val clean = merged3.as("m")
                .join(dirty.as("dd"), cond("m", "dd"), "left_anti")
                .select(dims.map(col) ++ Seq(
                  when(col("min_m").isNull, col("i_min"))
                    .when(col("i_min").isNull, col("min_m"))
                    .otherwise(least(col("min_m"), col("i_min")))
                    .as("min_m"),
                  when(col("max_m").isNull, col("i_max"))
                    .when(col("i_max").isNull, col("max_m"))
                    .otherwise(greatest(col("max_m"), col("i_max")))
                    .as("max_m"),
                  (coalesce(col("n_rows"), lit(0L))
                    + coalesce(col("i_n"), lit(0L))
                    - coalesce(col("d_n"), lit(0L))).as("n_rows")): _*)
                // drop fully-emptied groups (the sibling views' filter):
                // a group whose rows were all NULL-measure and then all
                // deleted has NULL d_min/d_max, so the dirty predicate
                // evaluates NULL (not dirty) and the clean fold would
                // otherwise emit a phantom n_rows=0 row with NULL
                // extremes that the from-scratch aggregate has no row
                // for (X142g NULL-emptied-group spec)
                .filter(col("n_rows") > 0)
              // the O(dirty) recompute: source rows of dirty groups only
              val recomputed = aggOf(source.at(srcV).as("s")
                .join(dirty.as("dd"), cond("s", "dd"), "left_semi"))
              val merged = clean.unionByName(recomputed)
              val v = store.commitTablesAt(view, cur, overwrites =
                Map("agg" -> merged, "meta" -> metaRow(merged.sparkSession)))
              (v, nDirty)
            } finally RelOps.releaseCheckpoint(dirty)
          } finally RelOps.releaseCheckpoint(merged3)
        } finally RelOps.releaseCheckpoint(ch)
      }
    }
  }

  /** Exactly-once incrementally-maintained moment-STATS view — the
    * fully-INVERTIBLE generalization of [[refreshSumView]]: per-group
    * {n_rows, n_vals, sum_m, sumsq_m} (row count, non-null measure
    * count, 1st/2nd moments), from which
    * mean and population variance derive at READ time
    * (avg = sum/n, var_pop = sumsq/n − (sum/n)²). Unlike
    * [[refreshMinMaxView]] there is NO dirty-group recompute path at
    * all: every change type — insert, delete, update — folds as a
    * signed delta against the stored moments, so a refresh NEVER
    * touches the source, only the changelog — O(changes) even under
    * scattered deletes, the case that forces min/max back to the
    * source. Exactness contract: the moments are exact when `measure`
    * is exact (decimal/integral — decimal×decimal products stay exact
    * in Spark up to precision 38); a double measure folds in float
    * (document per use). State + consumed watermark commit as ONE
    * atomic CASed version; nothing-new refreshes commit nothing; same
    * `srcSub` group support as the sibling views. Kept separate from
    * [[refreshSumView]]/[[commitSumDelta]] on purpose: sharing the
    * merge would change the shipped sum-view plans for zero behavior
    * gain (the plan-digest ledger pins those). */
  def refreshStatsView(store: graft.sources.SnapshotStore, src: String,
      view: String, dims: Seq[String], measure: String,
      srcSub: Option[String] = None): Long = {
    val source = ViewSource(store, src, srcSub)
    val srcV = source.version
    def metaRow(spark: org.apache.spark.sql.SparkSession) =
      RelOps.localLongRow(spark, "src_v" -> srcV)
    def sq = col(measure) * col(measure)
    // n_vals (NON-NULL measure count) makes the fold NULL-exact: SQL's
    // sum over a group whose every measure is NULL is NULL, and "the
    // last non-null row was deleted" cannot be told from the folded
    // subtotal alone (10 + (−10) = 0, but the true sum is NULL) — the
    // moments read back NULL exactly when n_vals hits 0. (The narrower
    // refreshSumView predates this and documents the 0-vs-NULL caveat.)
    // Precision-38 decimal accumulators are STORED at precision 37:
    // Spark types a (38,s)+(38,s) addition at precision 39, and the
    // precision-loss clamp then SHRINKS THE SCALE — the merge would
    // round the last fractional digit off every fold (caught by the
    // X142i decimal-exactness spec). At (37,s) the addition types as
    // (38,s) and stays exact; 29 integral digits of headroom remain.
    def tighten(df: DataFrame): DataFrame =
      Seq("sum_m", "sumsq_m").foldLeft(df) { (d, c) =>
        d.schema(c).dataType match {
          case t: org.apache.spark.sql.types.DecimalType
              if t.precision == 38 =>
            d.withColumn(c, col(c).cast(
              org.apache.spark.sql.types.DecimalType(37, t.scale)))
          case _ => d
        }
      }
    def aggOf(rows: DataFrame): DataFrame =
      tighten(rows.groupBy(dims.map(col): _*)
        .agg(sum(col(measure)).as("sum_m"), sum(sq).as("sumsq_m"),
          count(col(measure)).as("n_vals"), count(lit(1)).as("n_rows")))
    if (!store.exists(view)) {
      val full = aggOf(source.at(srcV))
      store.commitTables(view, overwrites =
        Map("agg" -> full, "meta" -> metaRow(full.sparkSession)))
    } else {
      val cur = store.currentVersion(view)
      val w = store.tinySubHead(view, cur, "meta").getAs[Long]("src_v")
      if (w == srcV) cur // nothing new: commit NOTHING, not even a version
      else {
        source.requireNotAhead(view, w, srcV)
        val ch = source.changes(w, srcV)
        // TYPE-PRESERVING negation (the commitSumDelta discipline), never
        // sign-multiplication: an IntegerType sign × DECIMAL(37,8)
        // squared term overflows precision 38 and Spark's precision-loss
        // path silently ROUNDS the product — the fold would drift from
        // exact. −expr keeps the operand's exact type.
        val ins = col("_change") === "insert"
        val m = col(measure)
        val delta = ch
          .withColumn("__m", when(ins, m).otherwise(-m))
          .withColumn("__q", when(ins, sq).otherwise(-sq))
          .withColumn("__v", when(m.isNull, lit(0L))
            .otherwise(when(ins, lit(1L)).otherwise(lit(-1L))))
          .withColumn("__n", when(ins, lit(1L)).otherwise(lit(-1L)))
          .groupBy(dims.map(col): _*)
          .agg(sum(col("__m")).as("d_sum"), sum(col("__q")).as("d_sumsq"),
            sum(col("__v")).as("d_nv"), sum(col("__n")).as("d_n"))
        val old = store.readTableVersion(view, cur, "agg").as("o")
        val d = delta.as("d")
        val sumType = old.schema("sum_m").dataType
        val sqType = old.schema("sumsq_m").dataType
        // NULL-SAFE key match + empty-dims guard: the refreshSumView
        // discipline (a null dim value is ONE group; reduce on Nil throws)
        val joinCond =
          if (dims.isEmpty) lit(true)
          else dims.map(c => col(s"o.$c") <=> col(s"d.$c")).reduce(_ && _)
        val nv = coalesce(col("n_vals"), lit(0L)) +
          coalesce(col("d_nv"), lit(0L))
        val merged = old.join(d, joinCond, "full_outer")
          .select(dims.map(c =>
            coalesce(col(s"o.$c"), col(s"d.$c")).as(c)) ++ Seq(
            // each operand is cast to the STORED (precision-37) type
            // BEFORE the addition — adding the delta at its natural
            // precision-38 sum type would re-trip the scale clamp the
            // tighten() note describes
            when(nv === 0L, lit(null).cast(sumType))
              .otherwise((coalesce(col("sum_m"), lit(0).cast(sumType))
                + coalesce(col("d_sum").cast(sumType),
                  lit(0).cast(sumType)))
                .cast(sumType)).as("sum_m"),
            when(nv === 0L, lit(null).cast(sqType))
              .otherwise((coalesce(col("sumsq_m"), lit(0).cast(sqType))
                + coalesce(col("d_sumsq").cast(sqType),
                  lit(0).cast(sqType)))
                .cast(sqType)).as("sumsq_m"),
            nv.as("n_vals"),
            (coalesce(col("n_rows"), lit(0L))
              + coalesce(col("d_n"), lit(0L))).as("n_rows")): _*)
          .filter(col("n_rows") > 0)
        store.commitTablesAt(view, cur, overwrites =
          Map("agg" -> merged, "meta" -> metaRow(merged.sparkSession)))
      }
    }
  }

  /** Exactly-once incrementally-maintained TOP-K view — the
    * k-generalization of [[refreshMinMaxView]] (k = 1 on a max is that
    * view's max half): per group, the DESC-sorted array of the k
    * largest measure values plus the row count — the serving shape of
    * a leaderboard over a 100 TB fact stream. Inserts fold
    * incrementally: merge the batch's own top-k into the stored array
    * and re-truncate — no source contact. DELETES re-derive ONLY the
    * DIRTY groups: those where some deleted value could sit inside the
    * stored top-k — a deleted value at-or-above the stored k-th
    * largest (the array's last element), a stored array still shorter
    * than k (every value is represented, so any delete hits it), or
    * deletes against a group the view has no row for. A delete
    * strictly below the k-th largest provably cannot change the top-k:
    * the stored entries survive, and the clean fold stays sound for
    * the same reason [[refreshMinMaxView]]'s is — an insert that
    * belongs in the top-k either survives (foldable) or appears in the
    * delete set at-or-above the k-th (⇒ dirty). NULL measures never
    * enter the array (collect_list drops them) and never dirty a
    * group; row counts still adjust. State + watermark commit as ONE
    * atomic CASed version; nothing-new refreshes commit nothing; same
    * `srcSub` group support. Build/recompute and the insert delta all
    * aggregate through a BOUNDED two-phase top-k (per-input-partition
    * truncate, then merge) — no aggregation buffer ever holds a whole
    * hot group (see boundedTopAgg; round 15 measured it on one group
    * of 1M–30M rows). Returns (view version,
    * dirty groups recomputed) — the O(dirty) contract the x142j
    * driver query require-pins. */
  def refreshTopKView(store: graft.sources.SnapshotStore, src: String,
      view: String, dims: Seq[String], measure: String, k: Int,
      srcSub: Option[String] = None): (Long, Long) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val source = ViewSource(store, src, srcSub)
    val srcV = source.version
    def metaRow(spark: org.apache.spark.sql.SparkSession) =
      RelOps.localLongRow(spark, "src_v" -> srcV)
    def topOf(c: org.apache.spark.sql.Column) =
      slice(sort_array(c, asc = false), 1, k)
    // BOUNDED two-phase build/recompute: a single collect_list over a
    // group would buffer EVERY value of a hot group before truncating
    // (OOM-shaped on a billion-row leaderboard key at 100 TB). Phase 1
    // truncates to top-k per (group, input partition) — the aggregation
    // buffer never exceeds one input partition's group rows, and its
    // output never exceeds k per partition. Phase 2 merges the
    // per-partition arrays — O(partitions-holding-the-group × k) per
    // group, never O(rows). Sound because per-partition top-k is a
    // superset of the group's global top-k contribution (the same
    // mergeability the insert fold's topOf(concat(...)) relies on), and
    // invariant to the partition assignment, so spark_partition_id's
    // nondeterminism across retries cannot change the result.
    def boundedTopAgg(rows: DataFrame, arrName: String,
        nName: String): DataFrame = {
      val partial = rows.withColumn("__part", spark_partition_id())
        .groupBy(dims.map(col) :+ col("__part"): _*)
        .agg(topOf(collect_list(col(measure))).as("__pk"),
          count(lit(1)).as("__pn"))
      partial.groupBy(dims.map(col): _*)
        .agg(topOf(flatten(collect_list(col("__pk")))).as(arrName),
          // coalesce keeps the empty-dims ∘ empty-source corner at 0,
          // exactly where the one-phase count(lit(1)) had it
          coalesce(sum(col("__pn")), lit(0L)).as(nName))
    }
    def aggOf(rows: DataFrame): DataFrame =
      boundedTopAgg(rows, "topk", "n_rows")
    def cond(l: String, r: String) =
      if (dims.isEmpty) lit(true)
      else dims.map(c => col(s"$l.$c") <=> col(s"$r.$c")).reduce(_ && _)
    if (!store.exists(view)) {
      val full = aggOf(source.at(srcV))
      (store.commitTables(view, overwrites =
        Map("agg" -> full, "meta" -> metaRow(full.sparkSession))), 0L)
    } else {
      val cur = store.currentVersion(view)
      val w = store.tinySubHead(view, cur, "meta").getAs[Long]("src_v")
      if (w == srcV) (cur, 0L)
      else {
        source.requireNotAhead(view, w, srcV)
        val ch = source.changes(w, srcV).localCheckpoint()
        try {
          // same bounded two-phase shape for the insert delta: one
          // backfill version can carry a hot group too
          val inserts = boundedTopAgg(
            ch.filter(col("_change") === "insert"), "i_topk", "i_n")
          val deletes = ch.filter(col("_change") === "delete")
            .groupBy(dims.map(col): _*)
            .agg(max(col(measure)).as("d_max"), count(lit(1)).as("d_n"))
          val old = store.readTableVersion(view, cur, "agg").as("o")
          val oi = old.join(inserts.as("i"), cond("o", "i"), "full_outer")
            .select(dims.map(c => coalesce(col(s"o.$c"), col(s"i.$c")).as(c))
              ++ Seq(col("topk"), col("n_rows"),
                col("i_topk"), col("i_n")): _*)
          val merged3 = oi.as("oi")
            .join(deletes.as("d"), cond("oi", "d"), "full_outer")
            .select(dims.map(c =>
              coalesce(col(s"oi.$c"), col(s"d.$c")).as(c))
              ++ Seq(col("topk"), col("n_rows"), col("i_topk"),
                col("i_n"), col("d_max"), col("d_n")): _*)
            .localCheckpoint()
          try {
            // dirty = a deleted value at-or-above the stored k-th
            // largest, a sub-k stored array (every value represented),
            // or deletes against an unknown group. A null d_max (all
            // deleted rows had NULL measures) never dirties — values
            // were never in the array; n_rows still adjusts below.
            // get() (0-based) rather than element_at: ANSI mode errors
            // element_at on an empty array, and SQL OR branches are not
            // guaranteed to short-circuit per-row — get returns null
            // out-of-bounds. The value rules (sub-k array, at-or-above
            // kth) apply only when the batch deleted a NON-NULL value
            // (d_max non-null): an all-NULL-measure delete never
            // represented anything in the array, so even a sub-k group
            // folds clean (n_rows adjusts, values provably unchanged).
            val dirty = merged3.filter(col("d_n").isNotNull &&
                (col("n_rows").isNull ||
                  (col("d_max").isNotNull &&
                    (size(col("topk")) < k ||
                      coalesce(col("d_max") >=
                        get(col("topk"), size(col("topk")) - 1),
                        lit(false))))))
              .select(dims.map(col): _*).localCheckpoint()
            try {
              val nDirty = dirty.count()
              val clean = merged3.as("m")
                .join(dirty.as("dd"), cond("m", "dd"), "left_anti")
                .select(dims.map(col) ++ Seq(
                  when(col("i_topk").isNull, col("topk"))
                    .when(col("topk").isNull, col("i_topk"))
                    .otherwise(topOf(concat(col("topk"), col("i_topk"))))
                    .as("topk"),
                  (coalesce(col("n_rows"), lit(0L))
                    + coalesce(col("i_n"), lit(0L))
                    - coalesce(col("d_n"), lit(0L))).as("n_rows")): _*)
                .filter(col("n_rows") > 0)
              val recomputed = aggOf(source.at(srcV).as("s")
                .join(dirty.as("dd"), cond("s", "dd"), "left_semi"))
              val merged = clean.unionByName(recomputed)
              val v = store.commitTablesAt(view, cur, overwrites =
                Map("agg" -> merged,
                  "meta" -> metaRow(merged.sparkSession)))
              (v, nDirty)
            } finally RelOps.releaseCheckpoint(dirty)
          } finally RelOps.releaseCheckpoint(merged3)
        } finally RelOps.releaseCheckpoint(ch)
      }
    }
  }

  /** Exactly-once incrementally-maintained APPROX-DISTINCT view — the
    * sketch sibling of [[refreshSumView]] for INSERT-ONLY sources:
    * per-dims Datasketches HLL sketches persist in the view's `agg` sub
    * and MERGE (`hll_union`) with each refresh's delta sketches, so
    * "distinct keys per group over all history" refreshes in O(changes)
    * with BOUNDED state (one ~kilobyte sketch per group, however many
    * billions of keys flowed through). Deletes cannot be subtracted
    * from an HLL — a changelog step carrying deletes fails LOUDLY
    * (rebuild from scratch, or use the exact view). Same atomic
    * watermark-rides-the-commit discipline as the other views; same
    * `srcSub` group support. Read estimates via
    * [[distinctViewEstimate]]. */
  def refreshDistinctView(store: graft.sources.SnapshotStore, src: String,
      view: String, dims: Seq[String], keyCol: String,
      srcSub: Option[String] = None): Long = {
    val source = ViewSource(store, src, srcSub)
    val srcV = source.version
    def srcAt(v: Long): DataFrame = source.at(v)
    def metaRow(spark: org.apache.spark.sql.SparkSession) =
      RelOps.localLongRow(spark, "src_v" -> srcV)
    def sketchOf(rows: DataFrame): DataFrame =
      rows.groupBy(dims.map(col): _*)
        .agg(hll_sketch_agg(col(keyCol)).as("sk"))
    if (!store.exists(view)) {
      val full = sketchOf(srcAt(srcV))
      store.commitTables(view, overwrites =
        Map("agg" -> full, "meta" -> metaRow(full.sparkSession)))
    } else {
      val cur = store.currentVersion(view)
      val w = store.tinySubHead(view, cur, "meta").getAs[Long]("src_v")
      if (w == srcV) cur
      else {
        source.requireNotAhead(view, w, srcV)
        val ch = source.changes(w, srcV).localCheckpoint()
        try {
          require(ch.filter(col("_change") === "delete").isEmpty,
            s"source '$src' changelog (v$w, v$srcV] contains DELETES — " +
              "HLL sketches are insert-only; rebuild the view from " +
              "scratch, or serve a deleting source from the exact " +
              "refreshExactDistinctView")
          val delta = sketchOf(ch).as("d")
          val old = store.readTableVersion(view, cur, "agg").as("o")
          val joinCond =
            if (dims.isEmpty) lit(true)
            else dims.map(c => col(s"o.$c") <=> col(s"d.$c")).reduce(_ && _)
          val merged = old.join(delta, joinCond, "full_outer")
            .select(dims.map(c =>
              coalesce(col(s"o.$c"), col(s"d.$c")).as(c)) :+
              when(col("o.sk").isNull, col("d.sk"))
                .when(col("d.sk").isNull, col("o.sk"))
                .otherwise(hll_union(col("o.sk"), col("d.sk"))).as("sk"): _*)
          store.commitTablesAt(view, cur, overwrites =
            Map("agg" -> merged, "meta" -> metaRow(merged.sparkSession)))
        } finally RelOps.releaseCheckpoint(ch)
      }
    }
  }

  /** Estimates from a [[refreshDistinctView]] view's current sketches:
    * (dims..., approx_distinct). */
  def distinctViewEstimate(store: graft.sources.SnapshotStore,
      view: String, dims: Seq[String]): DataFrame =
    store.readTable(view, "agg")
      .select(dims.map(col) :+
        hll_sketch_estimate(col("sk")).as("approx_distinct"): _*)

  /** Exactly-once incrementally-maintained EXACT COUNT(DISTINCT key)
    * view WITH delete support — the aggregate neither the invertible
    * folds nor the HLL view can serve: a sum can subtract a deleted
    * value back out, an HLL can only ever union, but "did this group
    * lose a distinct key?" needs the key's remaining SUPPORT (how many
    * source rows still carry it). State is a {cnt, agg, meta} group:
    *
    *   - `cnt` — per-(dims, key) signed support deltas, hash-BUCKETED
    *     on the key and APPEND-ONLY (the x62d merge-on-read layout):
    *     each refresh appends its net per-pair delta, reconciliation is
    *     sum(c) per pair, [[compactDistinctViewExact]] folds and drops
    *     dead pairs. A refresh WRITES O(changed pairs) — never O(state).
    *   - `agg` — per-dims n_distinct, rewritten each refresh (O(groups),
    *     the small side by construction — the refreshSumView contract).
    *   - `meta` — the consumed source watermark.
    *
    * A refresh reads the changelog once (O(changes)), nets it per
    * (dims, key), probes the CURRENT support of exactly the touched
    * pairs (a broadcast semi into one columnar bucket-local `cnt` scan —
    * the [[graft.ops.SimilarityOps.stateLabelProbe]] shape: no state
    * shuffle, nothing rewritten), and folds only the 0→+ births and
    * +→0 deaths into `agg` — a delete that leaves copies of its key
    * standing changes NOTHING downstream (the exactness the driver
    * query require-pins). NULL keys never count (SQL COUNT(DISTINCT)
    * semantics). State + watermark commit as ONE atomic CASed version;
    * nothing-new refreshes commit nothing; a negative reconciled
    * support fails loudly (a corrupted or double-applied changelog must
    * never serve). Returns (view version, key transitions folded) —
    * the second component is the contract that support-only churn
    * costs no distinct-count work. */
  def refreshExactDistinctView(store: graft.sources.SnapshotStore,
      src: String, view: String, dims: Seq[String], keyCol: String,
      nBuckets: Int = 0, srcSub: Option[String] = None): (Long, Long) = {
    val source = ViewSource(store, src, srcSub)
    val srcV = source.version
    val pair = dims :+ keyCol
    require(!pair.contains("n_support"),
      "'n_support' is the view's internal support column — rename the " +
        "source column")
    def metaRow(spark: org.apache.spark.sql.SparkSession) =
      RelOps.localLongRow(spark, "src_v" -> srcV)
    if (!store.exists(view)) {
      // cnt feeds BOTH build writes (the cnt sub and the agg derived
      // from it) — pin it once so the source groupBy runs one pass, not
      // two (r19 optimization round, guide §5); the pinned blocks also
      // make the row count for the scale-adaptive bucket choice ~free
      val cnt = source.at(srcV).filter(col(keyCol).isNotNull)
        .groupBy(pair.map(col): _*).agg(count(lit(1)).as("n_support"))
        .localCheckpoint()
      try {
        val nb = if (nBuckets > 0) nBuckets
          else graft.ops.RelOps.adaptiveBuckets(cnt.count())
        val agg = cnt.groupBy(dims.map(col): _*)
          .agg(count(lit(1)).as("n_distinct"))
        (store.commitTables(view,
          overwrites = Map("cnt" -> cnt, "agg" -> agg,
            "meta" -> metaRow(cnt.sparkSession)),
          buckets = Map("cnt" -> graft.sources.SubBucket(keyCol, nb))),
          0L)
      } finally RelOps.releaseCheckpoint(cnt)
    } else {
      val cur = store.currentVersion(view)
      val w = store.tinySubHead(view, cur, "meta").getAs[Long]("src_v")
      if (w == srcV) (cur, 0L) // nothing new: commit NOTHING
      else {
        source.requireNotAhead(view, w, srcV)
        commitDistinctDelta(store, view, dims, keyCol,
          source.changes(w, srcV), srcV, cur)
      }
    }
  }

  /** The support-transition merge + atomic watermark commit shared by
    * the PULL refresh ([[refreshExactDistinctView]]) and the FEED-driven
    * fold ([[foldExactDistinctStep]]) — one definition, the
    * [[commitSumDelta]] discipline, so the two consumption shapes
    * cannot diverge. */
  private def commitDistinctDelta(store: graft.sources.SnapshotStore,
      view: String, dims: Seq[String], keyCol: String, ch: DataFrame,
      srcV: Long, cur: Long): (Long, Long) = {
    val pair = dims :+ keyCol
    def metaRow(spark: org.apache.spark.sql.SparkSession) =
      RelOps.localLongRow(spark, "src_v" -> srcV)
        // net support delta per touched (dims, key) pair — O(changes);
        // net-zero churn drops here and costs nothing downstream
        val delta = ch
          .filter(col(keyCol).isNotNull)
          .withColumn("__d",
            when(col("_change") === "insert", 1L).otherwise(-1L))
          .groupBy(pair.map(col): _*).agg(sum(col("__d")).as("d_c"))
          .filter(col("d_c") =!= 0L)
          .localCheckpoint()
        try {
          // current support of EXACTLY the touched pairs: size-gated
          // broadcast semi into one bucket-local columnar scan of cnt —
          // no state shuffle, no rewrite (the stateLabelProbe shape);
          // a bulk-delete-sized batch falls back to shuffling only the
          // probe side ([[probeSide]])
          val nDelta = delta.count()
          val touched = delta.select(pair.map(col): _*)
          val probeCond = pair
            .map(c => col(s"s.$c") <=> col(s"t.$c")).reduce(_ && _)
          val oldC = store.readTableVersion(view, cur, "cnt").as("s")
            .join(probeSide(touched.as("t"), nDelta), probeCond, "left_semi")
            .groupBy(pair.map(col): _*).agg(sum(col("n_support")).as("old_c"))
          val pairCond = pair
            .map(c => col(s"o.$c") <=> col(s"d.$c")).reduce(_ && _)
          val trans = oldC.as("o")
            .join(delta.as("d"), pairCond, "full_outer")
            .select(dims.map(c =>
              coalesce(col(s"o.$c"), col(s"d.$c")).as(c)) ++ Seq(
              coalesce(col("old_c"), lit(0L)).as("old_c"),
              (coalesce(col("old_c"), lit(0L)) +
                coalesce(col("d_c"), lit(0L))).as("new_c")): _*)
            .localCheckpoint()
          try {
            // births (0→+) and deaths (+→0) are the ONLY transitions
            // that move a distinct count
            def transition = when(
                col("old_c") === 0L && col("new_c") > 0L, 1L)
              .when(col("old_c") > 0L && col("new_c") === 0L, -1L)
              .otherwise(0L)
            // ONE aggregate over the pinned transitions serves BOTH the
            // negative-support guard and the moves metric (r19
            // optimization round: previously an isEmpty probe plus a
            // separate sum — two jobs per fold)
            val guard = trans.agg(
              count_if(col("new_c") < 0L).as("neg"),
              sum(abs(transition)).as("moves")).head()
            require(guard.getLong(0) == 0L,
              s"view '$view': a (dims, key) support went NEGATIVE — " +
                "the changelog was double-applied or corrupted; " +
                "refusing to serve a wrong distinct count")
            val nMoves = if (guard.isNullAt(1)) 0L else guard.getLong(1)
            val aggDelta = trans.withColumn("__t", transition)
              .groupBy(dims.map(col): _*)
              .agg(sum(col("__t")).as("d_nd"))
            val old = store.readTableVersion(view, cur, "agg").as("o")
            val d = aggDelta.as("d")
            val joinCond =
              if (dims.isEmpty) lit(true)
              else dims.map(c => col(s"o.$c") <=> col(s"d.$c"))
                .reduce(_ && _)
            val merged0 = old.join(d, joinCond, "full_outer")
              .select(dims.map(c =>
                coalesce(col(s"o.$c"), col(s"d.$c")).as(c)) :+
                (coalesce(col("n_distinct"), lit(0L)) +
                  coalesce(col("d_nd"), lit(0L))).as("n_distinct"): _*)
            // emptied GROUPS drop (GROUP BY semantics: no rows, no
            // group) — but the EMPTY-dims global view keeps its single
            // row at 0, matching SELECT COUNT(DISTINCT k) over an
            // emptied table (one row, 0), which the build path also
            // yields on an empty source
            val merged = if (dims.isEmpty) merged0
              else merged0.filter(col("n_distinct") > 0L)
            val v = store.commitTablesAt(view, cur,
              appends = Map("cnt" -> delta
                .select(pair.map(col) :+ col("d_c").as("n_support"): _*)),
              overwrites = Map("agg" -> merged,
                "meta" -> metaRow(merged.sparkSession)))
            (v, nMoves)
          } finally RelOps.releaseCheckpoint(trans)
        } finally RelOps.releaseCheckpoint(delta)
  }

  /** Exactly-once fold of ONE change-feed step into an exact-distinct
    * view — the consumer half of
    * [[graft.streaming.StreamOps.drainChangeFeed]] for
    * [[refreshExactDistinctView]] state, with [[foldSumViewStep]]'s
    * exactly-once contract verbatim: a redelivered step commits
    * NOTHING, a gap refuses loudly, step v1 (the feed's initial
    * snapshot as inserts) builds the view, and the shared
    * [[commitDistinctDelta]] body keeps feed and pull consumption
    * identical. Returns (view version, key transitions). */
  def foldExactDistinctStep(store: graft.sources.SnapshotStore,
      view: String, dims: Seq[String], keyCol: String, changes: DataFrame,
      srcV: Long, nBuckets: Int = 0): (Long, Long) = {
    val pair = dims :+ keyCol
    require(!pair.contains("n_support"),
      "'n_support' is the view's internal support column — rename the " +
        "source column")
    if (!store.exists(view)) {
      require(srcV == 1L,
        s"view '$view' does not exist — the feed must deliver from " +
          s"version 1, got step v$srcV (was the checkpoint shared?)")
      // pinned once for the same two-writes + adaptive-bucket reasons
      // as the pull build (refreshExactDistinctView)
      val cnt = changes.filter(col("_change") === "insert")
        .filter(col(keyCol).isNotNull)
        .groupBy(pair.map(col): _*).agg(count(lit(1)).as("n_support"))
        .localCheckpoint()
      try {
        val nb = if (nBuckets > 0) nBuckets
          else graft.ops.RelOps.adaptiveBuckets(cnt.count())
        val agg = cnt.groupBy(dims.map(col): _*)
          .agg(count(lit(1)).as("n_distinct"))
        (store.commitTables(view,
          overwrites = Map("cnt" -> cnt, "agg" -> agg,
            "meta" -> RelOps.localLongRow(cnt.sparkSession,
              "src_v" -> srcV)),
          buckets = Map("cnt" -> graft.sources.SubBucket(keyCol, nb))),
          0L)
      } finally RelOps.releaseCheckpoint(cnt)
    } else {
      val cur = store.currentVersion(view)
      val w = store.tinySubHead(view, cur, "meta").getAs[Long]("src_v")
      if (w >= srcV) (cur, 0L) // redelivered step: commit NOTHING
      else {
        require(srcV == w + 1,
          s"change-feed gap: view '$view' consumed v$w, step is v$srcV")
        commitDistinctDelta(store, view, dims, keyCol, changes, srcV, cur)
      }
    }
  }

  /** Exact distinct counts from a [[refreshExactDistinctView]] view
    * (optionally time-traveled): (dims..., n_distinct). O(groups). */
  def exactDistinctOf(store: graft.sources.SnapshotStore, view: String,
      dims: Seq[String], version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(store.currentVersion(view))
    store.readTableVersion(view, v, "agg")
      .select((dims :+ "n_distinct").map(col): _*)
  }

  /** Fold the `cnt` sub's merge-on-read deltas to one row per live
    * (dims, key) pair — bounds read amplification exactly like
    * [[graft.ops.SimilarityOps.compactComponentsStateVersioned]]; dead
    * pairs (support 0) drop. CASed on the read version. */
  def compactDistinctViewExact(store: graft.sources.SnapshotStore,
      view: String, dims: Seq[String], keyCol: String): Long = {
    val cur = store.currentVersion(view)
    val pair = dims :+ keyCol
    val folded = store.readTableVersion(view, cur, "cnt")
      .groupBy(pair.map(col): _*).agg(sum(col("n_support")).as("n_support"))
      .filter(col("n_support") > 0L)
      .localCheckpoint()
    try store.commitTablesAt(view, cur, overwrites = Map("cnt" -> folded))
    finally RelOps.releaseCheckpoint(folded)
  }

  /** Exactly-once incrementally-maintained SCD TYPE-2 dimension history
    * — the [[graft.ops.RelOps.pitJoin]] feeder maintained from the
    * snapshot changelog instead of rebuilt per query (x85 collapses a
    * LOG table once; this tracks a MUTABLE dimension table version by
    * version): every key's attribute history becomes validity INTERVALS
    * `[valid_from_v, valid_to_v)` in source-version coordinates, with
    * the current row open (`valid_to_v` NULL).
    *
    * State is append-only — history must never rewrite — as an
    * {opens, closes, meta} group, both subs hash-bucketed on the key:
    * an insert at commit v APPENDS an open (key, attrs, valid_from_v);
    * a delete at commit v APPENDS a close (key, valid_to_v). An update
    * (delete+insert at one commit) closes the old interval and opens
    * the new at the same v. One refresh folds ANY number of source
    * commits exactly (the changelog's `_commit_v` stamps each event),
    * appending O(changes) rows — the view's total size is the history's,
    * but a refresh never touches it. Intervals reconstruct at read
    * ([[scd2Of]]) by per-key RANK PAIRING: the i-th close (by version)
    * closes the i-th open — sound because a dimension key has at most
    * ONE live row at a time (enforced at build; the per-key event
    * sequence is then strictly alternating open/close with updates
    * fusing close(v)+open(v)). Nothing-new refreshes commit nothing;
    * state + watermark commit as ONE atomic CASed version. History
    * before the view's build version is not reconstructible (the build
    * snapshot opens at its source version). Returns (view version,
    * events folded). */
  def refreshScd2View(store: graft.sources.SnapshotStore, src: String,
      view: String, key: String, nBuckets: Int = 0,
      srcSub: Option[String] = None): (Long, Long) = {
    val source = ViewSource(store, src, srcSub)
    val srcV = source.version
    def metaRow(spark: org.apache.spark.sql.SparkSession) =
      RelOps.localLongRow(spark, "src_v" -> srcV)
    if (!store.exists(view)) {
      val snap = source.at(srcV)
      require(!snap.columns.contains("valid_from_v") &&
        !snap.columns.contains("valid_to_v"),
        "the source already has a valid_from_v/valid_to_v column — " +
          "rename it; those are the view's interval columns")
      // one probe job for both build-time guards (r18 optimization
      // round: was a dup isEmpty plus a null isEmpty — two jobs); the
      // SAME aggregate also yields the row count the scale-adaptive
      // bucket choice needs (r19 — RelOps.adaptiveBuckets), so deriving
      // the layout from the build snapshot costs zero extra jobs
      val probe = snap.groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(max(col("c")).as("mx"),
          count_if(col(key).isNull).as("badNull"),
          sum(col("c")).as("total")).head()
      require(probe.isNullAt(0) || probe.getLong(0) <= 1L,
        s"source '$src' has duplicate '$key' values — SCD2 tracks a " +
          "dimension with ONE live row per key")
      require(probe.isNullAt(1) || probe.getLong(1) == 0L,
        s"source '$src' has NULL '$key' values — an SCD2 dimension " +
          "key is a primary key")
      val nb = if (nBuckets > 0) nBuckets
        else graft.ops.RelOps.adaptiveBuckets(
          if (probe.isNullAt(2)) 0L else probe.getLong(2))
      val opens = snap.withColumn("valid_from_v", lit(srcV))
      // schema-stable empty closes sub: the first deleting refresh
      // appends into an existing layout instead of creating one
      val emptyCloses = opens.select(col(key),
        lit(srcV).as("valid_to_v")).filter(lit(false))
      (store.commitTables(view,
        overwrites = Map("opens" -> opens, "closes" -> emptyCloses,
          "meta" -> metaRow(opens.sparkSession)),
        buckets = Map(
          "opens" -> graft.sources.SubBucket(key, nb),
          "closes" -> graft.sources.SubBucket(key, nb))), 0L)
    } else {
      val cur = store.currentVersion(view)
      val w = store.tinySubHead(view, cur, "meta").getAs[Long]("src_v")
      if (w == srcV) (cur, 0L)
      else {
        source.requireNotAhead(view, w, srcV)
        commitScd2Delta(store, view, key, source.changes(w, srcV),
          srcV, cur)
      }
    }
  }

  /** The interval-event append + atomic watermark commit shared by the
    * PULL refresh ([[refreshScd2View]]) and the FEED-driven fold
    * ([[foldScd2Step]]) — one definition, so the two consumption shapes
    * cannot diverge. */
  private def commitScd2Delta(store: graft.sources.SnapshotStore,
      view: String, key: String, chIn: DataFrame, srcV: Long,
      cur: Long): (Long, Long) = {
    val ch = chIn.localCheckpoint()
    try {
      // ONE aggregate serves the batch size and the NULL-key guard
      // (r18 optimization round: previously a count plus a separate
      // isEmpty probe — two jobs per fold)
      val head = ch.agg(count(lit(1)).as("n"),
        count_if(col(key).isNull).as("badNull")).head()
      val n = head.getLong(0)
      // the one-live-row-per-key contract is [[scd2Of]]'s rank-pairing
      // SOUNDNESS precondition — enforce it on every fold, loudly: a
      // source that grew a duplicate key (or a NULL key, which no join
      // here could pair) must refuse instead of silently serving wrong
      // history. After this batch folds, every touched key's balance
      // (stored opens − stored closes + batch inserts − batch deletes)
      // must be 0 (closed out) or 1 (one live row). Two broadcast-semi
      // probes into the bucket-local subs — the touched keys' rows
      // only, never a state rewrite.
      require(head.getLong(1) == 0L,
        s"the changelog carries NULL '$key' values — an SCD2 dimension " +
          "key is a primary key")
      locally {
        // size-gated like the exact-distinct probe: touched ≤ n (the
        // batch's event count, already computed on the checkpointed ch).
        // touched derives straight from the pinned ch blocks — both
        // balOf probes recompute the tiny distinct inside the ONE guard
        // job rather than paying a separate checkpoint job for it (r19
        // optimization round: one job per fold saved)
        def touched = ch.select(col(key)).distinct()
        def balOf(sub: String) =
          store.readTableVersion(view, cur, sub).as("s")
            .join(probeSide(touched.as("t"), n),
              col(s"s.$key") === col(s"t.$key"), "left_semi")
            .groupBy(col(key)).agg(count(lit(1)).as("n"))
        val batch = ch.withColumn("__d",
            when(col("_change") === "insert", 1L).otherwise(-1L))
          .groupBy(col(key)).agg(sum(col("__d")).as("d"))
        val bad = balOf("opens").withColumnRenamed("n", "no")
          .join(balOf("closes").withColumnRenamed("n", "nc"),
            Seq(key), "full_outer")
          .join(batch, Seq(key), "full_outer")
          .select(col(key), (coalesce(col("no"), lit(0L)) -
            coalesce(col("nc"), lit(0L)) +
            coalesce(col("d"), lit(0L))).as("b"))
          .filter(col("b") < 0L || col("b") > 1L)
        require(bad.isEmpty,
          s"view '$view': a key would hold more than one live row (or " +
            "close an unopened one) after this fold — the source " +
            "violated SCD2's one-live-row-per-key contract; fix the " +
            "source and rebuild the view")
      }
      val opens = ch.filter(col("_change") === "insert")
        .withColumnRenamed("_commit_v", "valid_from_v")
        .drop("_change")
      val closes = ch.filter(col("_change") === "delete")
        .select(col(key), col("_commit_v").as("valid_to_v"))
      (store.commitTablesAt(view, cur,
        appends = Map("opens" -> opens, "closes" -> closes),
        overwrites = Map("meta" -> RelOps.localLongRow(ch.sparkSession,
          "src_v" -> srcV))), n)
    } finally RelOps.releaseCheckpoint(ch)
  }

  /** Exactly-once fold of ONE change-feed step into an SCD2 history
    * view — [[foldSumViewStep]]'s contract for [[refreshScd2View]]
    * state: redelivery commits nothing, gaps refuse, step v1 builds
    * (intervals open at the feed's initial snapshot), and the shared
    * [[commitScd2Delta]] body keeps feed and pull identical. Returns
    * (view version, events folded). */
  def foldScd2Step(store: graft.sources.SnapshotStore, view: String,
      key: String, changes: DataFrame, srcV: Long,
      nBuckets: Int = 0): (Long, Long) = {
    if (!store.exists(view)) {
      require(srcV == 1L,
        s"view '$view' does not exist — the feed must deliver from " +
          s"version 1, got step v$srcV (was the checkpoint shared?)")
      val snap = changes.filter(col("_change") === "insert")
        .drop("_change", "_commit_v")
      require(!snap.columns.contains("valid_from_v") &&
        !snap.columns.contains("valid_to_v"),
        "the source already has a valid_from_v/valid_to_v column — " +
          "rename it; those are the view's interval columns")
      // one aggregate serves the dup guard AND the row count the
      // scale-adaptive bucket choice needs (r19 — previously a dup
      // isEmpty probe; same job count, layout now derives from the
      // initial snapshot instead of a constant)
      val probe = snap.groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(max(col("c")).as("mx"), sum(col("c")).as("total")).head()
      require(probe.isNullAt(0) || probe.getLong(0) <= 1L,
        s"the initial feed step has duplicate '$key' values — SCD2 " +
          "tracks a dimension with ONE live row per key")
      val nb = if (nBuckets > 0) nBuckets
        else graft.ops.RelOps.adaptiveBuckets(
          if (probe.isNullAt(1)) 0L else probe.getLong(1))
      val opens = snap.withColumn("valid_from_v", lit(srcV))
      val emptyCloses = opens.select(col(key),
        lit(srcV).as("valid_to_v")).filter(lit(false))
      (store.commitTables(view,
        overwrites = Map("opens" -> opens, "closes" -> emptyCloses,
          "meta" -> RelOps.localLongRow(opens.sparkSession,
            "src_v" -> srcV)),
        buckets = Map(
          "opens" -> graft.sources.SubBucket(key, nb),
          "closes" -> graft.sources.SubBucket(key, nb))), 0L)
    } else {
      val cur = store.currentVersion(view)
      val w = store.tinySubHead(view, cur, "meta").getAs[Long]("src_v")
      if (w >= srcV) (cur, 0L) // redelivered step: commit NOTHING
      else {
        require(srcV == w + 1,
          s"change-feed gap: view '$view' consumed v$w, step is v$srcV")
        commitScd2Delta(store, view, key, changes, srcV, cur)
      }
    }
  }

  /** The SCD2 intervals of a [[refreshScd2View]] view (optionally
    * time-traveled): (key, attrs..., valid_from_v, valid_to_v) with
    * NULL valid_to_v on each key's current row. Reconstruction = one
    * bucket-local rank pairing per key (see refreshScd2View) over the
    * UNSEALED events, unioned with the `sealed` sub's already-paired
    * intervals when a [[compactScd2View]] has run — so the per-read
    * pairing cost is O(events since the last compaction), not
    * O(all history). The content AS OF source version V is exactly
    * `valid_from_v <= V AND (valid_to_v IS NULL OR valid_to_v > V)` —
    * and `(key, valid_from_v)` is unique, the
    * [[graft.ops.RelOps.pitJoin]] contract. */
  def scd2Of(store: graft.sources.SnapshotStore, view: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(store.currentVersion(view))
    val paired = scd2RankPair(
      store.readTableVersion(view, v, "opens"),
      store.readTableVersion(view, v, "closes"))
    if (store.subTables(view, v).contains("sealed"))
      store.readTableVersion(view, v, "sealed").unionByName(paired)
    else paired
  }

  /** Per-key rank pairing of open/close events into validity intervals —
    * the i-th close (by version) closes the i-th open; sound because the
    * one-live-row-per-key contract makes each key's event sequence
    * strictly alternating (see [[refreshScd2View]]). */
  private def scd2RankPair(opens: DataFrame,
      closes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = closes.columns(0)
    val wo = Window.partitionBy(col(key)).orderBy(col("valid_from_v"))
    val wc = Window.partitionBy(col(key)).orderBy(col("valid_to_v"))
    opens.withColumn("__rn", row_number().over(wo))
      .join(closes.withColumn("__rn", row_number().over(wc)),
        Seq(key, "__rn"), "left_outer")
      .drop("__rn")
  }

  /** Seal the view's CLOSED intervals into a checkpointed `sealed` sub —
    * [[compactDistinctViewExact]]'s sibling for SCD2 state, closing the
    * unbounded-read-cost growth of pure event replay: without it,
    * [[scd2Of]] rank-pairs EVERY historical open/close on every read,
    * so months of dimension churn make each point-in-time read
    * O(all-history-events). One compaction pairs the accumulated
    * events ONCE, APPENDS the newly closed intervals to `sealed`
    * (bucketed on the key like the event subs; earlier sealed rows are
    * never rewritten — the append-only history contract survives), and
    * resets the event subs to exactly the still-open rows — so
    * subsequent reads pair only the post-compaction tail, and the
    * NEXT compaction's cost is O(events since this one), never
    * O(history). Content-preserving by construction ([[scd2Of]] at the
    * new version ≡ at `cur` — the spec pins it across every source
    * version), CASed on the read version, time travel to
    * pre-compaction view versions unaffected. Refresh/fold continue
    * unchanged on the compacted layout: rank pairing stays sound
    * because compaction removes per key an EQUAL number of opens and
    * closes (the paired prefix), so later events' ranks still align,
    * and the fold's balance probe sees the same open−close count
    * (0 or 1) per key. Returns the new view version. */
  def compactScd2View(store: graft.sources.SnapshotStore,
      view: String): Long = {
    val cur = store.currentVersion(view)
    val opens = store.readTableVersion(view, cur, "opens")
    val closes = store.readTableVersion(view, cur, "closes")
    val key = closes.columns(0)
    val paired = scd2RankPair(opens, closes).localCheckpoint()
    try {
      val newlyClosed = paired.filter(col("valid_to_v").isNotNull)
      // restore the opens sub's committed column order (the pairing
      // join moved the key to the front)
      val stillOpen = paired.filter(col("valid_to_v").isNull)
        .select(opens.columns.map(col).toIndexedSeq: _*)
      val emptyCloses = closes.filter(lit(false))
      val nBuckets = store.bucketSpecOf(view, "opens")
        .map(_.nBuckets).getOrElse(32)
      store.commitTablesAt(view, cur,
        appends = Map("sealed" -> newlyClosed),
        overwrites = Map("opens" -> stillOpen, "closes" -> emptyCloses),
        buckets = Map("sealed" ->
          graft.sources.SubBucket(key, nBuckets)))
    } finally RelOps.releaseCheckpoint(paired)
  }

  /** Exactly-once incrementally-maintained JOIN view — [[refreshSumView]]'s
    * sibling for V = A ⋈ B (inner equi-join on `joinKey`, view rows
    * identified by `aPk`; the [[maintainJoinView]] shape and caveats —
    * both sources keyed, B by `joinKey`). The view is a {`view`,
    * `meta(src_a_v, src_b_v)`} group: every refresh derives each side's
    * touched keys from its CHANGELOG since the watermark pair
    * ([[graft.sources.SnapshotStore.changesBetween]] — append commits
    * contribute O(batch), rewrites only their rewritten files), repairs
    * only touched view rows, and commits the repaired view WITH both
    * consumed watermarks as ONE atomic CASed version. Nothing-new
    * refreshes commit nothing; a crash replays the same source ranges;
    * concurrent refreshers CAS on the view version. One refresh may fold
    * multiple commits on BOTH sides. */
  def refreshJoinView(store: graft.sources.SnapshotStore, srcA: String,
      srcB: String, view: String, aPk: String, joinKey: String): Long = {
    val a = ViewSource(store, srcA, None)
    val b = ViewSource(store, srcB, None)
    val aV = a.version
    val bV = b.version
    def metaRow(spark: org.apache.spark.sql.SparkSession) =
      RelOps.localLongRow(spark, "src_a_v" -> aV, "src_b_v" -> bV)
    if (!store.exists(view)) {
      val full = a.at(aV).join(b.at(bV), joinKey)
      store.commitTables(view, overwrites =
        Map("view" -> full, "meta" -> metaRow(full.sparkSession)))
    } else {
      val cur = store.currentVersion(view)
      val m = store.tinySubHead(view, cur, "meta")
      val (wa, wb) = (m.getAs[Long]("src_a_v"), m.getAs[Long]("src_b_v"))
      if (wa == aV && wb == bV) cur // nothing new on either side
      else {
        a.requireNotAhead(view, wa, aV)
        b.requireNotAhead(view, wb, bV)
        val changedA = a.changes(wa, aV).select(col(aPk)).distinct()
        val changedB = b.changes(wb, bV).select(col(joinKey)).distinct()
        val repaired = maintainJoinView(
          store.readTableVersion(view, cur, "view"), aPk, joinKey,
          a.at(aV), b.at(bV), changedA, changedB)
        store.commitTablesAt(view, cur, overwrites =
          Map("view" -> repaired, "meta" -> metaRow(repaired.sparkSession)))
      }
    }
  }

  /** Hive partition-path unescape: %XX hex sequences → chars. The inverse
    * of the escaping Spark applies when WRITING partition directories —
    * decoding the on-disk name avoids ever re-encoding values ourselves. */
  private[graft] def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
