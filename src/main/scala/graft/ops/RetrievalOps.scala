package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X125: keyword-retrieval scoring over the corpus — the ranking half a
  * retrieval-augmented pipeline needs next to the vector paths (X32/X72):
  * BM25 (Robertson & Zaragoza 2009, the Okapi formulation with Lucene's
  * non-negative idf).
  *
  * Scale shape: the corpus explodes to tokens ONCE and filters to the
  * query's terms IMMEDIATELY — the per-(doc, term) tf table is bounded by
  * |terms| · |matching docs|, not corpus size, and every subsequent join
  * key (term, doc) is tiny. df and the corpus stats (N, total tokens) are
  * scalar-sized; at 100 TB the only corpus-sized job is the one filtered
  * token scan, and a deployment serving many queries uses the persisted
  * inverted index ([[buildBm25IndexVersioned]]/
  * [[probeBm25IndexVersioned]]) instead of re-tokenizing per query.
  *
  * Numeric discipline (x60's): tf/df/dl cast to double BEFORE arithmetic,
  * every expression left-associated exactly as the oracle SQL writes it,
  * avgdl derived as exact-long token total / doc count (ONE deterministic
  * division, not a float mean), final per-doc sum rounded to 6.
  */
object RetrievalOps {

  /** BM25 scores of every document matching ≥1 query term.
    * Returns (idCol, n_hit, bm25), one row per matching doc.
    * The tokenized corpus is localCheckpoint'd before fanning out to the
    * stats / dl / tf consumers, so the corpus really is tokenized ONCE
    * (stats is an eager .head(), dl and tf are lazy — without the pin the
    * scan would run three times).
    *
    * CALLER CONTRACT (the connectedComponents discipline): the returned
    * plan references the checkpointed token base, so its storage blocks
    * stay pinned until the driver GCs the plan. A long-lived session
    * scoring many ad-hoc queries should either drop references promptly
    * (our harness sweeps persistent RDDs between queries) or use the
    * persisted index ([[buildBm25IndexVersioned]]/
    * [[probeBm25IndexVersioned]]), which holds
    * no blocks — per-query scoring over a static corpus is exactly what
    * the index exists for. */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    // checkpoint, don't release: the returned plan still references the
    // checkpointed base (releaseCheckpoint's builder-function rule) —
    // blocks live until driver GC, the accepted cost of intra-query reuse
    val base = docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__t"))
      .localCheckpoint()
    // corpus stats: exact long total / long count — deterministic division
    val stats = base.agg(count(lit(1)).as("n"),
      sum(size(col("__t"))).as("tt")).head()
    val nDocs = stats.getLong(0)
    require(nDocs > 0, "bm25Scores: empty corpus (avgdl undefined)")
    val avgdl = stats.getLong(1).toDouble / nDocs
    val dl = base.select(col(idCol),
      size(col("__t")).cast("double").as("__dl"))
    val tf = base
      .select(col(idCol), explode(col("__t")).as("__w"))
      .filter(col("__w").isin(terms: _*))
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    scoreMatches(tf, dl, idCol, nDocs, avgdl, k1, b)
  }

  /** The one definition of the Okapi score join: tf (idCol, __w, __tf) ×
    * derived df × dl (idCol, __dl) under scalar (nDocs, avgdl). Both the
    * from-scratch scorer and the persisted-index probe end here, so
    * incremental ≡ from-scratch is parity by construction — the x125b
    * driver contract only has to prove the INPUTS match. */
  private def scoreMatches(tf: DataFrame, dl: DataFrame, idCol: String,
                           nDocs: Long, avgdl: Double, k1: Double,
                           b: Double): DataFrame = {
    val dfq = tf.groupBy("__w").agg(count(lit(1)).cast("double").as("__df"))
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val score = idf * (col("__tf") * lit(k1 + 1.0)) /
      (col("__tf") + lit(k1) *
        (lit(1.0 - b) + lit(b) * col("__dl") / lit(avgdl)))
    tf.join(broadcast(dfq), "__w")
      .join(dl, idCol)
      .select(col(idCol), score.as("__s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit"), round(sum(col("__s")), 6).as("bm25"))
  }

  // --- X125b: the persisted inverted index ----------------------------
  // Four sub-tables of one SnapshotStore group, committed atomically by
  // the *Versioned functions below (X125d):
  //   postings (id, term, tf) — the inverted index proper
  //   dl       (id, dl)       — doc lengths + the doc registry
  //   stats    (n, tt)        — one row PER COMMIT; probes sum
  //   dead     (id)           — tombstones (a dead id stays dead until
  //                             compaction drops its rows — only then
  //                             can it re-add)
  // Probes read postings filtered to the query's terms (parquet pushes
  // the `term IN (...)` predicate to the scan — the corpus-sized token
  // scan bm25Scores pays per query becomes a pruned index read bounded
  // by |terms| · |matching docs|), dl joins only against that bounded tf
  // side, and the stats fold is additive longs so N commits compose to
  // exactly the from-scratch totals. Doc ids must be unique across
  // corpus and batches.

  private def postingsOf(base: DataFrame): DataFrame =
    base.select(col("id"), explode(col("__t")).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))

  private def statsOf(base: DataFrame): DataFrame =
    base.agg(count(lit(1)).as("n"),
      coalesce(sum(size(col("__t"))), lit(0L)).as("tt"))

  /** The index's uniqueness contract, enforced LOUDLY: a batch carrying
    * the same doc id twice would double-count dl and the stats row while
    * keeping them mutually consistent — the one torn shape
    * [[auditBm25IndexVersioned]] cannot detect. One agg over the already-
    * checkpointed batch (O(batch)); the registry anti-join only guards
    * against ids indexed in PRIOR commits, not within-batch collisions. */
  private def requireUniqueIds(base: DataFrame, op: String): Unit = {
    val r = base.agg(count(lit(1)).as("n"),
      count_distinct(col("id")).as("d")).head()
    require(r.getLong(0) == r.getLong(1),
      s"$op: batch contains ${r.getLong(0) - r.getLong(1)} duplicate doc " +
        "ids — the index's dl/stats would silently double-count; " +
        "dedup the batch (e.g. dropDuplicates) before indexing")
  }

  /** The probe body over the index's four frames (any version): the
    * pruned postings read and tombstone anti-joins feeding the shared
    * [[scoreMatches]], so probe ≡ [[bm25Scores]] over the same corpus is
    * parity by construction. */
  private def probeCore(stats: DataFrame, postings: DataFrame,
                        dlTable: DataFrame, dead: DataFrame, idCol: String,
                        terms: Seq[String], k1: Double,
                        b: Double): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val st = stats.agg(sum(col("n")).as("n"), sum(col("tt")).as("tt")).head()
    val nDocs = if (st.isNullAt(0)) 0L else st.getLong(0)
    require(nDocs > 0, "probeBm25IndexVersioned: empty index (avgdl undefined)")
    val avgdl = st.getLong(1).toDouble / nDocs
    // no broadcast hint: between compactions the tombstone list is
    // unbounded under delete churn, and a forced broadcast of it on the
    // query hot path risks the driver/executor memory limit — AQE
    // broadcasts it when the actual size is small and falls back to a
    // shuffled anti-join when it isn't
    val dl = dlTable
      .join(dead, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("dl").cast("double").as("__dl"))
    val tf = postings
      .filter(col("term").isin(terms: _*))
      .join(dead, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("term").as("__w"),
        col("tf").cast("double").as("__tf"))
    scoreMatches(tf, dl, idCol, nDocs, avgdl, k1, b)
  }

  /** Consistency audit over the index's four frames. Invariants:
    *   - every postings doc id is registered in dl (no orphan postings)
    *   - the additive stats totals equal the dl-derived live totals
    * Returns (consistent, orphanPostingDocs, docDrift, tokenDrift) — all
    * zero ⟺ consistent. A group whose sub-tables were committed
    * inconsistently by hand (or by a writer bypassing the append/delete
    * functions) is what these counts expose. */
  private def auditCore(stats: DataFrame, postings: DataFrame,
      dl: DataFrame, dead: DataFrame): (Boolean, Long, Long, Long) = {
    val orphans = postings.select("id").distinct()
      .join(dl.select("id"), Seq("id"), "left_anti").count()
    val st = stats
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("tt")), lit(0L)).as("tt")).head()
    val live = dl.join(dead, Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("tt"))
      .head()
    val docDrift = st.getLong(0) - live.getLong(0)
    val tokenDrift = st.getLong(1) - live.getLong(1)
    (orphans == 0 && docDrift == 0 && tokenDrift == 0,
      orphans, docDrift, tokenDrift)
  }

  // --- X125d: the BM25 index as ONE versioned multi-table group ---------

  /** X125d: the persisted BM25 index routed through
    * [[graft.sources.SnapshotStore.commitTables]] — every
    * build/append/delete/compact lands as ONE atomic multi-table commit:
    * all sub-tables' data dirs + one manifest + one pointer swap. A crash
    * ANYWHERE mid-commit leaves the index serving the previous version
    * with every sub-table mutually consistent — no commit can tear the
    * group (a postings append without its dl/stats rows, say), so
    * [[auditBm25IndexVersioned]] stays a cheap invariant check that must
    * pass at every version. Commits compose with the store's history: a
    * bad ingest is one metadata-only rollback away, probes can
    * time-travel to any live version, and
    * [[graft.sources.SnapshotStore.expireVersions]]/vacuum bound the
    * storage. */
  def buildBm25IndexVersioned(ss: graft.sources.SnapshotStore, name: String,
      docs: DataFrame, idCol: String, textCol: String): Long = {
    val v0 = ss.currentVersion(name)
    val base = docs.select(col(idCol).as("id"),
      TextOps.tokens(col(textCol)).as("__t")).localCheckpoint()
    try {
      requireUniqueIds(base, "buildBm25IndexVersioned")
      // pinned at v0: an interleaved commit makes the claim fail
      // retryably instead of being silently clobbered by the overwrite
      ss.commitTablesAt(name, v0, overwrites = indexTablesOf(base) +
        ("dead" -> base.select(col("id")).filter(lit(false))))
    } finally RelOps.releaseCheckpoint(base)
  }

  /** The three additive sub-tables an append commits (build adds the
    * empty tombstone list on top). Private-to-graft so the x125d
    * kill-at-the-seam contract can stage EXACTLY what the real append
    * stages, then die before the swap. */
  private[graft] def indexTablesOf(base: DataFrame): Map[String, DataFrame] =
    Map("postings" -> postingsOf(base),
      "dl" -> base.select(col("id"), size(col("__t")).cast("long").as("dl")),
      "stats" -> statsOf(base))

  /** Tokenized fresh-docs base for a batch against the versioned index:
    * anti-joins the dl registry AT the pinned version `v0` (the version
    * the enclosing read-modify-write will CAS against), tokenizes only
    * survivors. Caller must releaseCheckpoint. */
  private[graft] def freshBaseVersioned(ss: graft.sources.SnapshotStore,
      name: String, v0: Long, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val fresh = batch.join(
      ss.readTableVersion(name, v0, "dl")
        .select(col("id").as("__indexed_id")),
      col(idCol) === col("__indexed_id"), "left_anti")
    fresh.select(col(idCol).as("id"),
      TextOps.tokens(col(textCol)).as("__t")).localCheckpoint()
  }

  /** Fold a batch into the versioned BM25 index (ingest commit).
    * Idempotent on doc id — the anti-join against the dl registry runs
    * BEFORE tokenization, so a retried batch is never re-tokenized and
    * adds nothing twice; the stats row is additive and the work
    * O(batch). The commit is ATOMIC across postings/dl/stats. A fully
    * duplicate batch commits NOTHING (no new version — redelivery leaves
    * even the version history unchanged). The registry read is PINNED
    * and the commit CASes on it (commitTablesAt), so a concurrent commit
    * between read and commit surfaces as a retryable conflict rather
    * than double-registered docs. Returns docs added. */
  def appendBm25BatchVersioned(ss: graft.sources.SnapshotStore,
      name: String, batch: DataFrame, idCol: String,
      textCol: String): Long = {
    val v0 = ss.currentVersion(name)
    val base = freshBaseVersioned(ss, name, v0, batch, idCol, textCol)
    try {
      requireUniqueIds(base, "appendBm25BatchVersioned")
      val nDocs = base.count()
      if (nDocs > 0)
        ss.commitTablesAt(name, v0, appends = indexTablesOf(base))
      nDocs
    } finally RelOps.releaseCheckpoint(base)
  }

  /** Tombstone-delete documents — O(batch): the ids join the `dead`
    * list and a NEGATIVE stats row lands beside them (the additive fold
    * then yields exactly the surviving corpus's totals, so df/idf/avgdl
    * all re-derive), in ONE atomic commit CASed on the pinned read
    * version; postings and dl rows are not rewritten — probes anti-join
    * the tombstones. Unknown and already-dead ids are ignored, so a
    * retried delete adds nothing. Returns docs deleted; a no-op delete
    * commits no version. After many deletes,
    * [[compactBm25IndexVersioned]] bounds the tombstone list again. */
  def deleteBm25DocsVersioned(ss: graft.sources.SnapshotStore, name: String,
      ids: DataFrame, idCol: String): Long = {
    val v0 = ss.currentVersion(name)
    val victims = ids.select(col(idCol).as("id")).distinct()
      .join(ss.readTableVersion(name, v0, "dl"), Seq("id"))
      .join(ss.readTableVersion(name, v0, "dead"), Seq("id"), "left_anti")
      .localCheckpoint()
    try {
      val n = victims.count()
      if (n > 0) ss.commitTablesAt(name, v0, appends = Map(
        "dead" -> victims.select("id"),
        "stats" -> victims.agg((-count(lit(1))).as("n"),
          (-coalesce(sum(col("dl")), lit(0L))).as("tt"))))
      n
    } finally RelOps.releaseCheckpoint(victims)
  }

  /** Compaction as one atomic overwrite commit of all four sub-tables,
    * CASed on the pinned read version (an interleaved append would
    * otherwise be silently dropped by the overwrite); old versions stay
    * readable until expired. Probe results are unchanged across it.
    * Returns surviving docs. */
  def compactBm25IndexVersioned(ss: graft.sources.SnapshotStore,
      name: String): Long = {
    val v0 = ss.currentVersion(name)
    val dead = ss.readTableVersion(name, v0, "dead")
    val newDl = ss.readTableVersion(name, v0, "dl")
      .join(dead, Seq("id"), "left_anti").localCheckpoint()
    val newPost = ss.readTableVersion(name, v0, "postings")
      .join(dead, Seq("id"), "left_anti").localCheckpoint()
    try {
      ss.commitTablesAt(name, v0, overwrites = Map(
        "dl" -> newDl, "postings" -> newPost,
        "stats" -> newDl.agg(count(lit(1)).as("n"),
          coalesce(sum(col("dl")), lit(0L)).as("tt")),
        "dead" -> newDl.select("id").filter(lit(false))))
      newDl.count()
    } finally {
      RelOps.releaseCheckpoint(newDl)
      RelOps.releaseCheckpoint(newPost)
    }
  }

  /** Probe the versioned index — optionally TIME-TRAVELED to any live
    * `version` (scores exactly as of that commit). Shared [[probeCore]]:
    * bit-identical to [[bm25Scores]] over the
    * corpus the version represents. */
  def probeBm25IndexVersioned(ss: graft.sources.SnapshotStore, name: String,
      idCol: String, terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(ss.currentVersion(name))
    probeCore(ss.readTableVersion(name, v, "stats"),
      ss.readTableVersion(name, v, "postings"),
      ss.readTableVersion(name, v, "dl"),
      ss.readTableVersion(name, v, "dead"), idCol, terms, k1, b)
  }

  /** The invariant audit over a (possibly time-traveled) version of the
    * versioned index. With every commit atomic these invariants cannot
    * break by construction — the audit is kept as the cheap cross-check
    * the x125d contract runs at every commit point. */
  def auditBm25IndexVersioned(ss: graft.sources.SnapshotStore, name: String,
      version: Option[Long] = None): (Boolean, Long, Long, Long) = {
    val v = version.getOrElse(ss.currentVersion(name))
    auditCore(ss.readTableVersion(name, v, "stats"),
      ss.readTableVersion(name, v, "postings"),
      ss.readTableVersion(name, v, "dl"),
      ss.readTableVersion(name, v, "dead"))
  }

  /** The oracle-side constants of [[bm25Scores]] as shortest-roundtrip
    * literals, so a SQL text can embed bit-identical doubles. */
  def bm25Constants(k1: Double, b: Double): Map[String, String] = Map(
    "k1" -> k1.toString, "k1p1" -> (k1 + 1.0).toString,
    "oneMinusB" -> (1.0 - b).toString, "b" -> b.toString)

  /** X126: reciprocal-rank fusion (Cormack et al. SIGIR'09) of N retrieval
    * legs — the standard hybrid-search combiner (keyword BM25 + embedding
    * cosine) that needs only RANKS, never score calibration across legs:
    * rrf(d) = Σ_legs 1/(k + rank_leg(d)), absent legs contributing 0.
    *
    * Determinism discipline: each leg ranks by (score desc, id) with
    * scores already rounded to 6 (so a last-ulp score wobble can't flip a
    * rank), via the distributed range-partition row-number (never a
    * single-partition global window); the fusion sum is a fixed-order
    * coalesce chain of exact divisions — the output doubles are
    * bit-identical cross-engine with NO rounding. Legs are RESULT SETS
    * (top-k sized), so the full-outer fusion join is small by
    * construction; the corpus-sized work lives in the legs.
    *
    * rankings: (idCol, scoreCol) frames. Returns (idCol, n_legs, rrf). */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, scoreCol: String,
              k: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val ranked = rankings.zipWithIndex.map { case (df, i) =>
      RelOps.globalRowNumber(df.select(col(idCol), col(scoreCol)),
          Seq(desc(scoreCol), col(idCol)), rnCol = s"__r$i")
        .select(col(idCol), col(s"__r$i"))
    }
    val joined = ranked.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val rrf = rankings.indices
      .map(i => coalesce(lit(1.0) / (lit(k) + col(s"__r$i")), lit(0.0)))
      .reduceLeft(_ + _)
    val nLegs = rankings.indices
      .map(i => when(col(s"__r$i").isNotNull, 1L).otherwise(0L))
      .reduceLeft(_ + _)
    joined.select(col(idCol), nLegs.as("n_legs"), rrf.as("rrf"))
  }
}
