package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X30-X32 dedup / similarity-search operators (SURVEY §2.10), designed for
  * the 100 TB posture: no all-pairs comparisons — candidates come from
  * hash-bucket joins (LSH banding) or a small broadcast query side.
  */
object SimilarityOps {

  /** Exact dedup by content hash: one row per distinct content, keeping the
    * smallest doc id (deterministic canonical pick). Single shuffle on the
    * 256-bit hash; at 100 TB this is the only exact-dedup formulation that
    * works — dropDuplicates over raw text would shuffle full documents. */
  def exactDedup(idCol: String, textCol: String)(df: DataFrame): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .select(idCol, "h", "n_dups")

  /** Shared inverted-index pair statistics for the exact shingle-pair
    * paths: (id_a, id_b, i = |A∩B|, za = |A|, zb = |B|) for every pair of
    * documents sharing ≥1 shingle with document frequency ≤ maxDf.
    *
    * The df cap is the hot-shingle guard the exact paths need even at
    * VALIDATION scale: one boilerplate shingle present in 1M documents
    * would alone generate ~10¹² candidate pairs (df² per shingle).
    * Dropping shingles with df > maxDf from the SELF-JOIN bounds
    * candidates per shingle at maxDf², and loses only pairs whose EVERY
    * shared shingle is ubiquitous — boilerplate-only overlap, not
    * near-duplication (near-dups share many rare shingles; standard
    * MinHash-era practice).
    *
    * Scores stay EXACT for every surviving pair: hot and rare shingles
    * partition the shingle space, so |A∩B| = i_rare (counted by the
    * one-shuffle pair join over rare shingles — the cheap count-join
    * formulation, measured ~2× faster than set-intersection scoring)
    * + i_hot (array_intersect of the per-document HOT-shingle arrays;
    * each ARRAY is bounded by the global hot-shingle count, but the
    * hsets ROW count is bounded by the number of documents containing
    * any hot shingle — in the motivating boilerplate case that is the
    * ENTIRE corpus, so hsets gets no broadcast hint: AQE broadcasts it
    * when it is actually small and shuffle-joins otherwise). Sizes
    * za/zb count ALL distinct shingles, hot included. */
  private[graft] def shinglePairStats(shRaw: DataFrame, maxDf: Int): DataFrame = {
    // pinned: the tokenize+shingle explode is the CPU-heavy input and
    // feeds FOUR consumers (df census, both pair-join sides via one
    // reused exchange, sizes, hot-sets); 8-byte hashed rows make the
    // materialization tiny relative to recomputing the explode (same
    // discipline as minhashNearDups; at cluster scale: persist to a
    // table instead)
    val sh = shRaw.localCheckpoint()
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("z"))
    val capped = maxDf != Int.MaxValue
    val hot =
      if (capped)
        sh.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("h")
      else sh.limit(0).select("h")
    val rare = if (capped) sh.join(broadcast(hot), Seq("h"), "left_anti") else sh
    val pairs = rare.as("a").join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("i_rare"))
    val base = pairs
      .join(sz.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("id_b") === col("sb.doc_id"))
    val withI =
      if (!capped) base.withColumn("i", col("i_rare"))
      else {
        // per-doc hot-shingle arrays: rows exist only for docs that
        // contain a hot shingle — bounded by DOC count, not hot-shingle
        // count (one boilerplate shingle in every doc ⇒ |hsets| = corpus),
        // so no broadcast hint here: AQE picks broadcast when the frame
        // is genuinely small, shuffle join when it isn't
        val hsets = sh.join(broadcast(hot), Seq("h"))
          .groupBy("doc_id").agg(collect_set(col("h")).as("hs"))
        val none = array().cast("array<bigint>")
        base
          .join(hsets.as("ha"),
            col("id_a") === col("ha.doc_id"), "left_outer")
          .join(hsets.as("hb"),
            col("id_b") === col("hb.doc_id"), "left_outer")
          .withColumn("i", col("i_rare") + size(array_intersect(
            coalesce(col("ha.hs"), none), coalesce(col("hb.hs"), none))))
      }
    withI.select(col("id_a"), col("id_b"), col("i"),
      col("sa.z").as("za"), col("sb.z").as("zb"))
  }

  /** Exact n-gram Jaccard near-dup pairs (the oracle-able ground truth;
    * minhashNearDups is the banded scale path). Shingles hash to longs
    * before the self-join: equality on xxhash64(s) ≡ equality on s
    * (collisions ~2^-64), and every shuffle moves 8-byte keys instead of
    * strings.
    *
    * COMPLETE by default (maxShingleDf = Int.MaxValue): every pair with
    * jaccard >= threshold is returned — the semantics an oracle/ground-
    * truth caller expects. At probe scale, OPT IN to the hot-shingle
    * guard by passing a finite maxShingleDf: candidates then come only
    * from shingles with df <= maxShingleDf, which bounds the self-join
    * at df² per shingle (measured 294s -> 10s at 10× corpus with
    * boilerplate) but makes completeness CONDITIONAL on every true pair
    * sharing at least one shingle with df <= cap — pairs whose overlap
    * is exclusively boilerplate are skipped. Scores remain exact over
    * the FULL shingle sets either way (the hot-set term re-adds capped
    * shingles to |A∩B|), so the cap changes WHICH pairs are considered,
    * never a surviving pair's jaccard.
    * Returns (id_a, id_b, jaccard) with id_a < id_b. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 3, threshold: Double = 0.5,
                        maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val sh = TextOps.explodeShingles(df, idCol, textCol, shingleLen)
      .select(col(idCol).as("doc_id"), xxhash64(col("s")).as("h"))
    shinglePairStats(sh, maxShingleDf)
      .withColumn("jaccard",
        round(col("i") / (col("za") + col("zb") - col("i")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** X123: EXACT Jaccard pairs via prefix filtering (the AllPairs/PPJoin
    * candidate principle — Chaudhuri et al. ICDE'06, Bayardo et al.
    * WWW'07): order every document's shingles canonically RAREST-FIRST
    * (df asc, hash asc) and generate candidates only from each doc's
    * (z - ⌈t·z⌉ + 1)-prefix. The prefix-filtering lemma guarantees any
    * pair with J ≥ t shares a token inside BOTH prefixes (the per-doc
    * ⌈t·z⌉ bound is ≤ the pair's overlap lower bound t(za+zb)/(1+t)
    * whenever the size filter t·za ≤ zb holds, which J ≥ t implies), so
    * the join loses nothing — candidates then verify with the exact
    * intersection.
    *
    * The scale contrast with [[ngramJaccardPairs]]'s df cap: the cap
    * BUYS boilerplate immunity by changing semantics (opt-in, pairs
    * overlapping only on hot shingles are lost); prefix filtering gets
    * the same immunity FREE and exact — a ubiquitous boilerplate shingle
    * has maximal df, sorts to every document's tail, and never enters a
    * prefix, so it generates zero candidates while still counting toward
    * every verified intersection. Fan-out per prefix token is df², but
    * only for tokens rare enough to sit in a (1-t) fraction of some
    * document — at t=0.8 that is the rarest 20%. Cost: one df aggregate,
    * one per-doc sort (vocabulary-ranked arrays), the prefix self-join,
    * and an array-verify join — all equi-joins, no all-pairs. */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                               shingleLen: Int = 3,
                               threshold: Double = 0.5): DataFrame = {
    val sh = TextOps.explodeShingles(df, idCol, textCol, shingleLen)
      .select(col(idCol).as("doc_id"), xxhash64(col("s")).as("h"))
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val docs = sh.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ts"))
      .select(col("doc_id"),
        transform(col("ts"), t => t.getField("h")).as("hs"),
        size(col("ts")).as("z"))
      .localCheckpoint() // reused: prefix explode + both verify sides
    try {
      // ⌈t·z⌉ in EXACT decimal arithmetic: float ceil(z * t) can round one
      // too high when t·z lands on a representational tie (e.g. t=0.7,
      // z=10), shrinking the prefix below the lemma's bound and silently
      // dropping an exact-boundary pair. lit(BigDecimal.valueOf(t)) is the
      // shortest-decimal reading of the threshold (0.7 means 7/10, not its
      // binary expansion) and decimal multiply/ceil are exact.
      val tExact = lit(BigDecimal.valueOf(threshold))
      val pre = docs.select(col("doc_id"), col("z"),
        explode(slice(col("hs"), lit(1),
          (col("z") - ceil(col("z").cast("decimal(20,0)") * tExact) + 1)
            .cast("int"))).as("h"))
      val cand = pre.select(col("doc_id").as("id_a"), col("z").as("za"),
          col("h"))
        .join(pre.select(col("doc_id").as("id_b"), col("z").as("zb"),
          col("h")), "h")
        .filter(col("id_a") < col("id_b"))
        // the size filter needs the same exact arithmetic: float 20·0.7 =
        // 14.000000000000002 > 14 would drop an exact-boundary pair
        .filter(col("zb").cast("decimal(20,0)") * tExact <= col("za") &&
          col("za").cast("decimal(20,0)") * tExact <= col("zb"))
        .select("id_a", "id_b").distinct()
      cand
        .join(docs.select(col("doc_id").as("id_a"), col("hs").as("ha"),
          col("z").as("za")), "id_a")
        .join(docs.select(col("doc_id").as("id_b"), col("hs").as("hb"),
          col("z").as("zb")), "id_b")
        .withColumn("i", size(array_intersect(col("ha"), col("hb"))))
        .withColumn("jaccard",
          round(col("i") / (col("za") + col("zb") - col("i")), 6))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .localCheckpoint()
    } finally RelOps.releaseCheckpoint(docs)
  }

  /** Shingle containment pairs: C = |A∩B| / min(|A|,|B|) — catches a short
    * document embedded inside a longer one (quotes, boilerplate wrappers,
    * doc-in-doc copies) that symmetric Jaccard under-scores: a 50-shingle
    * doc fully inside a 1000-shingle doc has J ≈ 0.05 but C = 1.0. Same
    * inverted-index pair statistics as ngramJaccardPairs — complete by
    * default, opt-in hot-shingle df cap with the same conditional-
    * completeness contract (see ngramJaccardPairs) — so the scale
    * posture is identical; at 100 TB route candidates through MinHash
    * banding and use this as the verify scorer.
    * Returns (id_a, id_b, containment) with id_a < id_b. */
  def shingleContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                              shingleLen: Int = 3,
                              threshold: Double = 0.8,
                              maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val sh = TextOps.explodeShingles(df, idCol, textCol, shingleLen)
      .select(col(idCol).as("doc_id"), xxhash64(col("s")).as("h"))
    shinglePairStats(sh, maxShingleDf)
      .withColumn("containment",
        round(col("i") / least(col("za"), col("zb")), 6))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** TF-IDF weighted cosine pairs over the token inverted index — the
    * weighted companion of ngramJaccardPairs: scores topical/template
    * similarity by shared RARE vocabulary, catching near-pairs whose
    * contiguous shingle overlap is low. The vector space is DEFINED as
    * terms with df <= maxTermDf, not a silent approximation of the full
    * space: a hotter term is a stopword whose idf ≈ 0 contributes
    * nothing to the score, yet alone fans out df·(df-1)/2 candidate
    * pairs in the index join — the cap bounds per-term join work at
    * maxTermDf² while the l2 norms and dot products stay exact over the
    * capped space (the x35b oracle applies the identical cap in SQL,
    * so this is oracle-exact, unlike the shingle paths' opt-in cap).
    * Pick the cap relative to corpus size (the stopword boundary is a
    * FRACTION of N — roughly N/8 here): an absolute cap held fixed while
    * the corpus grows eventually evicts every shared term and the score
    * space goes empty (measured: df<=64 yields 300 pairs on 500 docs and
    * ZERO on 5000; df<=256 restores them).
    *
    * Cross-engine determinism (the pageRank discipline): tf is an exact
    * count, idf = ln(N/df) is the identical double expression in both
    * engines, and the two non-deterministic-order summations (norm², dot
    * product) accumulate DECIMAL(38,15) terms — exact and order-free —
    * before one double cast and a round to 6 that happens BEFORE the
    * threshold compare. Returns (id_a, id_b, cosine), id_a < id_b.
    *
    * Plan: one tokenize+explode → (id, term, tf) aggregate
    * (localCheckpoint-ed: feeds df census, norms, and both self-join
    * sides), df-capped dictionary join, per-doc norm aggregate, then
    * the inverted-index self-join grouped on the pair. Every shuffle
    * key is a term or an id pair — never document text. */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       minSim: Double = 0.5,
                       maxTermDf: Long = 64L): DataFrame = {
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val tf = df.select(col(idCol).as("id"),
        explode_outer(TextOps.tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dict = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= lit(maxTermDf))
    val w = tf.join(dict, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("term"),
        (col("tf") * log(col("n_docs") / col("df"))).as("w"))
    val nrm = w.groupBy("id")
      .agg(sqrt(sum((col("w") * col("w")).cast("decimal(38,15)"))
        .cast("double")).as("nrm"))
    val unit = w.join(nrm, "id")
      .select(col("id"), col("term"), (col("w") / col("nrm")).as("wn"))
      .localCheckpoint() // both self-join sides read it without recompute
    val a = unit.select(col("id").as("id_a"), col("term"), col("wn").as("wa"))
    val b = unit.select(col("id").as("id_b"), col("term"), col("wn").as("wb"))
    a.join(b, "term")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(round(sum((col("wa") * col("wb")).cast("decimal(38,15)"))
        .cast("double"), 6).as("cosine"))
      .filter(col("cosine") >= lit(minSim))
      .select("id_a", "id_b", "cosine")
  }

  /** Near-dup candidate pairs via MinHash + LSH banding, verified with
    * exact Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b,
    * jaccard >= threshold.
    *
    * Shape chosen for scale AND measured locally (sf0.1: ~2× faster than
    * the nested-HOF formulation):
    *  - shingles are hashed to longs immediately — every downstream
    *    shuffle/join/intersect moves 8-byte keys, never strings;
    *  - the k min-hash slots are k plain `min` aggregates over one
    *    explode+groupBy (codegen-friendly, ONE shuffle on doc id), with
    *    `collect_set` piggybacking the verify sets on the same shuffle;
    *  - the aggregate is localCheckpoint-ed: four downstream branches
    *    (two band sides, two verify sides) read it without recomputation
    *    (at cluster scale: persist to a table instead);
    *  - banding joins carry only (band, bkey, id) — candidate pairs are
    *    distinct id pairs, then verified by joining the shingle sets back.
    */
  def minhashNearDups(idCol: String, textCol: String, shingleLen: Int = 3,
                      bands: Int = 8, rowsPerBand: Int = 4,
                      threshold: Double = 0.5,
                      maxBucket: Int = 4096)(df: DataFrame): DataFrame = {
    val agg = minhashAgg(df, idCol, textCol, shingleLen,
      bands * rowsPerBand).localCheckpoint()
    val bandsDf = bandKeysOf(agg, bands, rowsPerBand)
    // Degenerate-bucket guard, the banding analogue of shinglePairStats'
    // hot-shingle cap: a (band,bkey) bucket holding n documents emits
    // n²/2 candidate pairs, so one bucket of boilerplate-identical
    // signatures (n = millions at corpus scale) is an all-pairs join in
    // disguise. Buckets over maxBucket are dropped from candidate
    // generation — their members are near-identical EN MASSE, which is
    // exact-dedup's job (run x30 before near-dup, as x37 composes);
    // near-dup pairs below that density keep every other band to match
    // in. The census is a tiny aggregate (one row per oversized bucket)
    // and broadcasts into an anti-join.
    val over = bandsDf.groupBy("band", "bkey")
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
      .select("band", "bkey")
    val capped = bandsDf.join(broadcast(over), Seq("band", "bkey"), "left_anti")
    val cand = capped.as("a").join(capped.as("b"), Seq("band", "bkey"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(cand, agg.select(col("id"), col("shs")), threshold)
  }

  /** One row per document: the exact shingle set (for verification) and
    * the k min-hash slots m1..mk — the state every banded MinHash path
    * derives from. One explode + one groupBy shuffle; collect_set
    * piggybacks the verify sets on the same shuffle the min aggregates
    * already pay for. */
  private def minhashAgg(df: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int, k: Int): DataFrame = {
    val ex = TextOps.explodeShingles(df, idCol, textCol, shingleLen)
      .select(col(idCol).as("id"), xxhash64(col("s")).as("h"))
    val minCols = (1 to k).map(j => min(xxhash64(col("h"), lit(j))).as(s"m$j"))
    ex.groupBy("id").agg(collect_set(col("h")).as("shs"), minCols: _*)
  }

  /** (id, band, bkey) band-bucket keys from a minhashAgg frame: each band
    * hashes its rowsPerBand signature slots into one 8-byte bucket key. */
  private def bandKeysOf(sig: DataFrame, bands: Int,
                         rowsPerBand: Int): DataFrame = {
    val bandArr = array((0 until bands).map(b =>
      xxhash64((1 to rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)): _*)
    sig.select(col("id"), posexplode(bandArr))
      .select(col("id"), col("pos").as("band"), col("col").as("bkey"))
  }

  /** Exact-Jaccard verification of candidate pairs against per-doc
    * shingle sets: the scorer every banded path funnels into. The
    * candidate frame is small relative to the sets (banding's whole
    * point), so AQE broadcasts it and the set table never shuffles. */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame,
                            threshold: Double): DataFrame =
    cand
      .join(sets.as("sa"), col("id_a") === col("sa.id"))
      .join(sets.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("inter", size(array_intersect(col("sa.shs"), col("sb.shs"))))
      .withColumn("jaccard", round(col("inter") /
        (size(col("sa.shs")) + size(col("sb.shs")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** The minhash-index probe body over one version's meta row, band
    * rows and signature sets (see [[probeMinhashIndexVersioned]]). */
  private def probeMinhashCore(meta: org.apache.spark.sql.Row,
      iBands: DataFrame, iSigs: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      maxBucket: Int): DataFrame = {
    val (sl, nb, rpb) = (meta.getAs[Int]("shingle_len"),
      meta.getAs[Int]("bands"), meta.getAs[Int]("rows_per_band"))
    val bSig = minhashAgg(batch, idCol, textCol, sl, nb * rpb)
      .localCheckpoint()
    val bBands = bandKeysOf(bSig, nb, rpb)
    // census over index ∪ batch = the union run's census
    val over = iBands.unionByName(bBands).groupBy("band", "bkey")
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
      .select("band", "bkey")
    val bC = bBands.join(broadcast(over), Seq("band", "bkey"), "left_anti")
    val iC = iBands.join(broadcast(over), Seq("band", "bkey"), "left_anti")
    val cross = bC.as("a").join(iC.as("b"), Seq("band", "bkey"))
      .filter(col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val intra = bC.as("a").join(bC.as("b"), Seq("band", "bkey"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cand = cross.unionByName(intra).distinct()
    val sets = iSigs.unionByName(bSig.select("id", "shs"))
    verifyJaccard(cand, sets, threshold)
  }

  // --- X31d: the minhash index as ONE versioned multi-table group -------

  private def minhashMetaDf(df: DataFrame, shingleLen: Int, bands: Int,
      rowsPerBand: Int): DataFrame =
    df.sparkSession.createDataFrame(Seq((shingleLen, bands, rowsPerBand)))
      .toDF("shingle_len", "bands", "rows_per_band")

  /** X31c/X31d: PERSISTED MinHash signature index — ingest a NEW batch
    * against an existing corpus WITHOUT recomputing corpus signatures
    * (at 100 TB, re-shingling the corpus per batch is the cost that
    * kills incremental dedup pipelines). Three sub-tables:
    *   `sigs`  (id, shs)         — exact shingle sets, verify side
    *   `bands` (id, band, bkey)  — LSH band-bucket keys, probe side
    *   `meta`  (shingle_len, bands, rows_per_band)
    * Probes read bands (24-byte rows) for candidates and touch sigs only
    * for candidate ids; document text is never re-read. The index GROWS
    * per batch, so the sub-tables are plain (appendable) rather than
    * bucketed. Doc ids must be unique across corpus and batches.
    *
    * Routed through `SnapshotStore.commitTables` — x125d's atomicity
    * for the dedup family: sigs/bands/meta commit as ONE version (all
    * data dirs + one manifest + one pointer swap), so a crash mid-build
    * or mid-append leaves the index serving the previous version with
    * the three tables mutually consistent (two separate sigs and bands
    * appends could tear between them, and the registry anti-join would
    * then silently skip the batch's band rows forever). Probes
    * time-travel to any live version. */
  def buildMinhashIndexVersioned(ss: graft.sources.SnapshotStore,
      name: String, df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, bands: Int = 8, rowsPerBand: Int = 4): Long = {
    val v0 = ss.currentVersion(name)
    val sig = minhashAgg(df, idCol, textCol, shingleLen,
      bands * rowsPerBand).localCheckpoint()
    // CASed at v0: an interleaved commit fails the claim retryably
    // instead of being silently clobbered by the overwrite
    try ss.commitTablesAt(name, v0, overwrites = Map(
      "sigs" -> sig.select("id", "shs"),
      "bands" -> bandKeysOf(sig, bands, rowsPerBand),
      "meta" -> minhashMetaDf(df, shingleLen, bands, rowsPerBand)))
    finally RelOps.releaseCheckpoint(sig)
  }

  /** The index parameters of version `v0` — read ONCE per append and
    * threaded through (each readTable.head() is a Spark job). */
  private[graft] def minhashMetaAt(ss: graft.sources.SnapshotStore,
      name: String, v0: Long): org.apache.spark.sql.Row =
    ss.tinySubHead(name, v0, "meta")

  /** Fresh-batch signatures against version `v0` of the index (registry
    * anti-join on the sigs sub-table BEFORE shingling — retried docs are
    * never re-shingled; the read is PINNED at v0 so the enclosing
    * commit can CAS on it). Caller must releaseCheckpoint. Contract
    * seam: the x31d kill-at-the-seam query stages exactly these
    * tables. */
  private[graft] def minhashFreshSigVersioned(
      ss: graft.sources.SnapshotStore, name: String, v0: Long,
      meta: org.apache.spark.sql.Row, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val (sl, nb, rpb) = (meta.getAs[Int]("shingle_len"),
      meta.getAs[Int]("bands"), meta.getAs[Int]("rows_per_band"))
    val fresh = batch.join(
      ss.readTableVersion(name, v0, "sigs")
        .select(col("id").as("__indexed_id")),
      col(idCol) === col("__indexed_id"), "left_anti")
    minhashAgg(fresh, idCol, textCol, sl, nb * rpb).localCheckpoint()
  }

  /** The append's sub-table batch for a fresh-signature frame. */
  private[graft] def minhashAppendTables(meta: org.apache.spark.sql.Row,
      sig: DataFrame): Map[String, DataFrame] =
    Map("sigs" -> sig.select("id", "shs"),
      "bands" -> bandKeysOf(sig, meta.getAs[Int]("bands"),
        meta.getAs[Int]("rows_per_band")))

  /** Fold a batch into the versioned minhash index — ONE atomic commit
    * of sigs + bands, CASed on the pinned read version (a concurrent
    * commit between the registry read and this commit surfaces as a
    * retryable conflict, never double-registered docs); a
    * fully-duplicate batch commits NOTHING (no version). Returns docs
    * added. */
  def appendMinhashBatchVersioned(ss: graft.sources.SnapshotStore,
      name: String, batch: DataFrame, idCol: String,
      textCol: String): Long = {
    val v0 = ss.currentVersion(name)
    val meta = minhashMetaAt(ss, name, v0)
    val sig = minhashFreshSigVersioned(ss, name, v0, meta, batch,
      idCol, textCol)
    try {
      val n = sig.count()
      if (n > 0)
        ss.commitTablesAt(name, v0, appends = minhashAppendTables(meta, sig))
      n
    } finally RelOps.releaseCheckpoint(sig)
  }

  /** Near-dup pairs INVOLVING the batch against the index, optionally
    * time-traveled to `version`: batch-vs-corpus plus batch-vs-batch,
    * scored with exact Jaccard — exactly the pairs
    * minhashNearDups(corpus ∪ batch) emits beyond the corpus-only run,
    * so incremental dedup composes as
    *   minhashNearDups(union) ≡ minhashNearDups(corpus) ∪ probe(batch)
    * (pinned in SimilarityOpsSpec and the x31c/x31d driver contracts;
    * the bucket census runs over index ∪ batch band rows so the
    * degenerate-bucket guard sees what the union run would see —
    * equivalence is conditional only on no bucket crossing maxBucket
    * between the corpus-only run and the union, the guard's own
    * boundary). Corpus signatures are READ, never recomputed. */
  def probeMinhashIndexVersioned(ss: graft.sources.SnapshotStore,
      name: String, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxBucket: Int = 4096,
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(ss.currentVersion(name))
    probeMinhashCore(ss.tinySubHead(name, v, "meta"),
      ss.readTableVersion(name, v, "bands"),
      ss.readTableVersion(name, v, "sigs"),
      batch, idCol, textCol, threshold, maxBucket)
  }

  /** 64-bit SimHash from a token array: explode tokens, per-bit signed
    * vote, reassemble. One shuffle on the doc id; the 64 per-bit sums are
    * a single wide aggregate (codegen-friendly), not 64 passes. */
  def simhash(idCol: String, textCol: String)(df: DataFrame): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("th", xxhash64(col("tok")))
    val bitSums: Seq[org.apache.spark.sql.Column] = (0 until 64).map { b =>
      sum(when(col("th").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1))
        .as(s"b$b")
    }
    val withBits = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val simhashExpr = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce((a, c) => a.bitwiseOR(c))
    withBits.select(col("id"), simhashExpr.as("simhash"))
  }

  /** SimHash near-dup pairs at Hamming distance <= maxDist, found WITHOUT
    * an all-pairs join: the 64-bit signature splits into `maxDist + 1`
    * bands, and by pigeonhole any pair within maxDist agrees exactly on at
    * least one band — so banding-equality join finds every true pair
    * (candidates then verified with bit_count(xor)). maxDist <= 7 keeps
    * bands >= 8 bits. */
  def simhashNearDups(idCol: String, textCol: String, maxDist: Int = 3)(df: DataFrame): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7, "maxDist must be in [0, 7]")
    bandedHammingPairs(simhash(idCol, textCol)(df).localCheckpoint(),
      "id", "simhash", maxDist)
  }

  /** The ONE banded exact-Hamming pair join over 64-bit hashes, shared by
    * [[simhashNearDups]] (text) and the multimodal perceptual-hash family
    * (MultimodalOps image/audio near-dups): the signature splits into
    * maxDist + 1 disjoint bands covering all 64 bits (remainder spread
    * over the first bands; a 64-bit band masks with -1L — (1L << 64)
    * wraps to 1 on the JVM and would bucket EVERYTHING together), and by
    * pigeonhole any pair within maxDist agrees exactly on >= 1 band —
    * deterministic recall, unlike LSH; candidates verify with the exact
    * popcount. Input (idCol, hashCol); returns (id_a, id_b, hamming)
    * with id_a < id_b. */
  def bandedHammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
                         maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist in [0, 64) expected")
    val nBands = maxDist + 1
    val widths = {
      val base = 64 / nBands; val rem = 64 % nBands
      (0 until nBands).map(b => base + (if (b < rem) 1 else 0))
    }
    val offsets = widths.scanLeft(0)(_ + _)
    val bandCols = (0 until nBands).map { b =>
      val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1
      struct(lit(b).as("band"),
        shiftrightunsigned(col(hashCol), offsets(b))
          .bitwiseAND(lit(mask)).as("bkey"))
    }
    val banded = hashes.select(col(idCol).as("__bid"), col(hashCol).as("__bh"),
        explode(array(bandCols.map(bc => bc): _*)).as("bk"))
      .select(col("__bid"), col("__bh"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    banded.as("a").join(banded.as("b"), Seq("band", "bkey"))
      .filter(col("a.__bid") < col("b.__bid"))
      .select(col("a.__bid").as("id_a"), col("b.__bid").as("id_b"),
        bit_count(col("a.__bh").bitwiseXOR(col("b.__bh")))
          .cast("long").as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxDist)
  }

  /** X32 scale path: approximate top-k cosine via bucketed random
    * projections (seeded — deterministic). On L2-normalized vectors,
    * euclidean distance is monotone in cosine (cos = 1 - d²/2), so
    * euclidean projection buckets ARE cosine buckets. Only
    * bucket-colliding pairs are scored — at 100 TB this replaces the
    * exact path's candidate scan; recall vs the exact oracle is asserted
    * in SimilarityOpsSpec.
    *
    * Input frames: (q_id, qe: array<double>), (c_id, ce: array<double>).
    * Returns (q_id, c_id, cos_sim, rn) like cosineTopK.
    */
  def annCosineTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                    bucketLength: Double = 2.0, numTables: Int = 3,
                    maxDistance: Double = 1.4, seed: Long = 42L): DataFrame = {
    // Direct DataFrame banding, not ml's approxSimilarityJoin: the
    // Estimator path (fit pass + vector UDT explode + non-codegen
    // keyDistance UDF + distinct) measured 1.34 s of framework overhead
    // on a 5×2000 probe where this plan runs in one codegen pipeline +
    // one equi-join. Same LSH family, same semantics: per table t, a
    // seeded gaussian direction u_t buckets the L2-NORMALIZED vector by
    // floor(v̂·u_t / L); any shared (t, bucket) makes a candidate pair.
    // v̂·u_t is computed as vec_cosine(v, u_t)·‖u_t‖ so both hashing and
    // scoring ride the codegen VecCosine — no normalized-array column,
    // no interpreted per-element lambdas on the hot path.
    graft.functions.VecCosine.register(queries.sparkSession)
    val firstQ = queries.select(size(col("qe")).as("d")).take(1)
    if (firstQ.isEmpty)
      return queries.crossJoin(candidates).limit(0)
        .select(col("q_id"), col("c_id"),
          lit(0.0).as("cos_sim"), lit(0).cast("int").as("rn"))
    val dim = firstQ.head.getInt(0)
    val rng = new java.util.Random(seed)
    val proj: Seq[Seq[Double]] =
      Seq.fill(numTables)(Seq.fill(dim)(rng.nextGaussian()))
    // euclidean cutoff on normalized vectors ⇔ cosine floor: cos = 1 - d²/2
    val minCos = 1.0 - maxDistance * maxDistance / 2.0

    def hashed(df: DataFrame, id: String, vec: String): DataFrame = {
      val hcols = proj.map { p =>
        val uNorm = math.sqrt(p.map(x => x * x).sum)
        floor(graft.functions.VecCosine.vec_cosine(col(vec), typedLit(p))
          * uNorm / bucketLength).cast("long")
      }
      df.select(col(id), col(vec),
        posexplode(array(hcols: _*)).as(Seq("t", "h")))
    }
    val pairs = hashed(queries.select("q_id", "qe"), "q_id", "qe")
      .join(hashed(candidates.select("c_id", "ce"), "c_id", "ce"),
        Seq("t", "h"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos_sim",
        round(graft.functions.VecCosine.vec_cosine(col("qe"), col("ce")), 6))
      .filter(col("cos_sim") >= minCos)
      // a pair colliding in several tables scores identically — collapse
      .groupBy("q_id", "c_id").agg(max("cos_sim").as("cos_sim"))
    RelOps.topNPerGroup(k, Seq("q_id"), Seq(desc("cos_sim"), col("c_id")))(pairs)
      .select("q_id", "c_id", "cos_sim", "rn")
  }

  /** X32 scale path #2: IVF (inverted-file) approximate top-k cosine.
    * Seeded KMeans coarse-quantizes the L2-normalized candidates into
    * nLists cells; each query probes only its nProbe nearest cells, so the
    * scan touches ~nProbe/nLists of the corpus. Centroids are tiny
    * (driver/broadcast); candidate assignment is one narrow pass; the
    * probe join is a broadcast hash join on cell id. Scoring uses the
    * native VecCosine. Recall vs exact is asserted in SimilarityOpsSpec. */
  def ivfCosineTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                    nLists: Int = 16, nProbe: Int = 6,
                    seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    graft.functions.VecCosine.register(queries.sparkSession)
    val spark = queries.sparkSession
    import spark.implicits._
    def l2norm(c: org.apache.spark.sql.Column) = sqrt(aggregate(
      c, lit(0.0), (acc, v) => acc + v * v))
    // norm projected into its own column first — referencing l2norm(ce)
    // inside the per-element lambda would re-run the O(d) fold per element
    // (the same inlining trap TextOps.withShingles documents)
    // localCheckpoint before the fit: KMeans makes one pass per iteration
    // over its input, and the interpreted-HOF normalization in this
    // lineage would be recomputed on every pass (measured 3.0 s → 1.2 s
    // fit at sf0.1). The checkpointed frame also feeds the assignment
    // pass below. At cluster scale: persist the normalized candidates to
    // a table — the IVF index is built once and probed many times.
    val cand = candidates
      .withColumn("cn", l2norm(col("ce")))
      .withColumn("nv", transform(col("ce"), v => v / col("cn")))
      .withColumn("v", array_to_vector(col("nv")))
      .select("c_id", "ce", "nv", "v")
      .localCheckpoint()
    // coarse quantization converges in a few iterations; the default 20
    // just burns fit time without moving probe recall. Random init over
    // k-means|| for the same reason: || costs ~2·initSteps extra passes
    // over the corpus to seed centroids an IVF index doesn't need to be
    // optimal — cells only bound the probe set, and recall is pinned by
    // spec at nProbe/nLists, not by centroid quality.
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(5)
      .setInitMode("random")
      .setFeaturesCol("v").setPredictionCol("cell").fit(cand)
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
    val assigned = assignCells(cand.select("c_id", "ce", "nv"), centroids)
      .select("c_id", "nv", "cell")
    ivfProbe(assigned, centroids, queries, k, nProbe)
  }

  /** Nearest-centroid cell assignment shared by the IVF build, in-session,
    * and APPEND paths — one code path, so the incremental index is
    * parity-by-construction with a from-scratch assignment. Cells are
    * chosen by cosine to the centroid (the same metric ivfProbe ranks
    * probe cells with, so index geometry and probe ranking agree; ties
    * break to the lowest cell index).
    * The centroid set rides along as ONE array literal and the argmax is
    * a per-row loop — fully narrow: no crossJoin row blowup, no window
    * shuffle, O(nLists·d) work per vector.
    *
    * `vecCol` should be the RAW vector column: cosine is scale-invariant,
    * so normalization adds nothing to the argmax — and feeding a derived
    * normalized column here is the inlining trap at its worst:
    * CollapseProject folds the norm aggregate into the normalize lambda,
    * exploding to O(d·d) interpreted steps per row (measured 5.5 s for
    * 2000 64-dim rows vs ~0.1 s from the raw column). Every caller
    * assigns from the same raw column, so cells are bit-identical across
    * paths. The argmax itself is the codegen [[graft.functions.VecCellArgmax]]
    * — one fused k×d primitive loop per row inside whole-stage codegen
    * (the earlier transform+vec_cosine+array_max formulation evaluated
    * interpreted inside the HOF lambda: ~19k boxed steps/row at k=300,
    * one of the k-growing terms of the SemDeDup 30× probe, which the
    * fused loop + single-assignment checkpoint took 35 s → 24 s).
    * Output: the input columns plus `cell`. */
  def assignCells(vectors: DataFrame, centroids: DataFrame,
                  vecCol: String = "ce"): DataFrame = {
    graft.functions.VecCellArgmax.register(vectors.sparkSession)
    val cents = centroids.select("cell", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).sortBy(_._1)
    require(cents.nonEmpty, "assignCells: empty centroid table")
    val centArr = typedLit(cents.map(_._2))
    val cellIds = typedLit(cents.map(_._1))
    vectors
      .withColumn("cell", element_at(cellIds,
        graft.functions.VecCellArgmax.vec_cell_argmax(col(vecCol), centArr)
          + 1))
  }

  /** The IVF probe plan, shared by the in-session path (ivfCosineTopK)
    * and the persisted-index path (probeIvfIndexVersioned) so the two
    * cannot drift: rank centroids per query (tiny broadcast cross join),
    * keep nProbe cells, equi-join the index on cell id, score with the
    * codegen VecCosine, window top-k. */
  private def ivfProbe(assigned: DataFrame, centroids: DataFrame,
                       queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    graft.functions.VecCosine.register(queries.sparkSession)
    def l2norm(c: org.apache.spark.sql.Column) = sqrt(aggregate(
      c, lit(0.0), (acc, v) => acc + v * v))
    val q = queries.withColumn("qn", l2norm(col("qe")))
      .withColumn("qnv", transform(col("qe"), v => v / col("qn")))
    val probes = RelOps.topNPerGroup(nProbe, Seq("q_id"),
      Seq(desc("cdist"), col("cell")))(
      q.crossJoin(broadcast(centroids))
        .withColumn("cdist",
          graft.functions.VecCosine.vec_cosine(col("qnv"), col("centroid"))))
      .select(col("q_id"), col("qnv"), col("cell"))
    val scored = probes.join(assigned, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos_sim",
        round(graft.functions.VecCosine.vec_cosine(col("qnv"), col("nv")), 6))
    RelOps.topNPerGroup(k, Seq("q_id"), Seq(desc("cos_sim"), col("c_id")))(scored)
      .select("q_id", "c_id", "cos_sim", "rn")
  }

  /** The coarse-quantizer fit of the persisted IVF build (the
    * fitSemDedupCentroids shape). Returns
    * (checkpointed (c_id, ce, nv, v) candidates, (cell, centroid)).
    * Caller releases the checkpoint. */
  private def fitIvfCentroids(candidates: DataFrame, nLists: Int,
      seed: Long): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = candidates.sparkSession
    import spark.implicits._
    def l2norm(c: org.apache.spark.sql.Column) = sqrt(aggregate(
      c, lit(0.0), (acc, v) => acc + v * v))
    val cand = candidates
      .withColumn("cn", l2norm(col("ce")))
      .withColumn("nv", transform(col("ce"), v => v / col("cn")))
      .withColumn("v", array_to_vector(col("nv")))
      .select("c_id", "ce", "nv", "v")
      .localCheckpoint()
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(5)
      .setInitMode("random")
      .setFeaturesCol("v").setPredictionCol("cell").fit(cand)
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
    (cand, centroids)
  }

  /** X68: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means the embedding space into nClusters cells,
    * compute pairwise cosine ONLY within a cell, and drop every vector
    * that has a near-identical (cos >= tau) neighbour with a smaller id —
    * the keep-min-id survivor rule (the x63 discipline; the paper keeps
    * one representative per duplicate group, tie-break unspecified).
    *
    * The clustering is what makes semantic dedup survive scale: the
    * quadratic pair search is bounded to per-cell blocks, and the
    * within-cell pairing is an equi-join on `cell` — ONE shuffle, never
    * an all-pairs cross join. nClusters scales with the corpus (SemDeDup
    * runs 50k cells over LAION) so the expected block size stays bounded;
    * a skewed cell is an AQE skew-join case, not a plan change. Pairs
    * crossing a cell boundary are missed BY DESIGN — that is the
    * approximation — and the miss rate is pinned by the oracle-checked
    * x68b recall contract. Every emitted pair is verified with the exact
    * codegen cosine, so precision is 1.0 by construction.
    *
    * The quantizer fits on a bounded SAMPLE (`fitSampleRows`, seeded) —
    * cells only scope the pair search, so centroid quality needs a
    * representative sample, not the corpus: the fit stays O(sample · k)
    * while the full corpus pays only the narrow O(k·d) assignment pass
    * per row. Without the cap, k growing with the corpus (constant
    * expected cell size) would make the fit O(N·k) = O(N²/cellSize);
    * the assignment pass keeps that complexity but runs as one fused
    * codegen loop (see assignCells), which is the algorithm's floor.
    *
    * vectors: (c_id, ce: array<double>). Returns one row per input vector:
    * (c_id, cell, owner, dropped) — owner = the smallest same-cell id
    * that semantically owns this near-duplicate, null for survivors. */
  def semDedup(vectors: DataFrame, nClusters: Int, tau: Double,
               seed: Long = 42L, fitSampleRows: Int = 100000): DataFrame = {
    val (cand, centroids) = fitSemDedupCentroids(vectors, nClusters, seed,
      fitSampleRows)
    val out = semDedupWithCentroids(cand.select("c_id", "ce"),
      centroids, tau)
      .select("c_id", "cell", "owner", "dropped")
    RelOps.releaseCheckpoint(cand)
    out
  }

  /** Shared quantizer fit for the in-session and persisted SemDeDup
    * paths (ONE implementation, so a maxIter/sampling/normalization
    * change cannot skew one side and break the x68c parity contract).
    * Returns (checkpointed (c_id, ce, v) candidates, (cell, centroid)).
    * Caller releases the checkpoint. */
  private def fitSemDedupCentroids(
      vectors: DataFrame, nClusters: Int, seed: Long,
      fitSampleRows: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = vectors.sparkSession
    import spark.implicits._
    def l2norm(c: org.apache.spark.sql.Column) = sqrt(aggregate(
      c, lit(0.0), (acc, v) => acc + v * v))
    // KMeans wants unit vectors (euclidean argmin ≡ cosine argmax only on
    // the sphere); checkpointed so the fit's per-iteration passes don't
    // re-run the interpreted normalization lineage (ivfCosineTopK note).
    val cand = vectors
      .withColumn("cn", l2norm(col("ce")))
      .withColumn("v", array_to_vector(
        transform(col("ce"), x => x / col("cn"))))
      .select("c_id", "ce", "v")
      .localCheckpoint()
    val n = cand.count()
    val fitInput = if (n > fitSampleRows)
      cand.sample(withReplacement = false, fitSampleRows.toDouble / n, seed)
    else cand
    val model = new KMeans().setK(nClusters).setSeed(seed).setMaxIter(5)
      .setInitMode("random")
      .setFeaturesCol("v").setPredictionCol("cell").fit(fitInput)
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
    (cand, centroids)
  }

  /** The SemDeDup core under a FIXED centroid set — shared by the
    * in-session path ([[semDedup]]), the persisted-index build
    * ([[buildSemDedupIndexVersioned]]) and every from-scratch parity
    * recompute, so incremental maintenance is parity-by-construction
    * (the x32f discipline). Returns (c_id, ce, cell, owner, dropped). */
  def semDedupWithCentroids(vectors: DataFrame, centroids: DataFrame,
                            tau: Double): DataFrame = {
    graft.functions.VecCosine.register(vectors.sparkSession)
    // three consumers (both pair-join sides + the survivor frame) — the
    // checkpoint stops each from re-running the k×d assignment scan
    val assigned = assignCells(vectors.select("c_id", "ce"), centroids)
      .localCheckpoint()
    val a = assigned.select(col("cell"), col("c_id").as("id_a"),
      col("ce").as("ea"))
    val b = assigned.select(col("cell"), col("c_id").as("id_b"),
      col("ce").as("eb"))
    val dropped = a.join(b, "cell")
      .filter(col("id_a") < col("id_b"))
      .filter(graft.functions.VecCosine.vec_cosine(col("ea"), col("eb"))
        >= tau)
      .groupBy(col("id_b").as("c_id"))
      .agg(min("id_a").as("owner"))
    assigned.select("c_id", "ce", "cell")
      .join(dropped, Seq("c_id"), "left_outer")
      .withColumn("dropped", col("owner").isNotNull)
  }

  /** X129: leakage-safe train/val/test split — assignment by DUPLICATE
    * CLUSTER, not by document: every document in a near-dup component
    * lands in the same split BY CONSTRUCTION, so a test example can never
    * have a near-copy in train (the eval-leakage failure mode exact-dup
    * splits at document granularity silently allow; cf. Lee et al. 2022
    * §6 on duplicated train/test text inflating eval). Singletons are
    * their own cluster (comp = own id).
    *
    * Assignment is x94's deterministic hash-uniform (md5 of the cluster
    * label) against CUMULATIVE upper bounds, so the split is reproducible
    * across engines, reruns, and retries, and expected fractions are the
    * bound gaps. `cuts`: (name, upperBound) with the last bound 1.0 —
    * bounds are literals, not summed weights, so the SQL oracle can embed
    * them verbatim. `edges` come from any pair path (exact Jaccard for an
    * oracle-checked run; MinHash banding at 100 TB). */
  def leakageSafeSplit(docs: DataFrame, idCol: String, edges: DataFrame,
                       cuts: Seq[(String, Double)]): DataFrame =
    assignSplitsByComponent(docs, idCol, connectedComponents(edges), cuts)

  /** The split-assignment half of [[leakageSafeSplit]], parameterized on
    * ANY (id, comp) label frame — what lets the x129b incremental path
    * assign from the PERSISTED component state
    * ([[readComponentsStateVersioned]]) instead of a from-scratch CC, with
    * byte-identical output (singletons default to their own id either
    * way, and the md5-uniform draw is a pure function of the label). */
  def assignSplitsByComponent(docs: DataFrame, idCol: String,
      comps: DataFrame, cuts: Seq[(String, Double)]): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == 1.0,
      s"cuts must end at 1.0, got $cuts")
    require(cuts.map(_._2) == cuts.map(_._2).sorted,
      s"cuts must be nondecreasing, got $cuts")
    val withComp = docs.select(col(idCol))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("comp"))
    val u = (conv(substring(md5(col("comp").cast("string")), 1, 8), 16, 10)
      .cast("long") + lit(0.5)) / lit(4294967296.0)
    val split = cuts.init.foldRight(
      lit(cuts.last._1): org.apache.spark.sql.Column) {
      case ((name, cut), acc) => when(u < cut, lit(name)).otherwise(acc)
    }
    withComp.select(col(idCol), col("comp"), split.as("split"))
  }

  /** Sorted-neighborhood blocking — the linear-cost candidate generator
    * for fuzzy string matching: order all rows by `keyCol` (total order,
    * computed distributed — RelOps.globalRowNumber, no single-partition
    * window) and pair each row with its next `w` neighbours in that order.
    * Emits at most N·w candidate pairs — LINEAR in N; the last w ranked
    * rows emit fewer, so the total is N·w − w(w+1)/2 — so a 100× corpus
    * costs 100× (vs
    * 10,000× for within-block self-joins on a low-cardinality key like
    * p_brand — the classic blocking-key mistake). Lexicographic
    * neighbourhood aligns with Jaro-Winkler's prefix weighting: high-JW
    * pairs share prefixes and therefore sort adjacent.
    *
    * Returns (id_a, key_a, id_b, key_b) with rank(a) < rank(b); each
    * unordered pair appears once. The rank join is an equi-join on a long
    * (one shuffle, AQE-friendly), not a range join. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, keyCol: String,
                              w: Int): DataFrame = {
    val r = RelOps.globalRowNumber(
      df.select(col(idCol), col(keyCol)), Seq(col(keyCol), col(idCol)))
    val probes = r.select(col(idCol).as("id_a"), col(keyCol).as("key_a"),
        explode(sequence(col("rn") + 1, col("rn") + w)).as("rn2"))
    val b = r.select(col(idCol).as("id_b"), col(keyCol).as("key_b"),
      col("rn").as("rn2"))
    probes.join(b, "rn2").select("id_a", "key_a", "id_b", "key_b")
  }

  /** Connected components over an undirected pair graph — the step that
    * turns near-dup PAIRS (minhash/simhash/jaccard output) into dedup
    * CLUSTERS: transitive closure, one canonical id per component.
    *
    * Iterative min-label propagation (the hash-to-min idea GraphX's
    * connectedComponents uses, expressed on DataFrames): every node
    * starts labeled with itself; each round every node takes the min of
    * its own and its neighbors' labels; fixpoint when no label changes.
    * Rounds ≈ graph diameter (near-dup clusters are shallow — a handful);
    * each round is one shuffle on the edge key, localCheckpoint-ed so
    * lineage doesn't stack across iterations. No edge list ever reaches
    * the driver — only the per-round convergence count does.
    *
    * edges: (a, b) undirected pairs. Returns (id, comp) for every node
    * appearing in an edge, comp = min node id reachable. Throws if the
    * label propagation hasn't converged within maxIter rounds (diameter
    * > maxIter) — a silently split component is corrupt dedup output.
    *
    * CALLER OBLIGATION: the returned frame is localCheckpoint-pinned
    * (severed lineage — the blocks ARE the data, so this method cannot
    * release them itself). After fully consuming the result, release via
    * `RelOps.releaseCheckpoint(labels)` or a persistent-RDD sweep, or the
    * blocks stay pinned for the session. Bench and Verify both sweep
    * per-query; ad-hoc long-lived sessions must do their own release. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
                          broadcastMaxEdges: Long = 5000000L): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint()
    // Checkpointed LogicalRDDs carry no size stats, so every iteration's
    // offer join would default to sort-merge even on a dozen-edge
    // near-dup graph (the triangleStats lesson). The edge count is free
    // on the materialized checkpoint; below the threshold each round
    // broadcasts the label table (≤ node count ≤ 2·edges rows) and the
    // join collapses to a map-side probe. Past it, the shuffle
    // formulation is the 100 TB path (broadcastMaxEdges is a knob mainly
    // so specs can force that path and pin its skew behavior — a star
    // graph's hub is a textbook hot join key there, handled by AQE's
    // skew split; see SimilarityOpsSpec).
    val smallGraph = sym.count() <= broadcastMaxEdges
    def maybeBroadcast(df: DataFrame) = if (smallGraph) broadcast(df) else df
    // Init fuses the first propagation round into the node-dedup shuffle:
    // comp = min(id, min(neighbor)) costs the same one shuffle a bare
    // `select(a).distinct` would, and pair-only clusters (the common
    // near-dup case) are already converged after it.
    var labels = sym.groupBy(col("a").as("id"))
      .agg(least(col("a"), min(col("b"))).as("comp"))
      .localCheckpoint()
    // Convergence check: labels only ever DECREASE (min-propagation), and
    // the node set is fixed, so the label total is strictly monotone until
    // fixpoint — equal totals ⟺ no label changed. Comparing sums is one
    // scan of the just-materialized checkpoint blocks (no join, no
    // shuffle), vs the next-vs-old equi-join a direct changed-count needs.
    // decimal(38,0) so a 100 TB corpus of 64-bit ids cannot overflow.
    def labelTotal(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevTotal = labelTotal(labels)
    var converged = prevTotal == null // empty edge set: nothing to do
    var iter = 0
    while (!converged && iter < maxIter) {
      // neighbor labels: for each edge a->b, b's current label offers
      // itself to a; node keeps min(own, offers)
      val offers = sym.join(maybeBroadcast(labels), sym("b") === labels("id"))
        .select(sym("a").as("id"), col("comp"))
      val next = labels.select(col("id"), col("comp"))
        .union(offers)
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint()
      val nextTotal = labelTotal(next)
      RelOps.releaseCheckpoint(labels)
      labels = next
      converged = nextTotal.compareTo(prevTotal) == 0
      prevTotal = nextTotal
      iter += 1
    }
    // the final labels checkpoint is materialized (eager), so the edge
    // list's blocks can be freed before returning — without this every
    // invocation in a long-lived session pins an edge-list of storage
    RelOps.releaseCheckpoint(sym)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(graph diameter exceeds the cap); raise maxIter")
    labels
  }

  // --- X62c: persisted incremental connected components ------------------
  // Clustering's O(batch) ingest path: without it, every run re-ran
  // connectedComponents over the FULL edge set. The state is one
  // `comps` (id, comp) sub-table, APPEND-ONLY (merge-on-read). What
  // makes O(batch) writes possible: min-label propagation is MONOTONE —
  // a node's label only ever decreases — so the reconciled label of an
  // id is simply min(comp) over its rows, no sequence numbers or
  // tombstones needed. A relabel appends the new smaller rows; stale
  // rows lose the min automatically. A scattered point-update through a
  // rewrite path (upsert / partitioned apply) costs O(table) or
  // O(touched partitions each rewritten whole) — measured 2× corpus-
  // growth bleed-through in round 12 — while this append writes exactly
  // the changed rows; compaction folds the deltas back to one row per id
  // when read amplification warrants.

  /** The append's label lookup — ONE shuffle-free pass over the state:
    * semi-probe with the SMALL side hinted (broadcast-right is the only
    * build side Spark supports here), then min(comp) per id over the
    * O(batch) survivors. The hint is SIZE-GATED
    * ([[graft.ops.CdcOps.probeSide]], r15 verdict #1): a backfill-sized
    * batch must not force-broadcast its node set into a driver OOM —
    * above the gate the probe side shuffles instead while the state
    * scan still avoids a full exchange. `nNodes` is an upper bound on
    * the probe's rows (0 = trusted-small). private[graft] so the spec
    * pins the PRODUCTION plan (broadcast build in the default regime,
    * no state sort-merge), not a reconstruction. */
  private[graft] def stateLabelProbe(state: DataFrame,
      nodes: DataFrame, nNodes: Long = 0L): DataFrame =
    state.select("id", "comp")
      .join(CdcOps.probeSide(nodes, nNodes), Seq("id"), "left_semi")
      .groupBy("id").agg(min("comp").as("__mc"))

  /** Component labels of a REDUCED graph — [[connectedComponents]]'
    * contract ((id, comp), comp = the component's min id) with a
    * driver-local union-find fast path below `localEdgeLimit` edges.
    * The reduced graph of a batch append is O(batch components) BY
    * CONSTRUCTION (nodes are current labels, edges only between distinct
    * labels), so the common small-batch ingest otherwise pays the
    * distributed min-label loop's fixed scheduling floor — each
    * iteration a full Spark job over a few hundred rows (~3-4 s of pure
    * overhead per append, measured in round 13). Same
    * judgment BpeOps makes per merge round: the vocabulary-sized side
    * goes driver-side. Labels are IDENTICAL by construction: union-find
    * always attaches the larger root under the smaller, so every root is
    * its set's minimum — exactly the min-label fixpoint. Above the
    * limit the distributed path runs unchanged (the 100 TB posture; a
    * reduced graph only grows past 100k edges when the BATCH does).
    * Returns (labels, tookLocalPath). */
  private[graft] def componentsRemap(reduced: DataFrame,
      localEdgeLimit: Int = 100000): (DataFrame, Boolean) = {
    val spark = reduced.sparkSession
    import spark.implicits._
    // checkpoint once, decide on the materialized count: deterministic
    // job shape (a bare limit-collect escalates through partial re-
    // executions of the join when the limit isn't hit — noisier than
    // the one extra tiny count job it saves)
    val ck = reduced.localCheckpoint()
    if (ck.count() > localEdgeLimit) {
      val labels = connectedComponents(ck)
      RelOps.releaseCheckpoint(ck) // labels are materialized; edges can go
      (labels, false)
    } else {
      val es = ck.select(col("a"), col("b")).as[(Long, Long)].collect()
      RelOps.releaseCheckpoint(ck)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (parent.keysIterator.map(id => (id, find(id))).toSeq
        .toDF("id", "comp"), true)
    }
  }

  /** The append's DELTA rows against any state scan — union-find-style
    * label reconciliation, O(batch) WRITES and zero state shuffles:
    *
    *   1. the batch's nodes look up their current labels (min over
    *      their state rows; fresh nodes label themselves) — a broadcast
    *      semi-probe into one columnar state scan;
    *   2. the batch collapses to a REDUCED graph over those labels
    *      (each edge becomes label(a)–label(b)); min-label CC runs on
    *      THAT graph — O(batch components), never the corpus, because a
    *      stored label already stands for its whole component;
    *   3. members of the remapped components get NEW rows at the merged
    *      label (broadcast filter of the state scan — sound because a
    *      label, once superseded, can never be current again: labels
    *      are min member ids and only decrease, so comp = C rows are
    *      exactly C's current members while C is current), fresh nodes
    *      append their rows, and NOTHING is rewritten — min-reconcile
    *      retires the stale rows at read time.
    *
    * The appended labels equal the from-scratch min-ids: stored labels
    * are their components' minima, so min over merged labels ∪ fresh
    * ids IS min over all member ids. Identical edges re-delivered find
    * their endpoints already merged: the reduced graph is empty and no
    * row is returned. The body behind [[appendComponentEdgesVersioned]]
    * and the kill-at-the-seam staging seam of the x62d contract query.
    * `raw` must be a pinned (checkpointed) (a, b) frame; the returned
    * appends are checkpointed — caller counts, commits, releases. */
  private[graft] def componentAppendRows(state: DataFrame,
      raw: DataFrame): DataFrame = {
    // one count of the pinned batch gates EVERY probe hint below
    // (nodes ≤ 2·edges, inState ≤ nodes, moved ≤ inState — all bounded
    // by the batch, all unbounded when the batch is a backfill): the
    // r15-verdict broadcast gate, CdcOps.probeSide
    val nRaw = raw.count()
    // node set from the RAW edges: a node appearing only in self-loops
    // must still enter the state as a singleton (connectedComponents
    // keeps it — dropping it here would diverge from from-scratch);
    // the self-loops themselves contribute nothing to the reduced graph
    val edges = raw.filter(col("a") =!= col("b"))
    val nodes = raw.select(col("a").as("id"))
      .union(raw.select(col("b").as("id"))).distinct()
    // current labels of the batch's nodes, in three broadcast-right
    // joins (Spark ignores a broadcast hint on the LEFT of an outer
    // join — BuildLeft is unsupported there, and the "hinted" plan
    // silently sort-merges the WHOLE state; verified on Spark 4.1.2):
    //   state ⋉ nodes  (left_semi, broadcast right)  → O(batch) rows
    //   min(comp) per id over that small result
    //   nodes ⟕ mins   (left_outer, broadcast right) → fresh = null
    val inState = stateLabelProbe(state, nodes, 2L * nRaw)
      .localCheckpoint() // small; reused by the fresh-node anti-join
    val labeled = nodes
      .join(CdcOps.probeSide(inState, 2L * nRaw), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("__mc"), col("id")).as("comp"))
      .localCheckpoint()
    try {
      val reduced = edges
        .join(labeled.select(col("id").as("a"), col("comp").as("ca")), "a")
        .join(labeled.select(col("id").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
        .select(col("ca").as("a"), col("cb").as("b"))
      val (remap, _) = componentsRemap(reduced)
      try {
        // labels that actually move (newLabel < oldLabel)
        val moved = remap.filter(col("comp") =!= col("id"))
          .select(col("id").as("__old"), col("comp").as("__new"))
        // current members of each moved label (exact while the label
        // is current — see scaladoc); duplicates collapse. Inner join,
        // broadcast right: one more shuffle-free state scan.
        val relabeled = state
          .join(CdcOps.probeSide(moved, 2L * nRaw),
            state("comp") === col("__old"))
          .select(state("id"), col("__new").as("comp")).distinct()
        val nodeFinal = labeled
          .join(CdcOps.probeSide(moved, 2L * nRaw),
            labeled("comp") === col("__old"), "left_outer")
          .select(labeled("id"),
            coalesce(col("__new"), labeled("comp")).as("comp"))
        // fresh = batch nodes with no state rows — exactly the ids
        // inState missed (anti against the SMALL aggregate, never a
        // broadcast of the state side)
        val fresh = nodeFinal
          .join(inState.select("id"), Seq("id"), "left_anti")
        relabeled.unionByName(fresh).localCheckpoint()
      } finally RelOps.releaseCheckpoint(remap)
    } finally {
      RelOps.releaseCheckpoint(labeled)
      RelOps.releaseCheckpoint(inState)
    }
  }

  // --- X62d: the component state as a versioned-BUCKETED group: every
  // build/append/compact is one CASed SnapshotStore commit (a concurrent
  // relabel + compact cannot interleave), every version time-travels (a
  // split drawn from the state is reproducible-by-version the way x127b
  // features are), and the streaming sink commits crash-atomically.
  // `comps` is an id-BUCKETED sub: the merge-on-read reconciliation
  // (min per id) and the append's label probe aggregate bucket-locally
  // — no state shuffle at any version.

  /** Build the versioned component state: one atomic commit of the
    * from-scratch labels, `comps` hash-bucketed on `id`. CASed at the
    * read version like every versioned index build. */
  def buildComponentsStateVersioned(ss: graft.sources.SnapshotStore,
      name: String, edges: DataFrame, nBuckets: Int = 0): Long = {
    val comps = connectedComponents(edges)
    try {
      // comps is checkpoint-backed, so the row count behind the
      // scale-adaptive bucket choice replays blocks (r19 — guide §2:
      // derive the layout from the build size, not a constant)
      val nb = if (nBuckets > 0) nBuckets
        else RelOps.adaptiveBuckets(comps.count())
      ss.commitTablesAt(name, ss.currentVersion(name),
        overwrites = Map("comps" -> comps),
        buckets = Map("comps" -> graft.sources.SubBucket("id", nb)))
    } finally RelOps.releaseCheckpoint(comps)
  }

  /** The reconciled labels of state version `v` (default current) —
    * min(comp) per id over the append-only rows, time-travelable: a
    * leakage-safe split drawn from a PINNED version reproduces
    * byte-for-byte forever (the x127b training-reproducibility contract
    * for dedup state).
    * The aggregation runs bucket-local (comps is id-bucketed). */
  def readComponentsStateVersioned(ss: graft.sources.SnapshotStore,
      name: String, version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(ss.currentVersion(name))
    ss.readTableVersion(name, v, "comps").groupBy("id")
      .agg(min("comp").as("comp"))
  }

  /** Merge an edge batch into the versioned state — the
    * reconciliation of [[componentAppendRows]] with the state read
    * PINNED at v0 and the append committed as ONE CASed version: a
    * concurrent relabel or compaction surfaces as a retryable conflict
    * instead of silently interleaving. Redelivered batches find their
    * endpoints merged, the reduced graph empties, and NOTHING commits —
    * not even a version. Returns rows appended (remapped members +
    * fresh nodes). The contract queries (x62c/x62d) pin
    * build→append→append→retry ≡ the from-scratch recursive-CTE oracle
    * over the union of all edges. */
  def appendComponentEdgesVersioned(ss: graft.sources.SnapshotStore,
      name: String, batchEdges: DataFrame): Long = {
    val v0 = ss.currentVersion(name)
    val raw = batchEdges.select(col("a"), col("b")).localCheckpoint()
    try {
      val appends = componentAppendRows(
        ss.readTableVersion(name, v0, "comps"), raw)
      try {
        val n = appends.count()
        if (n > 0)
          ss.commitTablesAt(name, v0, appends = Map("comps" -> appends))
        n
      } finally RelOps.releaseCheckpoint(appends)
    } finally RelOps.releaseCheckpoint(raw)
  }

  /** Fold the merge-on-read deltas to one row per id as a new version —
    * bounds the merge-on-read amplification after many appends (the
    * BM25 compaction discipline) with history intact (old versions
    * still serve their exact state; retention + vacuum reclaim the
    * superseded partitions once the window moves past). Reconciled
    * labels are unchanged by construction. CASed on the read version.
    * NOT marked
    * content-preserving: the ROWS change (stale deltas fold away) even
    * though the reconciled labels do not, and the changelog must see
    * that. */
  def compactComponentsStateVersioned(ss: graft.sources.SnapshotStore,
      name: String): Long = {
    val v0 = ss.currentVersion(name)
    val folded = readComponentsStateVersioned(ss, name).localCheckpoint()
    try ss.commitTablesAt(name, v0, overwrites = Map("comps" -> folded))
    finally RelOps.releaseCheckpoint(folded)
  }

  /** Exact top-k cosine neighbours of each query vector. The query side is
    * expected to be small (broadcast); candidates stream through one scan.
    * Scoring uses the native VecCosine expression (fused codegen loop,
    * same dot/sqrt(||a||²·||b||²) association as DuckDB), rounded before
    * ranking so cross-engine last-ulp noise can't flip the rank order. */
  def cosineTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    graft.functions.VecCosine.register(queries.sparkSession)
    val scored = broadcast(queries).crossJoin(candidates)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos_sim",
        round(graft.functions.VecCosine.vec_cosine(col("qe"), col("ce")), 6))
    RelOps.topNPerGroup(k, Seq("q_id"), Seq(desc("cos_sim"), col("c_id")))(scored)
      .select("q_id", "c_id", "cos_sim", "rn")
  }

  /** One row per W-token window start: (id, pos, h) with pos 1-based and
    * h = xxhash64 of the space-joined window. The projection-boundary
    * discipline from withShingles applies (tokenize once per doc, then
    * explode); only the 8-byte hash + id + pos leave the scan — the raw
    * text never shuffles. posexplode_outer + null filter for the same
    * InferFiltersFromGenerate reason as explodeShingles. */
  private[graft] def windowRows(df: DataFrame, idCol: String,
                                textCol: String, w: Int): DataFrame =
    df.withColumn("__toks", TextOps.tokens(col(textCol)))
      .withColumn("__wins",
        when(size(col("__toks")) >= w,
          transform(sequence(lit(1), size(col("__toks")) - w + 1),
            i => xxhash64(array_join(slice(col("__toks"), i, lit(w)), " "))))
        .otherwise(array().cast("array<bigint>")))
      .select(col(idCol), posexplode_outer(col("__wins")).as(Seq("__p", "h")))
      .filter(col("h").isNotNull)
      .select(col(idCol), (col("__p") + 1).as("pos"), col("h"))

  /** X39 passage-level exact-substring duplicate detection (the ExactSubstr
    * mode of Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"): maximal token spans every token of which lies inside
    * some `windowLen`-token window appearing verbatim in ≥ `minDocs`
    * distinct documents — i.e.
    * text duplicated ACROSS documents at passage granularity, the dedup
    * mode doc-level hashing (X30) and near-dup scoring (X31) both miss
    * (a unique document quoting a widely-copied paragraph).
    *
    * The reference algorithm builds a corpus-wide suffix array — inherently
    * sequential and memory-resident. The Spark-native equivalent is rolling
    * token windows: a duplicated substring of length ≥ W is exactly a
    * maximal run of duplicated W-windows, so span recovery is
    * gaps-and-islands over window hits. Plan shape (100 TB posture):
    *   1. (id, pos, xxhash64(window)) rows — one tokenize per doc, ~20
    *      bytes/row after the projection;
    *   2. duplicated windows: groupBy(h) having approx-distinct docs ≥
    *      minDocs — ONE shuffle on the hash, partial aggregation applies;
    *   3. hits = window rows semi-joined against the duplicated set
    *      (long-key join, AQE picks broadcast when the dup set is small);
    *   4. per-doc interval merge: hits whose starts are within W tokens
    *      belong to one span (overlap or adjacency) — two window functions
    *      over the SAME per-doc window, one shuffle on id.
    * 64-bit hashing admits cross-window collisions at ~n²/2⁶⁵ — at 10¹²
    * corpus windows that is odds ~3% of ONE spurious window match
    * corpus-wide, the standard trade (the suffix-array reference hashes
    * its seeds too). countDistinct (exact) over ids within a hash group
    * is fine: group width is df(window), bounded like shingle df.
    *
    * Returns (idCol, span_start, span_end, span_tokens), token positions
    * 1-based inclusive; spans per doc are disjoint and maximal. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      windowLen: Int = 8, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = windowRows(df, idCol, textCol, windowLen)
    val dup = win.groupBy("h")
      .agg(countDistinct(col(idCol)).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select("h")
    val hits = win.join(dup, "h").select(col(idCol), col("pos"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    hits
      .withColumn("ns",
        when(col("pos") - lag("pos", 1).over(byDoc) <= windowLen, lit(0))
          .otherwise(lit(1)))
      .withColumn("grp", sum("ns").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("grp"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(windowLen - 1)).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_tokens"))
  }

  /** X39c: persist the duplicated-window census so NEW batches dedup
    * against the corpus without re-hashing it (the persisted minhash /
    * IVF indexes' build-once/probe-many discipline applied to substring
    * dedup). The index is NOT the window list: because append batches
    * carry disjoint NEW doc ids, per-window doc counts are additive, so
    * the aggregated census (h, ndocs) — one row per DISTINCT window,
    * h-bucketed so probes join without an index-side exchange — plus a
    * doc-id registry for idempotent commits is sufficient. Index size is
    * O(distinct windows) ≈ O(corpus tokens) — the same bound a suffix
    * array pays, stored as 16-byte rows instead of text. */
  def buildWindowIndex(store: graft.sources.TableStore, name: String,
                       df: DataFrame, idCol: String, textCol: String,
                       windowLen: Int = 8, nBuckets: Int = 32): Unit = {
    val win = windowRows(df, idCol, textCol, windowLen)
    store.overwriteBucketed(s"${name}_census",
      win.groupBy("h").agg(countDistinct(col(idCol)).as("ndocs")),
      "h", nBuckets)
    store.overwrite(s"${name}_docs", df.select(col(idCol).as("id")))
    store.overwrite(s"${name}_meta",
      df.sparkSession.createDataFrame(Seq(Tuple1(windowLen)))
        .toDF("window_len"))
  }

  /** Duplicated spans of the BATCH against index ∪ batch: a batch window
    * is duplicated iff its batch doc count plus the indexed corpus count
    * reaches minDocs — exactly the union run's census condition — so
    *   probe(batch) ≡ duplicatedSpans(corpus ∪ batch) ⋉ batch ids
    * (pinned in SimilarityOpsSpec and the x39c driver contract). Corpus
    * windows are READ pre-aggregated and pre-bucketed: the probe pays
    * O(batch windows) + a bucket-aligned join, never a corpus re-hash —
    * corpus-side spans newly created by the batch are the next full
    * run's business, not the ingest loop's (same boundary as
    * probeMinhashIndexVersioned). */
  def probeWindowIndex(store: graft.sources.TableStore, name: String,
                       batch: DataFrame, idCol: String, textCol: String,
                       minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = store.read(s"${name}_meta").head().getAs[Int]("window_len")
    val bWin = windowRows(batch, idCol, textCol, w).localCheckpoint()
    try {
      val bCensus = bWin.groupBy("h")
        .agg(countDistinct(col(idCol)).as("bdocs"))
      val iCensus = batch.sparkSession.table(s"${name}_census")
      val dup = bCensus.join(iCensus, Seq("h"), "left")
        .filter(col("bdocs") + coalesce(col("ndocs"), lit(0L)) >= minDocs)
        .select("h")
      val hits = bWin.join(dup, "h").select(col(idCol), col("pos"))
      val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      hits
        .withColumn("ns",
          when(col("pos") - lag("pos", 1).over(byDoc) <= w, lit(0))
            .otherwise(lit(1)))
        .withColumn("grp", sum("ns").over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col(idCol), col("grp"))
        .agg(min("pos").as("span_start"),
          (max("pos") + lit(w - 1)).as("span_end"))
        .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
        .select(col(idCol), col("span_start"), col("span_end"),
          col("span_tokens"))
        .localCheckpoint()
    } finally RelOps.releaseCheckpoint(bWin)
  }

  /** Fold a probed batch into the window index (ingest commit).
    * Idempotent on doc id: already-registered docs are anti-joined out
    * BEFORE windowing, so their counts can never double. Because fresh
    * doc ids are disjoint from every earlier commit, the merged census is
    * the sum of per-window doc counts — the x107 state+delta incremental-
    * aggregate shape; the rewrite cost is O(distinct windows), paid per
    * batch, never a corpus re-hash. Returns the number of docs added. */
  def appendWindowBatch(store: graft.sources.TableStore, name: String,
                        batch: DataFrame, idCol: String, textCol: String,
                        nBuckets: Int = 32): Long = {
    val w = store.read(s"${name}_meta").head().getAs[Int]("window_len")
    val fresh = batch.join(
      store.read(s"${name}_docs").select(col("id").as("__indexed_id")),
      col(idCol) === col("__indexed_id"), "left_anti").localCheckpoint()
    try {
      val n = fresh.count()
      if (n > 0) {
        val delta = windowRows(fresh, idCol, textCol, w).groupBy("h")
          .agg(countDistinct(col(idCol)).as("d"))
        val merged = batch.sparkSession.table(s"${name}_census")
          .join(delta, Seq("h"), "full_outer")
          .select(col("h"),
            (coalesce(col("ndocs"), lit(0L)) + coalesce(col("d"), lit(0L)))
              .as("ndocs"))
          // materialize BEFORE the overwrite drops the table being read
          // (sandbox-scale stand-in for the tmp-table-and-swap a cluster
          // deployment would use — the census is compact but a driver-
          // memory-independent swap is the 100 TB-correct shape)
          .localCheckpoint()
        try {
          store.overwriteBucketed(s"${name}_census", merged, "h", nBuckets)
          store.append(s"${name}_docs", fresh.select(col(idCol).as("id")))
        } finally RelOps.releaseCheckpoint(merged)
      }
      n
    } finally RelOps.releaseCheckpoint(fresh)
  }

  /** X39d: the dedup ACTION — rewrite each document with its FOREIGN
    * duplicated passages removed, keeping every passage's occurrence in
    * the smallest doc id that contains it (Lee et al.'s keep-one
    * discipline, deterministic canonical pick like exactDedup). A hit is
    * foreign iff its doc is not the window's min-id owner; islands over
    * foreign hits only, then tokens inside those spans drop and the text
    * is rebuilt space-joined.
    *
    * Plan shape: the census now carries min(doc_id) alongside the doc
    * count (same single shuffle), and removal is a per-doc HOF filter —
    * spans collect_list'd per doc (bounded by tokens/W), tokens filtered
    * by an exists() probe inside whole-stage codegen, no second explode
    * and no range join. Returns (idCol, clean_text, n_tokens,
    * removed_tokens). */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            windowLen: Int = 8, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = windowRows(df, idCol, textCol, windowLen)
    val census = win.groupBy("h")
      .agg(countDistinct(col(idCol)).as("ndocs"),
        min(col(idCol)).as("owner"))
      .filter(col("ndocs") >= minDocs)
      .select("h", "owner")
    val foreign = win.join(census, "h")
      .filter(col(idCol) =!= col("owner"))
      .select(col(idCol), col("pos"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = foreign
      .withColumn("ns",
        when(col("pos") - lag("pos", 1).over(byDoc) <= windowLen, lit(0))
          .otherwise(lit(1)))
      .withColumn("grp", sum("ns").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("grp"))
      .agg(min("pos").as("s"), (max("pos") + lit(windowLen - 1)).as("e"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("s"), col("e"))).as("sp"))
    df.join(spans, Seq(idCol), "left")
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .withColumn("__keep",
        when(col("sp").isNull, col("__toks")).otherwise(
          // zip tokens with 1-based positions, drop those inside a span
          filter(
            zip_with(col("__toks"),
              sequence(lit(1), size(col("__toks"))),
              (t, i) => struct(t.as("t"), i.as("i"))),
            x => !exists(col("sp"),
              s => x.getField("i").between(s.getField("s"),
                s.getField("e"))))
            .getField("t")))
      .select(col(idCol),
        array_join(col("__keep"), " ").as("clean_text"),
        size(col("__toks")).as("n_tokens"),
        (size(col("__toks")) - size(col("__keep"))).as("removed_tokens"))
  }

  /** Per-document duplicated-token coverage from `duplicatedSpans`:
    * (id, n_tokens, dup_tokens, dup_frac). Docs with no duplicated span
    * report 0/0.0 — the metric a cleaning pipeline thresholds on ("drop
    * docs that are >80% copied passages"). Spans are disjoint by
    * construction, so summing span_tokens never double-counts. */
  def duplicatedCoverage(df: DataFrame, idCol: String, textCol: String,
                         windowLen: Int = 8, minDocs: Int = 2): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, windowLen, minDocs)
      .groupBy(col(idCol)).agg(sum("span_tokens").as("dup_tokens"))
    df.select(col(idCol), TextOps.tokenCount(col(textCol)).as("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) /
          greatest(col("n_tokens"), lit(1)), 6).as("dup_frac"))
  }

  /** X120: per-document n-gram novelty — for each document, the fraction
    * of its distinct word n-grams whose FIRST corpus occurrence (smallest
    * doc id) is this document. The memorization-census shape (Carlini et
    * al. 2022, arXiv:2202.07646 §4 measure duplication exactly this way):
    * a low-novelty document is mostly restating passages the corpus
    * already contains, which inflates memorization without adding signal —
    * curation pipelines threshold on it the way x39's dup_frac thresholds
    * on verbatim coverage. The difference from x39 (ExactSubstr spans) is
    * attribution: x39 finds WHAT is duplicated; novelty charges each
    * duplicated gram to the doc that introduced it, so survivors keep
    * their score and copies lose theirs.
    *
    * Scale shape: grams hash to 64-bit longs before the shuffle (equality
    * on xxhash64 ≡ equality on the gram string at ~n²/2⁶⁵ collision odds —
    * ~3% for 10⁹ distinct grams, on the census COUNT only, never on text).
    * ONE gram-sized shuffle: first-owner attribution is a min() window
    * over the hash partition (no groupBy + self-join back), then the
    * per-document rollup aggregates doc-sized data with map-side partials.
    * Documents shorter than n tokens have no grams and are absent from
    * the output (they can't be novel or duplicated). */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    gramRows(df, idCol, textCol, n)
      .withColumn("__owner", min(col(idCol)).over(Window.partitionBy("h")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__owner") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col(idCol), col("n_grams"), col("n_novel"),
        round(col("n_novel") / col("n_grams"), 6).as("novelty_ratio"))
  }

  /** One row per (doc, DISTINCT gram hash) — the shared gram projection of
    * [[ngramNovelty]] and the novelty index. */
  private def gramRows(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    TextOps.explodeShingles(df.select(idCol, textCol), idCol, textCol, n)
      .select(col(idCol), xxhash64(col("s")).as("h"))

  /** The novelty-census probe plan over one version's census (see
    * [[probeNoveltyIndexVersioned]]). */
  private def probeNoveltyCore(n: Int, census: DataFrame, batch: DataFrame,
                               idCol: String, textCol: String): DataFrame = {
    val bg = gramRows(batch, idCol, textCol, n).localCheckpoint()
    try {
      val owners = bg.groupBy("h").agg(min(col(idCol)).as("__bowner"))
        .join(census, Seq("h"), "left")
        .select(col("h"), least(col("owner"), col("__bowner")).as("__owner"))
      bg.join(owners, "h")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("__owner") === col(idCol), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col(idCol), col("n_grams"), col("n_novel"),
          round(col("n_novel") / col("n_grams"), 6).as("novelty_ratio"))
        .localCheckpoint()
    } finally RelOps.releaseCheckpoint(bg)
  }

  // --- versioned-bucketed state (x120d/x32g/x68d): the novelty, IVF and
  // SemDeDup indexes as SnapshotStore groups with atomic multi-table
  // commits + CAS. Writing the sub-tables in SEPARATE steps would let a
  // crash between them tear the group (grams registered without their
  // docs row, assignments without refreshed centroids); here every
  // family commits as ONE version (all partitions + one manifest + one
  // pointer swap), and SnapshotStore.SubBucket keeps probe joins
  // exchange-free on the index side.

  /** X120c/X120d: persist the first-seen gram census so NEW batches
    * score novelty without re-shingling the corpus — the
    * build-once/probe-many discipline of the minhash index applied to
    * the novelty score. The census `grams` is (h, owner): one row per
    * distinct gram, owner = the smallest doc id that introduced it,
    * h-bucketed so probes join without an index-side exchange; `docs`
    * registers ids for idempotent commits and `meta` holds the gram
    * length. Under MONOTONE ingestion (every batch id above the indexed
    * high-water mark — enforced in the appender) ownership is
    * immutable: a new document can never steal a gram the corpus
    * already owns, which is exactly what makes the incremental score ≡
    * the from-scratch score (the driver contract). Index size is
    * O(distinct grams), 16-byte rows. grams/docs/meta commit as ONE
    * atomic version, CASed at the read version. */
  def buildNoveltyIndexVersioned(ss: graft.sources.SnapshotStore,
      name: String, df: DataFrame, idCol: String, textCol: String,
      n: Int, nBuckets: Int = 0): Long = {
    val v0 = ss.currentVersion(name)
    // the census is pinned once: its count drives the scale-adaptive
    // bucket choice (r19 — guide §2) and the staging write then replays
    // blocks instead of re-shingling the corpus
    val census = gramRows(df, idCol, textCol, n)
      .groupBy("h").agg(min(col(idCol)).as("owner")).localCheckpoint()
    try {
      val nb = if (nBuckets > 0) nBuckets
        else RelOps.adaptiveBuckets(census.count())
      ss.commitTablesAt(name, v0, overwrites = Map(
        "grams" -> census,
        "docs" -> df.select(col(idCol).as("id")),
        "meta" -> df.sparkSession.createDataFrame(Seq(Tuple1(n)))
          .toDF("gram_len")),
        buckets = Map("grams" -> graft.sources.SubBucket("h", nb)))
    } finally RelOps.releaseCheckpoint(census)
  }

  /** Novelty of a BATCH against index ∪ batch, optionally
    * time-traveled: a batch doc owns a gram iff it is the smallest id
    * among the indexed owner and every batch doc containing it (least()
    * skips the null of an unindexed gram). Pays O(batch grams) + one
    * bucket-aligned join — the corpus is never re-shingled.
    * probe(batch) ≡ ngramNovelty(corpus ∪ batch) ⋉ batch ids when batch
    * ids sit above the corpus (pinned by spec + x120c/x120d). */
  def probeNoveltyIndexVersioned(ss: graft.sources.SnapshotStore,
      name: String, batch: DataFrame, idCol: String, textCol: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(ss.currentVersion(name))
    probeNoveltyCore(
      ss.tinySubHead(name, v, "meta").getAs[Int]("gram_len"),
      ss.readTableVersion(name, v, "grams"), batch, idCol, textCol)
  }

  /** The versioned append's registry anti-join, PINNED at `v0` (contract
    * seam: the x120d kill-at-the-seam query stages exactly these
    * tables). Caller must releaseCheckpoint. */
  private[graft] def noveltyFreshVersioned(ss: graft.sources.SnapshotStore,
      name: String, v0: Long, batch: DataFrame,
      idCol: String): DataFrame =
    batch.join(
      ss.readTableVersion(name, v0, "docs").select(col("id").as("__indexed_id")),
      col(idCol) === col("__indexed_id"), "left_anti").localCheckpoint()

  /** The append's sub-table batches for a fresh frame: only never-seen
    * grams (owners are immutable under monotone ingestion) plus the
    * fresh doc registry rows. */
  private[graft] def noveltyAppendTables(ss: graft.sources.SnapshotStore,
      name: String, v0: Long, fresh: DataFrame, idCol: String,
      textCol: String): Map[String, DataFrame] = {
    val n = ss.tinySubHead(name, v0, "meta").getAs[Int]("gram_len")
    Map(
      "grams" -> gramRows(fresh, idCol, textCol, n)
        .groupBy("h").agg(min(col(idCol)).as("owner"))
        .join(ss.readTableVersion(name, v0, "grams").select("h"),
          Seq("h"), "left_anti"),
      "docs" -> fresh.select(col(idCol).as("id")))
  }

  /** Fold a batch into the versioned census (ingest commit) — grams +
    * docs in ONE atomic commit CASed on the pinned read version, so no
    * crash can leave grams whose doc is unregistered. Idempotent on doc
    * id (anti-join before any shingling); monotone ingestion is
    * ENFORCED — a batch id at or below the registry's high-water mark
    * would rewrite history (its grams might deserve ownership the
    * census already assigned) and silently diverge from a from-scratch
    * score. Because owners are immutable under that invariant, the
    * commit is append-only: only grams the census has never seen add
    * rows — no census rewrite, O(batch) per batch. A fully-duplicate
    * batch commits NOTHING (no version). Returns docs added. */
  def appendNoveltyBatchVersioned(ss: graft.sources.SnapshotStore,
      name: String, batch: DataFrame, idCol: String,
      textCol: String): Long = {
    val v0 = ss.currentVersion(name)
    val fresh = noveltyFreshVersioned(ss, name, v0, batch, idCol)
    try {
      val nDocs = fresh.count()
      if (nDocs > 0) {
        val bounds = fresh.agg(min(col(idCol)).as("lo")).crossJoin(
          ss.readTableVersion(name, v0, "docs").agg(max(col("id")).as("hi")))
          .head()
        require(bounds.isNullAt(1) || bounds.getLong(0) > bounds.getLong(1),
          s"appendNoveltyBatchVersioned: batch id ${bounds.getLong(0)} <= " +
            s"index high-water mark ${bounds.getLong(1)} — non-monotone " +
            "ingestion would rewrite gram ownership; rebuild the index")
        ss.commitTablesAt(name, v0,
          appends = noveltyAppendTables(ss, name, v0, fresh, idCol, textCol))
      }
      nDocs
    } finally RelOps.releaseCheckpoint(fresh)
  }

  /** X32d/X32g: PERSISTED IVF index — the build-once / probe-many
    * layout the ivfCosineTopK scaladoc promises at cluster scale. Build
    * fits the coarse quantizer ONCE and commits `assigned` (c_id, nv,
    * cell) and `centroids` (nLists rows — broadcast at probe time) as
    * ONE atomic version, so an index can never serve assignments
    * against centroids from a different commit. `assigned` is
    * cell-bucketed (bucket count = nLists), so the probe join reads
    * co-located buckets with no index-side exchange at every version.
    * Probing is a pure read path: no KMeans, no normalization pass over
    * the corpus, just the shared ivfProbe plan over the two sub-tables.
    * At 100 TB the build cost amortizes across every retrieval the
    * index ever serves. */
  def buildIvfIndexVersioned(ss: graft.sources.SnapshotStore, name: String,
      candidates: DataFrame, nLists: Int = 16, seed: Long = 42L): Long = {
    val (cand, centroids) = fitIvfCentroids(candidates, nLists, seed)
    val v0 = ss.currentVersion(name)
    try ss.commitTablesAt(name, v0, overwrites = Map(
      "assigned" -> assignCells(cand.select("c_id", "ce", "nv"), centroids)
        .select("c_id", "nv", "cell"),
      "centroids" -> centroids),
      buckets = Map("assigned" -> graft.sources.SubBucket("cell", nLists)))
    finally RelOps.releaseCheckpoint(cand)
  }

  /** The versioned IVF append's fresh-assignment frame, PINNED at `v0`
    * (anti-join + frozen-centroid assignment — the x32g kill-at-the-seam
    * seam). Caller must releaseCheckpoint. */
  private[graft] def ivfFreshAssignedVersioned(
      ss: graft.sources.SnapshotStore, name: String, v0: Long,
      batch: DataFrame): DataFrame = {
    def l2norm(c: org.apache.spark.sql.Column) = sqrt(aggregate(
      c, lit(0.0), (acc, v) => acc + v * v))
    val fresh = batch.select("c_id", "ce")
      .join(ss.readTableVersion(name, v0, "assigned").select("c_id"),
        Seq("c_id"), "left_anti")
    assignCells(fresh, ss.readTableVersion(name, v0, "centroids"))
      .withColumn("cn", l2norm(col("ce")))
      .withColumn("nv", transform(col("ce"), v => v / col("cn")))
      .select("c_id", "nv", "cell")
      .localCheckpoint()
  }

  /** X32f: incremental IVF maintenance — ingest a batch of NEW vectors
    * (c_id, ce) WITHOUT refitting the coarse quantizer. The batch is
    * anti-joined on id against the index (idempotent re-ingestion),
    * assigned to its nearest EXISTING centroid via the shared
    * assignCells plan, and committed as ONE atomic cell-bucketed append
    * CASed on the pinned read version — per-batch cost
    * O(batch · nLists · d) plus one id-column scan of the index; the
    * corpus vectors are never re-read or re-assigned. Centroids drift
    * from optimal as the corpus grows — an IVF property, not a bug:
    * cells only bound the probe set, recall stays pinned by the
    * nProbe/nLists contracts, and a rebuild is the explicit
    * re-optimize. A fully-redundant batch commits NOTHING. Returns
    * vectors added. */
  def appendIvfBatchVersioned(ss: graft.sources.SnapshotStore,
      name: String, batch: DataFrame): Long = {
    val v0 = ss.currentVersion(name)
    val assigned = ivfFreshAssignedVersioned(ss, name, v0, batch)
    try {
      val n = assigned.count()
      if (n > 0)
        ss.commitTablesAt(name, v0, appends = Map("assigned" -> assigned))
      n
    } finally RelOps.releaseCheckpoint(assigned)
  }

  /** Probe the versioned IVF index, optionally time-traveled — the
    * shared [[ivfProbe]] plan over that version's two sub-tables. */
  def probeIvfIndexVersioned(ss: graft.sources.SnapshotStore, name: String,
      queries: DataFrame, k: Int, nProbe: Int = 6,
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(ss.currentVersion(name))
    ivfProbe(ss.readTableVersion(name, v, "assigned"),
      ss.readTableVersion(name, v, "centroids"), queries, k, nProbe)
  }

  /** X68c/X68d: persist a SemDeDup state for incremental ingestion —
    * `centroids` (the frozen quantizer) and `assigned` (c_id, ce, cell,
    * owner, dropped) as ONE atomic version, `assigned` cell-bucketed so
    * batch appends join co-located buckets with no index-side exchange.
    * DROPPED rows are stored too: a later batch row can be owned by an
    * already-dropped doc (keep-min-id drops against ANY smaller-id
    * near-dup, not just survivors), so pruning them would silently
    * change semantics vs a from-scratch run. */
  def buildSemDedupIndexVersioned(ss: graft.sources.SnapshotStore,
      name: String, vectors: DataFrame, nClusters: Int, tau: Double,
      seed: Long = 42L, fitSampleRows: Int = 100000): Long = {
    val (cand, centroids) = fitSemDedupCentroids(vectors, nClusters, seed,
      fitSampleRows)
    val v0 = ss.currentVersion(name)
    try ss.commitTablesAt(name, v0, overwrites = Map(
      "assigned" -> semDedupWithCentroids(cand.select("c_id", "ce"),
        centroids, tau),
      "centroids" -> centroids),
      buckets = Map("assigned" -> graft.sources.SubBucket("cell", nClusters)))
    finally RelOps.releaseCheckpoint(cand)
  }

  /** The versioned SemDeDup append's verdict frame, PINNED at `v0`:
    * anti-join, frozen-centroid assignment, monotone-id gate, and the
    * owner search over index rows ∪ smaller-id batch rows, against the
    * pinned snapshot. Caller must releaseCheckpoint. */
  private[graft] def semDedupFreshVersioned(ss: graft.sources.SnapshotStore,
      name: String, v0: Long, batch: DataFrame, tau: Double): DataFrame = {
    graft.functions.VecCosine.register(batch.sparkSession)
    val index = ss.readTableVersion(name, v0, "assigned")
    val fresh = batch.select("c_id", "ce")
      .join(index.select("c_id"), Seq("c_id"), "left_anti")
    val assigned = assignCells(fresh,
      ss.readTableVersion(name, v0, "centroids")).localCheckpoint()
    if (assigned.isEmpty) return assigned
    val bounds = assigned.agg(min("c_id").as("lo")).crossJoin(
      index.agg(max("c_id").as("hi"))).head()
    require(bounds.isNullAt(1) || bounds.getLong(0) > bounds.getLong(1),
      s"appendSemDedupBatchVersioned: batch id ${bounds.getLong(0)} <= " +
        s"index high-water mark ${bounds.getLong(1)} — non-monotone " +
        "ingestion would silently diverge from a from-scratch dedup; " +
        "rebuild the index")
    val candidates = index.select(col("cell"), col("c_id").as("id_a"),
        col("ce").as("ea"))
      .unionByName(assigned.select(col("cell"), col("c_id").as("id_a"),
        col("ce").as("ea")))
    val owners = assigned
      .select(col("cell"), col("c_id"), col("ce").as("eb"))
      .join(candidates, "cell")
      .filter(col("id_a") < col("c_id"))
      .filter(graft.functions.VecCosine.vec_cosine(col("ea"), col("eb"))
        >= tau)
      .groupBy("c_id")
      .agg(min("id_a").as("owner"))
    val out = assigned.select("c_id", "ce", "cell")
      .join(owners, Seq("c_id"), "left_outer")
      .withColumn("dropped", col("owner").isNotNull)
      .localCheckpoint()
    RelOps.releaseCheckpoint(assigned)
    out
  }

  /** X68c: incremental SemDeDup — dedup a NEW batch against the
    * persisted state without touching indexed rows (the corpus is never
    * re-paired). The batch is anti-joined on id (idempotent
    * re-ingestion), assigned to the FROZEN centroids via the shared
    * assignCells plan, and each batch row takes as owner the smallest
    * same-cell id within tau among index rows ∪ smaller-id batch rows.
    * With batch ids above all index ids (the ingestion invariant —
    * monotone ids), the post-append table is IDENTICAL to a from-scratch
    * [[semDedupWithCentroids]] over the union: index-row verdicts cannot
    * depend on larger-id batch rows. The invariant is ENFORCED — a batch
    * id at or below the index high-water mark would need index-row
    * verdicts re-evaluated, which this append by design never does, so
    * it fails fast. The verdicts land as ONE atomic cell-bucketed append
    * CASed on the pinned read version (a fully-redundant batch commits
    * NOTHING). Returns vectors added — never an O(index) count per
    * commit. */
  def appendSemDedupBatchVersioned(ss: graft.sources.SnapshotStore,
      name: String, batch: DataFrame, tau: Double): Long = {
    val v0 = ss.currentVersion(name)
    val verdicts = semDedupFreshVersioned(ss, name, v0, batch, tau)
    try {
      val n = verdicts.count()
      if (n > 0)
        ss.commitTablesAt(name, v0, appends = Map("assigned" -> verdicts))
      n
    } finally RelOps.releaseCheckpoint(verdicts)
  }
}
