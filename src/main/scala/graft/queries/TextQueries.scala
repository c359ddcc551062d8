package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{SimilarityOps, TextOps}

/** X30-X34 (SURVEY §2.10): LLM-data-pipeline operators over documents +
  * embeddings. Oracle-checked where DuckDB can express the math; the
  * LSH/simhash variants (engine-specific hashing) are rows-only queries
  * with property-based specs.
  */
object TextQueries {

  val all: Seq[Query] = Seq(

    // X30: exact dedup by normalized content hash.
    Query("x30_exact_dedup",
      Some("""SELECT min(doc_id) AS doc_id,
             |  sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
             |  count(*) AS n_dups
             |FROM documents GROUP BY h ORDER BY doc_id""".stripMargin),
      env => SimilarityOps.exactDedup("doc_id", "text")(env.documents)
        .orderBy("doc_id")),

    // X30b: document fingerprint (rolling content hash per doc).
    Query("x30_fingerprint",
      Some("""SELECT doc_id,
             |  sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin),
      env => env.documents.select(col("doc_id"),
          TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // X31: near-dup pairs by exact 3-gram shingle Jaccard — the oracle-able
    // ground truth; the scalable MinHash+LSH path is x31_minhash_lsh below
    // and must find the same high-similarity pairs (asserted in specs).
    // The df cap is opted into here for the probe-scale plan shape; the
    // UNCAPPED DuckDB oracle hash-matching this output proves the cap is
    // a no-op on this corpus (no pair overlaps only on hot shingles).
    Query("x31_ngram_jaccard",
      Some(s"WITH ${OracleCtes.shinglePairs}\n" +
        """SELECT id_a, id_b,
          |  round(i / (sa.z + sb.z - i), 6) AS jaccard
          |FROM pr JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
          |WHERE round(i / (sa.z + sb.z - i), 6) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin),
      env => SimilarityOps.ngramJaccardPairs(env.documents, "doc_id", "text",
          maxShingleDf = 256)
        .orderBy("id_a", "id_b")),

    // X123: the SAME exact-Jaccard ground truth via prefix filtering
    // (AllPairs/PPJoin candidate principle) — rarest-first canonical
    // order, per-doc (z - ⌈t·z⌉ + 1)-prefix self-join, exact verify.
    // Hot/boilerplate shingles sort to document tails and never generate
    // candidates, so this path needs NO df-cap knob: exactness and
    // boilerplate immunity come from the same ordering. Shares x31's
    // uncapped oracle, so a hash match certifies both formulations
    // against each other AND against DuckDB.
    Query("x123_prefix_jaccard",
      Some(s"WITH ${OracleCtes.shinglePairs}\n" +
        """SELECT id_a, id_b,
          |  round(i / (sa.z + sb.z - i), 6) AS jaccard
          |FROM pr JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
          |WHERE round(i / (sa.z + sb.z - i), 6) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin),
      env => SimilarityOps.prefixFilterJaccardPairs(env.documents,
          "doc_id", "text")
        .orderBy("id_a", "id_b")),

    // X31b: the scale path — MinHash + LSH banding (no all-pairs join).
    // Engine-specific hashing → rows-only driver check; recall vs the
    // exact Jaccard ground truth is asserted in NearDupSpec.
    Query("x31_minhash_lsh",
      None,
      env => SimilarityOps.minhashNearDups("doc_id", "text")(env.documents)
        .orderBy("id_a", "id_b")),

    // X30c: SimHash 64-bit signatures (rows-only; pair semantics in specs).
    Query("x30_simhash",
      None,
      env => SimilarityOps.simhash("doc_id", "text")(env.documents)
        .orderBy("id")),

    // X30c2: SimHash near-dup pairs via pigeonhole banding (no all-pairs
    // join). Rows-only; spec-verified identical to brute force.
    Query("x30_simhash_neardup",
      None,
      env => SimilarityOps.simhashNearDups("doc_id", "text", maxDist = 3)(
          env.documents)
        .orderBy("id_a", "id_b")),

    // X32: exact top-10 cosine neighbours for 5 query vectors. Math in
    // double mirroring DuckDB list_cosine_similarity; cosine rounded to 6
    // before ranking so last-ulp noise can't flip rank order.
    Query("x32_cosine_topk",
      Some("""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
             |          FROM embeddings WHERE vec_id < 5),
             |c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings),
             |s AS (SELECT q_id, c_id,
             |        round(list_cosine_similarity(qe, ce), 6) AS cos_sim
             |      FROM q CROSS JOIN c WHERE c_id <> q_id)
             |SELECT q_id, c_id, cos_sim,
             |  row_number() OVER (PARTITION BY q_id
             |    ORDER BY cos_sim DESC, c_id) AS rn
             |FROM s
             |QUALIFY rn <= 10
             |ORDER BY q_id, rn""".stripMargin),
      env => {
        val emb = env.embeddings.withColumn("e",
          transform(col("embedding"), v => v.cast("double")))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("e").as("qe"))
        val c = emb.select(col("vec_id").as("c_id"), col("e").as("ce"))
        SimilarityOps.cosineTopK(q, c, 10).orderBy("q_id", "rn")
      }),

    // X32b: the ANN scale path — LSH-bucketed approximate top-k (seeded,
    // deterministic). Rows-only driver check; recall >= 0.7 vs the exact
    // path is asserted in SimilarityOpsSpec.
    Query("x32_ann_topk",
      None,
      env => {
        val emb = env.embeddings.withColumn("e",
          transform(col("embedding"), v => v.cast("double")))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("e").as("qe"))
        val c = emb.select(col("vec_id").as("c_id"), col("e").as("ce"))
        SimilarityOps.annCosineTopK(q, c, 10).orderBy("q_id", "rn")
      }),

    // X31b: the MINHASH-LSH parity contract, hash-checked: on this
    // corpus the banded candidate path must recover EXACTLY the exact
    // n-gram Jaccard pairs at τ=0.5 — no pair missed by banding, and
    // (since banded candidates are verified with exact Jaccard) no
    // extras by construction. Deterministic: min-hash signatures are
    // commutative min-aggregates (layout-independent) and the corpus is
    // static. A banding regression (band count/width, signature hashing,
    // verify-join bug) flips the driver artifact hash. The spec pins the
    // same equality cluster-level; this pins it pair-level, in-engine.
    Query("x31b_lsh_parity",
      Some("SELECT true AS parity"),
      env => {
        // Both sub-plans are expensive (full inverted-index Jaccard; full
        // MinHash path) and both emit DISTINCT (id_a, id_b) pairs, so the
        // symmetric difference folds into ONE full-outer join — each
        // pipeline computes exactly once (the r7 exceptAll formulation fed
        // each side into two branches, computing both pipelines twice —
        // 17 s, 15% of the whole bench, for a verification contract).
        val exact = SimilarityOps
          .ngramJaccardPairs(env.documents, "doc_id", "text",
            maxShingleDf = 256)
          .select(col("id_a"), col("id_b"), lit(1).as("e"))
        val lsh = SimilarityOps
          .minhashNearDups("doc_id", "text")(env.documents)
          .select(col("id_a"), col("id_b"), lit(1).as("l"))
        exact.join(lsh, Seq("id_a", "id_b"), "full_outer")
          .agg(count(when(col("l").isNull, 1)).as("missed"),
            count(when(col("e").isNull, 1)).as("extra"))
          .select((col("missed") === 0 && col("extra") === 0).as("parity"))
      }),

    // X32f: the INCREMENTAL-IVF contract, hash-checked (the x31c
    // discipline on the retrieval index): append a batch of new vectors
    // to a persisted IVF index without refitting — batch rows assign to
    // their nearest existing centroid via the SAME assignCells plan the
    // build uses, corpus assignments stay untouched, re-appending the
    // batch is a no-op, and the maintained table equals a from-scratch
    // assignment of the full corpus under the same centroids. A drift in
    // the persisted schema, the anti-join idempotency gate, or the
    // assignment metric flips the hash.
    Query("x32f_incremental_ivf",
      Some("SELECT true AS parity"),
      env => CdcQueries.withTempTableSummary(env.spark, "graft_x32f_") {
        dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val emb = env.embeddings.withColumn("e",
          transform(col("embedding"), v => v.cast("double")))
        val corpus = emb.filter(col("vec_id") % 5 =!= 0)
          .select(col("vec_id").as("c_id"), col("e").as("ce"))
        val batch = emb.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("c_id"), col("e").as("ce"))
        SimilarityOps.buildIvfIndexVersioned(ss, "x32f_ivf", corpus)
        val n1 = SimilarityOps.appendIvfBatchVersioned(ss, "x32f_ivf", batch)
        val n2 = SimilarityOps.appendIvfBatchVersioned(ss, "x32f_ivf", batch)
        require(n2 == 0L, s"re-append must be a no-op, ingested $n2")
        val nExpected = corpus.count() + n1
        val reference = SimilarityOps.assignCells(
          corpus.unionByName(batch), ss.readTable("x32f_ivf", "centroids"))
          .select(col("c_id"), col("cell").as("ref_cell"))
        val maintained = ss.readTable("x32f_ivf", "assigned")
          .select("c_id", "cell")
        val out = maintained.join(reference, Seq("c_id"), "full_outer")
          .agg(count(when(col("cell").isNull ||
              col("ref_cell").isNull ||
              col("cell") =!= col("ref_cell"), 1)).as("mismatched"),
            count(lit(1)).as("n"))
          .select((col("mismatched") === 0 &&
            col("n") === lit(nExpected)).as("parity"))
          // materialize BEFORE dropping the registrations: a catalog-
          // partitioned scan lists its partitions lazily at execution
          .localCheckpoint()
        ss.dropCatalogTables("x32f_ivf")
        out
      }),

    // X32g: the VERSIONED IVF index — x32f's incremental contract routed
    // through SnapshotStore atomic commits on the versioned-bucketed
    // layout (assigned cell-bucketed under commit_v partitions;
    // centroids in the same atomic group, so an index can never serve
    // assignments against centroids from a different commit). Build v1,
    // append the batch (v2), retry (must commit NOTHING — not even a
    // version), stage a THIRD append completely and DIE pre-swap: v2
    // must hold, v2's maintained table must equal a from-scratch
    // assignment of the union under the frozen centroids, and v1 must
    // time-travel to exactly the corpus assignments. Parity boolean,
    // hash-gated.
    Query("x32g_versioned_ivf",
      Some("SELECT true AS parity"),
      env => CdcQueries.withTempTableSummary(env.spark, "graft_x32g_") {
        dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val emb = env.embeddings.withColumn("e",
          transform(col("embedding"), v => v.cast("double")))
        val corpus = emb.filter(col("vec_id") % 5 =!= 0)
          .select(col("vec_id").as("c_id"), col("e").as("ce"))
        val batch = emb.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("c_id"), col("e").as("ce"))
        SimilarityOps.buildIvfIndexVersioned(ss, "ivf", corpus)
        val n1 = SimilarityOps.appendIvfBatchVersioned(ss, "ivf", batch)
        require(n1 > 0L, "append must ingest the batch")
        val retried = SimilarityOps.appendIvfBatchVersioned(ss, "ivf", batch)
        require(retried == 0L && ss.currentVersion("ivf") == 2L,
          "retried append must commit nothing — not even a version")
        // kill-at-the-seam: a third append fully staged, dead pre-swap
        val ghost = batch.select((col("c_id") + 900000000L).as("c_id"),
          col("ce"))
        val gAssigned = SimilarityOps.ivfFreshAssignedVersioned(ss, "ivf",
          2L, ghost)
        ss.claim("ivf", 3L)
        ss.stageTables("ivf", 3L, Map("assigned" -> gAssigned), Map.empty)
        graft.ops.RelOps.releaseCheckpoint(gAssigned)
        require(ss.currentVersion("ivf") == 2L, "death before swap: v2 holds")
        val nCorpus = corpus.count()
        val nExpected = nCorpus + n1
        val reference = SimilarityOps.assignCells(
          corpus.unionByName(batch), ss.readTable("ivf", "centroids"))
          .select(col("c_id"), col("cell").as("ref_cell"))
        val maintained = ss.readTable("ivf", "assigned")
          .select("c_id", "cell")
        val v1Count = ss.readTableVersion("ivf", 1L, "assigned").count()
        val out = maintained.join(reference, Seq("c_id"), "full_outer")
          .agg(count(when(col("cell").isNull ||
              col("ref_cell").isNull ||
              col("cell") =!= col("ref_cell"), 1)).as("mismatched"),
            count(lit(1)).as("n"))
          .select((col("mismatched") === 0 &&
            col("n") === lit(nExpected) &&
            lit(v1Count) === lit(nCorpus)).as("parity"))
          // materialize BEFORE dropping the registrations: a catalog-
          // partitioned scan lists its partitions lazily at execution
          .localCheckpoint()
        ss.dropCatalogTables("ivf")
        out
      }),

    // X31c: the INCREMENTAL-DEDUP contract, hash-checked: a persisted
    // MinHash signature index (build once on the corpus slice, probe the
    // new batch, never re-shingle the corpus) must decompose the full-
    // corpus run exactly — minhashNearDups(corpus ∪ batch) ≡
    // minhashNearDups(corpus) ∪ probeMinhashIndexVersioned(batch) — with
    // the two sides disjoint (the probe emits only pairs involving the
    // batch).
    // This is the build-once/probe-many ingest loop a 100 TB dedup
    // pipeline runs per arriving batch; a regression in the persisted
    // schema, the probe's census, or the cross/intra candidate split
    // flips the hash.
    Query("x31c_incremental_minhash",
      Some("SELECT true AS parity"),
      env => CdcQueries.withTempTableSummary(env.spark, "graft_x31c_") {
        dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val corpus = env.documents.filter(col("doc_id") % 5 =!= 0)
        val batch = env.documents.filter(col("doc_id") % 5 === 0)
        SimilarityOps.buildMinhashIndexVersioned(ss, "mh", corpus,
          "doc_id", "text")
        val probed = SimilarityOps.probeMinhashIndexVersioned(ss, "mh",
            batch, "doc_id", "text")
          .select(col("id_a"), col("id_b"), lit(1).as("p"))
        val corpusOnly = SimilarityOps
          .minhashNearDups("doc_id", "text")(corpus)
          .select(col("id_a"), col("id_b"), lit(1).as("c"))
        val full = SimilarityOps
          .minhashNearDups("doc_id", "text")(env.documents)
          .select(col("id_a"), col("id_b"), lit(1).as("f"))
        val incremental = corpusOnly.join(probed, Seq("id_a", "id_b"),
          "full_outer")
        incremental.join(full, Seq("id_a", "id_b"), "full_outer")
          .agg(
            count(when(col("f").isNull, 1)).as("extra"),
            count(when(col("c").isNull && col("p").isNull, 1)).as("missed"),
            count(when(col("c") === 1 && col("p") === 1, 1)).as("overlap"),
            count(when(col("p") === 1, 1)).as("probed_n"))
          .select((col("extra") === 0 && col("missed") === 0 &&
            col("overlap") === 0 && col("probed_n") > 0).as("parity"))
      }),

    // X31d: the VERSIONED minhash index — x125d's atomic multi-table
    // commits for the dedup family. Build v1 on the corpus slice, append
    // the batch (v2), retry (must commit NOTHING — not even a version),
    // stage a THIRD append completely (sigs + bands dirs + manifest,
    // exactly what the real append publishes) and DIE before the pointer
    // swap. The x31c decomposition is then asserted THROUGH TIME TRAVEL:
    // probing the batch against VERSION 1 must decompose the full-corpus
    // run exactly (corpus-only ∪ probe ≡ full, sides disjoint), and the
    // kill leaves v2 current with its sig registry equal to the whole
    // corpus. Parity boolean, hash-gated.
    Query("x31d_versioned_minhash",
      Some("SELECT true AS parity"),
      env => CdcQueries.withTempTableSummary(env.spark, "graft_x31d_") {
        dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val corpus = env.documents.filter(col("doc_id") % 5 =!= 0)
        val batch = env.documents.filter(col("doc_id") % 5 === 0)
        SimilarityOps.buildMinhashIndexVersioned(ss, "mh", corpus,
          "doc_id", "text")
        val n1 = SimilarityOps.appendMinhashBatchVersioned(ss, "mh",
          batch, "doc_id", "text")
        require(n1 > 0L, "append must ingest the batch")
        val retried = SimilarityOps.appendMinhashBatchVersioned(ss, "mh",
          batch, "doc_id", "text")
        require(retried == 0L && ss.currentVersion("mh") == 2L,
          "retried append must commit nothing — not even a version")
        // kill-at-the-seam: a third append fully staged, dead pre-swap
        val ghost = env.documents.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
        val gMeta = SimilarityOps.minhashMetaAt(ss, "mh", 2L)
        val gSig = SimilarityOps.minhashFreshSigVersioned(ss, "mh", 2L,
          gMeta, ghost, "doc_id", "text")
        ss.claim("mh", 3L)
        ss.stageTables("mh", 3L,
          SimilarityOps.minhashAppendTables(gMeta, gSig), Map.empty)
        graft.ops.RelOps.releaseCheckpoint(gSig)
        require(ss.currentVersion("mh") == 2L, "death before swap: v2 holds")
        val nAll = env.documents.count()
        require(ss.readTable("mh", "sigs").count() == nAll,
          "v2 must register exactly the whole corpus")
        val probed = SimilarityOps.probeMinhashIndexVersioned(ss, "mh",
            batch, "doc_id", "text", version = Some(1L))
          .select(col("id_a"), col("id_b"), lit(1).as("p"))
        val corpusOnly = SimilarityOps
          .minhashNearDups("doc_id", "text")(corpus)
          .select(col("id_a"), col("id_b"), lit(1).as("c"))
        val full = SimilarityOps
          .minhashNearDups("doc_id", "text")(env.documents)
          .select(col("id_a"), col("id_b"), lit(1).as("f"))
        val incremental = corpusOnly.join(probed, Seq("id_a", "id_b"),
          "full_outer")
        incremental.join(full, Seq("id_a", "id_b"), "full_outer")
          .agg(
            count(when(col("f").isNull, 1)).as("extra"),
            count(when(col("c").isNull && col("p").isNull, 1)).as("missed"),
            count(when(col("c") === 1 && col("p") === 1, 1)).as("overlap"),
            count(when(col("p") === 1, 1)).as("probed_n"))
          .select((col("extra") === 0 && col("missed") === 0 &&
            col("overlap") === 0 && col("probed_n") > 0).as("parity"))
      }),

    // X39c: the incremental SUBSTRING-dedup contract, hash-checked (x31c
    // discipline): probing a batch against the persisted window census
    // must emit exactly the union run's duplicated spans restricted to
    // batch docs — the build-once/probe-many ingest loop for passage
    // dedup. A regression in the persisted census schema, the additive
    // doc-count merge, or the probe's union condition flips the hash.
    Query("x39c_incremental_spans",
      Some("SELECT true AS parity"),
      env => CdcQueries.withTempTableSummary(env.spark, "graft_x39c_") {
        dir =>
        val store = new graft.sources.TableStore(env.spark, dir)
        val corpus = env.documents.filter(col("doc_id") % 5 =!= 0)
        val batch = env.documents.filter(col("doc_id") % 5 === 0)
        SimilarityOps.buildWindowIndex(store, "wx", corpus,
          "doc_id", "text")
        val probed = SimilarityOps.probeWindowIndex(store, "wx", batch,
            "doc_id", "text")
          .select(col("doc_id"), col("span_start"), col("span_end"),
            lit(1).as("p"))
        val unionRun = SimilarityOps.duplicatedSpans(env.documents,
            "doc_id", "text")
          .join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("span_start"), col("span_end"),
            lit(1).as("u"))
        probed.join(unionRun,
            Seq("doc_id", "span_start", "span_end"), "full_outer")
          .agg(
            count(when(col("u").isNull, 1)).as("extra"),
            count(when(col("p").isNull, 1)).as("missed"),
            count(when(col("p") === 1, 1)).as("probed_n"))
          .select((col("extra") === 0 && col("missed") === 0 &&
            col("probed_n") > 0).as("parity"))
      }),

    // X30d: the SIMHASH BANDING contract, hash-checked (x7c discipline):
    // the pigeonhole guarantee says band-bucketed candidate generation
    // finds EVERY pair within hamming distance maxDist (soundness holds
    // by construction — the band join ends in an explicit hamming
    // filter), so the banded pair count must EQUAL the brute-force count
    // over the signatures. Computed in-engine (the brute force is a
    // broadcast nested-loop over the tiny signature frame — ground-truth
    // scale only); the oracle emits the guaranteed outcome, so a banding
    // bug (bad band widths, uncovered bits, bucket-key truncation) flips
    // the driver artifact hash instead of only failing a local spec.
    Query("x30b_simhash_bound",
      Some("SELECT true AS complete"),
      env => {
        val sims = SimilarityOps.simhash("doc_id", "text")(env.documents)
        val brute = sims.as("a").join(broadcast(sims.as("b")),
            col("a.id") < col("b.id"))
          .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
          .agg(count(lit(1)).as("n_exact"))
        val banded = SimilarityOps
          .simhashNearDups("doc_id", "text", maxDist = 3)(env.documents)
          .agg(count(lit(1)).as("n_band"))
        brute.crossJoin(banded)
          .select((col("n_exact") === col("n_band")).as("complete"))
      }),

    // X32e: the ANN QUALITY contract, hash-checked (the x73/x76
    // discipline): per query, the LSH-bucketed top-10's mean cosine must
    // reach 0.8× the exact top-10's. Distance quality, not set recall —
    // same corpus rationale as x76_pq_quality.
    Query("x32b_ann_quality",
      Some("""SELECT DISTINCT vec_id AS q_id, true AS quality_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin),
      env => {
        val emb = env.embeddings.withColumn("e",
          transform(col("embedding"), v => v.cast("double")))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("e").as("qe"))
        val c = emb.select(col("vec_id").as("c_id"), col("e").as("ce"))
        val ann = SimilarityOps.annCosineTopK(q, c, 10)
          .groupBy("q_id").agg(avg("cos_sim").as("ann_mean"))
        val exact = SimilarityOps.cosineTopK(q, c, 10)
          .groupBy("q_id").agg(avg("cos_sim").as("exact_mean"))
        exact.join(ann, Seq("q_id"), "left_outer")
          .select(col("q_id"),
            (coalesce(col("ann_mean"), lit(0.0)) >= col("exact_mean") * 0.8)
              .as("quality_ok"))
          .orderBy("q_id")
      }),

    // X32c: IVF ANN — KMeans coarse cells + nProbe probing (seeded,
    // deterministic). Rows-only; recall >= 0.6 asserted in specs.
    Query("x32_ivf_topk",
      None,
      env => {
        val emb = env.embeddings.withColumn("e",
          transform(col("embedding"), v => v.cast("double")))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("e").as("qe"))
        val c = emb.select(col("vec_id").as("c_id"), col("e").as("ce"))
        SimilarityOps.ivfCosineTopK(q, c, 10).orderBy("q_id", "rn")
      }),

    // X76: product-quantization ADC search — 64-dim float vectors compress
    // to 8 one-byte codes (64×; the codes table fits in memory at 100 TB
    // where raw vectors cannot), per-query LUTs broadcast, per-partition
    // top-50 pools, exact cosine rerank of the pool. Rows-only (codes come
    // from seeded KMeans codebooks — engine-specific); PqOpsSpec pins
    // determinism + recall, and x76_pq_recall makes the recall contract
    // driver-checked.
    Query("x76_pq_topk",
      None,
      env => {
        import graft.ops.PqOps
        val emb = env.embeddings.withColumn("e",
          transform(col("embedding"), v => v.cast("double")))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("e").as("qe"))
        val c = emb.select(col("vec_id").as("c_id"), col("e").as("ce"))
        val cb = PqOps.train(c, "ce")
        val codes = PqOps.encode(c, "c_id", "ce", cb)
        PqOps.adcTopK(q, codes, cb, c, k = 10).orderBy("q_id", "rn")
      }),

    // X76b: the PQ QUALITY contract, hash-checked (the x7_quantile_bound
    // discipline): per query, PQ's top-10 neighbors must be nearly as
    // close as the exact top-10 — mean(PQ top-10 cos) ≥ 0.8 × mean(exact
    // top-10 cos), computed in-engine, oracle emits the guaranteed
    // outcome. Distance quality, NOT set recall, is the honest contract
    // on this corpus: the synthetic embeddings are near-random (top
    // cosines ~0.35 at sf0.1, margins between rank 10 and rank 300 within
    // quantization noise at any codebook size — measured k=16 ≡ k=234),
    // so top-k membership is tie-breaking noise while the achieved
    // distances are stable (observed ratios ~0.9; on clustered data ~1.0).
    Query("x76_pq_quality",
      Some("""SELECT DISTINCT vec_id AS q_id, true AS quality_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin),
      env => {
        import graft.ops.PqOps
        val emb = env.embeddings.withColumn("e",
          transform(col("embedding"), v => v.cast("double")))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("e").as("qe"))
        val c = emb.select(col("vec_id").as("c_id"), col("e").as("ce"))
        val cb = PqOps.train(c, "ce")
        val codes = PqOps.encode(c, "c_id", "ce", cb)
        val pq = PqOps.adcTopK(q, codes, cb, c, k = 10)
          .groupBy("q_id").agg(avg("cos_sim").as("pq_mean"))
        val exact = SimilarityOps.cosineTopK(q, c, 10)
          .groupBy("q_id").agg(avg("cos_sim").as("exact_mean"))
        exact.join(pq, Seq("q_id"), "left_outer")
          .select(col("q_id"),
            (coalesce(col("pq_mean"), lit(0.0)) >= col("exact_mean") * 0.8)
              .as("quality_ok"))
          .orderBy("q_id")
      }),

    // X33: per-document token/char stats.
    Query("x33_token_stats",
      Some("""SELECT doc_id,
             |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '')) AS n_tokens,
             |  length(text) AS n_chars_m
             |FROM documents ORDER BY doc_id""".stripMargin),
      env => env.documents.select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_m"))
        .orderBy("doc_id")),

    // X33e: BPE-ish subword token counting (whitespace count is in
    // x33_token_stats; this is the wordpiece-style variant).
    Query("x33_bpe_tokens",
      Some("""SELECT doc_id,
             |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+')) AS n_bpe
             |FROM documents ORDER BY doc_id""".stripMargin),
      env => env.documents.select(col("doc_id"),
          TextOps.bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy("doc_id")),

    // X30d: embedding-cosine near-dup — exact pairs above a cosine
    // threshold (0.4: this synthetic corpus plants no high-cosine dups).
    // Oracle ground truth; the LSH path (x32_ann_topk) is the scale path.
    Query("x30_embedding_neardup",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
             |ORDER BY id_a, id_b""".stripMargin),
      env => {
        graft.functions.VecCosine.register(env.spark)
        val e = env.embeddings.select(col("vec_id"),
          transform(col("embedding"), v => v.cast("double")).as("v"))
        e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
          .withColumn("cos_sim",
            round(graft.functions.VecCosine.vec_cosine(col("a.v"), col("b.v")), 6))
          .filter(col("cos_sim") >= 0.4)
          .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
            col("cos_sim"))
          .orderBy("id_a", "id_b")
      }),

    // X33b: corpus language breakdown.
    Query("x33_lang_stats",
      Some("""SELECT lang, count(*) AS n, round(avg(n_chars), 6) AS avg_chars,
             |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      env => env.documents.groupBy("lang").agg(
          count(lit(1)).as("n"), round(avg("n_chars"), 6).as("avg_chars"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("lang")),

    // X33c: quality-scoring features (punctuation / stopword / token
    // counts + stopword ratio).
    Query("x33_quality_score",
      Some("""WITH toks AS (
             |  SELECT doc_id, text,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS t
             |  FROM documents)
             |SELECT doc_id,
             |  length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS n_punct,
             |  len(list_filter(t,
             |      t -> t IN ('the','a','and','of','to','in','is','it','on','for'))) AS n_stop,
             |  len(t) AS n_tokens,
             |  round(len(list_filter(t,
             |      t -> t IN ('the','a','and','of','to','in','is','it','on','for')))
             |    / len(t), 6) AS stop_ratio
             |FROM toks ORDER BY doc_id""".stripMargin),
      env => env.documents.select(col("doc_id"),
          TextOps.punctCount(col("text")).as("n_punct"),
          TextOps.stopwordCount(col("text")).as("n_stop"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
        .withColumn("stop_ratio", round(col("n_stop") / col("n_tokens"), 6))
        .orderBy("doc_id")),

    // X33d: heuristic language ID. The rule chain is pure regex, so the
    // oracle replicates it verbatim in RE2 (\b and \x{...} classes agree
    // with Java regex on these patterns); per-branch behavior on texts
    // that actually trip each rule is additionally pinned by spec
    // fixtures (this corpus's word-soup all falls through to 'en').
    Query("x33_lang_id",
      Some("""SELECT doc_id, CASE
             |  WHEN length(regexp_replace(lower(text),
             |       '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
             |  WHEN regexp_matches(lower(text),
             |       '\b(der|die|das|und|nicht|ist)\b') THEN 'de'
             |  WHEN regexp_matches(lower(text),
             |       '\b(el|la|los|las|es|y|que)\b') THEN 'es'
             |  WHEN regexp_matches(lower(text),
             |       '\b(le|les|est|et|une|dans)\b') THEN 'fr'
             |  ELSE 'en' END AS pred_lang
             |FROM documents ORDER BY doc_id""".stripMargin),
      env => env.documents.select(col("doc_id"),
          TextOps.langIdHeuristic(col("text")).as("pred_lang"))
        .orderBy("doc_id")),

    // X34: multimodal row — document text metadata + embedding vector.
    Query("x34_multimodal_join",
      Some("""SELECT doc_id, lang, n_chars, len(embedding) AS dim, label
             |FROM documents JOIN embeddings ON doc_id = vec_id
             |ORDER BY doc_id""".stripMargin),
      env => env.documents.join(env.embeddings,
          col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          size(col("embedding")).as("dim"), col("label"))
        .orderBy("doc_id")),

    // X34b: decode-metadata round trip, HASH-CHECKED: synthesize real
    // encoded payloads (BMP and baseline-PNG images in a found-data
    // format mix, WAV audio, GV01 container video), parse the actual
    // header bytes per partition, and emit the decoded dims/duration
    // plus the container format the decoder SNIFFED from the magic
    // bytes. The generator's dimensions and format choice are modular
    // functions of the id, so the oracle derives the same values
    // arithmetically — a hash match proves the id → encode → bytes →
    // parse-header pipeline is lossless for every codec, PNG's
    // deflate/filter/CRC stack included (pixel and sample CONTENT is
    // pinned by byte-exact round-trip + golden checksum specs in
    // MultimodalOpsSpec).
    Query("x34_decode_meta",
      Some("""SELECT doc_id AS media_id,
             |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
             |    WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             |  CASE CAST(doc_id % 3 AS INT)
             |    WHEN 0 THEN CASE WHEN (doc_id // 3) % 2 = 0
             |      THEN 'bmp' ELSE 'png' END
             |    WHEN 1 THEN 'wav' ELSE 'gv01' END AS container,
             |  CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 16 + doc_id % 48
             |    WHEN 1 THEN 0 ELSE 16 + doc_id % 16 END AS INT) AS width,
             |  CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 16 + (doc_id // 3) % 32
             |    WHEN 1 THEN 0 ELSE 12 + doc_id % 8 END AS INT) AS height,
             |  CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 0
             |    WHEN 1 THEN 1000 + (doc_id % 32) * 100
             |    ELSE (2 + doc_id % 4) * 40 END AS BIGINT) AS duration_ms
             |FROM documents ORDER BY doc_id""".stripMargin),
      env => {
        import graft.ops.MultimodalOps
        val spark = env.spark
        import spark.implicits._
        val media = MultimodalOps.synthesize(
          env.documents.select("doc_id"), "doc_id")
          .as[MultimodalOps.MediaRow]
        MultimodalOps.decodeMeta(media).toDF()
          .select(col("media_id"), col("media_type"), col("container"),
            col("meta.width").as("width"), col("meta.height").as("height"),
            col("meta.durationMs").as("duration_ms"))
          .orderBy("media_id")
      }),

    // X34b': video frame sampling with CONTENT — seek each sampled offset
    // via the container's length prefixes, decode that frame only, emit
    // its dims and mean pixel value. PIXEL-EXACT oracle: the synthetic
    // pixel generator is splitmix64 (MediaGen.mix) over deterministic
    // per-pixel seeds, and DuckDB reproduces it exactly with HUGEINT
    // arithmetic mod 2^64 (64×64-bit multiply split at 32 bits so the
    // 128-bit signed HUGEINT never overflows). The oracle therefore
    // re-derives every sampled frame's mean from doc_id alone — the
    // whole encode → container-seek → decode → aggregate path is
    // hash-gated, not just golden-pinned in MultimodalOpsSpec.
    Query("x34_frame_sample",
      Some("""WITH v AS (
             |  SELECT doc_id AS media_id, (2 + doc_id % 4) AS nframes,
             |    (16 + doc_id % 16)::INT AS frame_w,
             |    (12 + doc_id % 8)::INT AS frame_h
             |  FROM documents WHERE doc_id % 3 = 2),
             |f AS (
             |  SELECT media_id, frame_w, frame_h, t AS frame_ms,
             |    (t // 40) AS fidx
             |  FROM v, unnest(range(0, nframes * 40, 80)) AS u(t)),
             |px0 AS (
             |  SELECT media_id, frame_ms, frame_w, frame_h,
             |    (media_id * 196609 + fidx * 1000003 + i)::HUGEINT AS z0
             |  FROM f, unnest(range(0, frame_w::BIGINT * frame_h * 3)) AS ui(i)),
             |s1 AS (SELECT media_id, frame_ms, frame_w, frame_h,
             |  (z0 + 11400714819323198485::HUGEINT)
             |    % 18446744073709551616::HUGEINT AS z1 FROM px0),
             |s2 AS (SELECT media_id, frame_ms, frame_w, frame_h,
             |  xor(z1, z1 // 1073741824::HUGEINT) AS x1 FROM s1),
             |s3 AS (SELECT media_id, frame_ms, frame_w, frame_h,
             |  ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
             |   + ((x1 // 4294967296::HUGEINT * 13787848793156543929::HUGEINT)
             |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
             |    % 18446744073709551616::HUGEINT AS z2 FROM s2),
             |s4 AS (SELECT media_id, frame_ms, frame_w, frame_h,
             |  xor(z2, z2 // 134217728::HUGEINT) AS x2 FROM s3),
             |s5 AS (SELECT media_id, frame_ms, frame_w, frame_h,
             |  ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
             |   + ((x2 // 4294967296::HUGEINT * 10723151780598845931::HUGEINT)
             |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
             |    % 18446744073709551616::HUGEINT AS z3 FROM s4),
             |s6 AS (SELECT media_id, frame_ms, frame_w, frame_h,
             |  (xor(z3, z3 // 2147483648::HUGEINT) % 256)::BIGINT AS b FROM s5)
             |SELECT media_id, frame_ms, frame_w, frame_h,
             |  round(avg(b::DOUBLE), 6) AS frame_mean
             |FROM s6 GROUP BY media_id, frame_ms, frame_w, frame_h
             |ORDER BY media_id, frame_ms""".stripMargin),
      env => {
        import graft.ops.MultimodalOps
        val spark = env.spark
        import spark.implicits._
        val media = MultimodalOps.synthesize(
          env.documents.select("doc_id"), "doc_id")
          .as[MultimodalOps.MediaRow]
        MultimodalOps.sampleFrames(media, everyMs = 80L, maxFrames = 5)
          .toDF().orderBy("media_id", "frame_ms")
      }),

    // X34c: multimodal → similarity composition — features extracted from
    // DECODED content (pixel/sample histograms) flow straight into the
    // exact cosine top-k operator: the decode-embed-search pipeline a
    // multimodal corpus runs end to end. Rows-only (pixel content is not
    // SQL-expressible; the codec round trip itself is oracle-checked by
    // x34_decode_meta and byte-pinned in MultimodalOpsSpec).
    Query("x34_feature_topk",
      None,
      env => {
        import graft.ops.MultimodalOps
        val spark = env.spark
        import spark.implicits._
        val media = MultimodalOps.synthesize(
          env.documents.select("doc_id"), "doc_id")
          .as[MultimodalOps.MediaRow]
        val feats = MultimodalOps.extractFeatures(media, dim = 16).toDF()
          .select(col("media_id"),
            transform(col("features"), v => v.cast("double")).as("e"))
        val q = feats.filter(col("media_id") < 3)
          .select(col("media_id").as("q_id"), col("e").as("qe"))
        val c = feats.select(col("media_id").as("c_id"), col("e").as("ce"))
        SimilarityOps.cosineTopK(q, c, 5).orderBy("q_id", "rn")
      }),

    // X34e: image near-dup via perceptual hash — plant an EXACT copy (at
    // id + 10⁹) of every image whose id % 97 == 0 into the synthetic
    // corpus and run the banded-Hamming dHash join. dHash is a pure
    // function of pixels, the pigeonhole banding is exact recall, and
    // independent random-pixel images are ~2⁻⁴⁴ apart in expectation, so
    // the result is EXACTLY the planted pairs at hamming 0 — which the
    // oracle enumerates in SQL without computing a single hash. (The
    // perceptual properties — brightness invariance, noise tolerance,
    // banding ≡ brute force — are pinned in MultimodalOpsSpec.)
    Query("x34e_image_neardup",
      Some("""SELECT doc_id AS id_a, doc_id + 1000000000 AS id_b,
             |  CAST(0 AS BIGINT) AS hamming
             |FROM documents
             |WHERE doc_id % 3 = 0 AND doc_id % 97 = 0
             |ORDER BY id_a""".stripMargin),
      env => {
        import graft.ops.MultimodalOps
        val spark = env.spark
        import spark.implicits._
        val media = MultimodalOps.synthesize(
          env.documents.select("doc_id"), "doc_id")
          .as[MultimodalOps.MediaRow]
        val planted = media
          .filter(r => r.media_type == "image" && r.media_id % 97 == 0)
          .map(r => r.copy(media_id = r.media_id + 1000000000L))
        MultimodalOps.imageNearDups(media.unionByName(planted),
            maxHamming = 4)
          .orderBy("id_a")
      }),

    // X34f: the audio analog — envelope dHash over WAV payloads, planted
    // copies at id + 10⁹ for audio ids (id % 3 == 1) with id % 97 == 0,
    // SQL-enumerable oracle exactly as x34e.
    Query("x34f_audio_neardup",
      Some("""SELECT doc_id AS id_a, doc_id + 1000000000 AS id_b,
             |  CAST(0 AS BIGINT) AS hamming
             |FROM documents
             |WHERE doc_id % 3 = 1 AND doc_id % 97 = 0
             |ORDER BY id_a""".stripMargin),
      env => {
        import graft.ops.MultimodalOps
        val spark = env.spark
        import spark.implicits._
        val media = MultimodalOps.synthesize(
          env.documents.select("doc_id"), "doc_id")
          .as[MultimodalOps.MediaRow]
        val planted = media
          .filter(r => r.media_type == "audio" && r.media_id % 97 == 0)
          .map(r => r.copy(media_id = r.media_id + 1000000000L))
        MultimodalOps.audioNearDups(media.unionByName(planted),
            maxHamming = 4)
          .orderBy("id_a")
      }),

    // X34g: video near-dup by shared perceptual frames — a planted copy
    // shares ALL its frames, and the frame count is a pure function of
    // the id (MediaGen: 2 + id % 4), so the oracle enumerates the pairs
    // AND their n_shared in SQL without decoding a byte.
    Query("x34g_video_neardup",
      Some("""SELECT doc_id AS id_a, doc_id + 1000000000 AS id_b,
             |  CAST(2 + doc_id % 4 AS BIGINT) AS n_shared
             |FROM documents
             |WHERE doc_id % 3 = 2 AND doc_id % 97 = 0
             |ORDER BY id_a""".stripMargin),
      env => {
        import graft.ops.MultimodalOps
        val spark = env.spark
        import spark.implicits._
        val media = MultimodalOps.synthesize(
          env.documents.select("doc_id"), "doc_id")
          .as[MultimodalOps.MediaRow]
        val planted = media
          .filter(r => r.media_type == "video" && r.media_id % 97 == 0)
          .map(r => r.copy(media_id = r.media_id + 1000000000L))
        MultimodalOps.videoNearDups(media.unionByName(planted),
            minSharedFrames = 2)
          .orderBy("id_a")
      }),

    // X39: passage-level exact-substring dedup (Lee et al. 2021
    // ExactSubstr, re-expressed as rolling-window gaps-and-islands —
    // suffix arrays don't distribute; duplicated W-windows + interval
    // merge find the same cross-doc copied passages). The oracle
    // recomputes the whole pipeline on window TEXT (Spark groups on
    // xxhash64 of the window — the hash never reaches the output, so the
    // hash-match also certifies the 64-bit hashing introduced no
    // collision on this corpus).
    Query("x39_dup_spans",
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                t -> t <> '') AS toks
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, toks,
             |    unnest(generate_series(1, len(toks) - 7)) AS pos
             |  FROM t WHERE len(toks) >= 8),
             |w AS (
             |  SELECT doc_id, pos,
             |    array_to_string(toks[pos:pos+7], ' ') AS win
             |  FROM p),
             |d AS (SELECT win FROM w GROUP BY win
             |      HAVING count(DISTINCT doc_id) >= 2),
             |m AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (win)),
             |g AS (SELECT doc_id, pos,
             |  CASE WHEN pos - lag(pos) OVER
             |         (PARTITION BY doc_id ORDER BY pos) <= 8
             |       THEN 0 ELSE 1 END AS ns FROM m),
             |gg AS (SELECT doc_id, pos,
             |  sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
             |                ROWS UNBOUNDED PRECEDING) AS grp FROM g)
             |SELECT doc_id, min(pos) AS span_start,
             |  max(pos) + 7 AS span_end,
             |  max(pos) + 7 - min(pos) + 1 AS span_tokens
             |FROM gg GROUP BY doc_id, grp
             |ORDER BY doc_id, span_start""".stripMargin),
      env => SimilarityOps.duplicatedSpans(env.documents, "doc_id", "text",
          windowLen = 8, minDocs = 2)
        .orderBy("doc_id", "span_start")),

    // X39b: the per-doc coverage metric a cleaning pipeline thresholds on
    // (duplicated-token fraction; spans are disjoint so the sum never
    // double-counts).
    Query("x39_dup_coverage",
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                t -> t <> '') AS toks
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, toks,
             |    unnest(generate_series(1, len(toks) - 7)) AS pos
             |  FROM t WHERE len(toks) >= 8),
             |w AS (
             |  SELECT doc_id, pos,
             |    array_to_string(toks[pos:pos+7], ' ') AS win
             |  FROM p),
             |d AS (SELECT win FROM w GROUP BY win
             |      HAVING count(DISTINCT doc_id) >= 2),
             |m AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (win)),
             |g AS (SELECT doc_id, pos,
             |  CASE WHEN pos - lag(pos) OVER
             |         (PARTITION BY doc_id ORDER BY pos) <= 8
             |       THEN 0 ELSE 1 END AS ns FROM m),
             |gg AS (SELECT doc_id, pos,
             |  sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
             |                ROWS UNBOUNDED PRECEDING) AS grp FROM g),
             |s AS (SELECT doc_id,
             |        max(pos) + 7 - min(pos) + 1 AS span_tokens
             |      FROM gg GROUP BY doc_id, grp),
             |c AS (SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
             |      FROM s GROUP BY doc_id),
             |n AS (SELECT doc_id, len(toks) AS n_tokens FROM t)
             |SELECT n.doc_id, n.n_tokens,
             |  coalesce(c.dup_tokens, 0) AS dup_tokens,
             |  round(coalesce(c.dup_tokens, 0) / greatest(n.n_tokens, 1), 6)
             |    AS dup_frac
             |FROM n LEFT JOIN c USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      env => SimilarityOps.duplicatedCoverage(env.documents, "doc_id", "text",
          windowLen = 8, minDocs = 2)
        .orderBy("doc_id")),

    // X39d: the dedup ACTION — foreign duplicated passages removed,
    // keep-one in the min-id owner doc. Output text is token-normalized
    // (lowercase, single spaces) on both engines. The oracle recomputes
    // ownership + removal on window/token TEXT end to end.
    Query("x39_span_removal",
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                t -> t <> '') AS toks
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, toks,
             |    unnest(generate_series(1, len(toks) - 7)) AS pos
             |  FROM t WHERE len(toks) >= 8),
             |w AS (
             |  SELECT doc_id, pos,
             |    array_to_string(toks[pos:pos+7], ' ') AS win
             |  FROM p),
             |d AS (SELECT win, min(doc_id) AS owner FROM w GROUP BY win
             |      HAVING count(DISTINCT doc_id) >= 2),
             |m AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (win)
             |      WHERE w.doc_id <> d.owner),
             |g AS (SELECT doc_id, pos,
             |  CASE WHEN pos - lag(pos) OVER
             |         (PARTITION BY doc_id ORDER BY pos) <= 8
             |       THEN 0 ELSE 1 END AS ns FROM m),
             |gg AS (SELECT doc_id, pos,
             |  sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
             |                ROWS UNBOUNDED PRECEDING) AS grp FROM g),
             |s AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
             |      FROM gg GROUP BY doc_id, grp),
             |k AS (SELECT doc_id, unnest(toks) AS tok,
             |        unnest(generate_series(1, len(toks))) AS i FROM t),
             |kept AS (SELECT k.doc_id, k.tok, k.i FROM k
             |  WHERE NOT EXISTS (SELECT 1 FROM s
             |    WHERE s.doc_id = k.doc_id AND k.i BETWEEN s.s AND s.e)),
             |a AS (SELECT doc_id,
             |        string_agg(tok, ' ' ORDER BY i) AS clean_text,
             |        count(*) AS kept_n
             |      FROM kept GROUP BY doc_id)
             |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
             |  len(t.toks) AS n_tokens,
             |  len(t.toks) - coalesce(a.kept_n, 0) AS removed_tokens
             |FROM t LEFT JOIN a USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      env => SimilarityOps.removeDuplicatedSpans(env.documents,
          "doc_id", "text", windowLen = 8, minDocs = 2)
        .orderBy("doc_id"))
  )
}
