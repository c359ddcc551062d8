package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Env
import graft.ops.RelOps
import graft.functions.VecCosine

/** Embedding-analytics queries over the `embeddings` table (vec_id,
  * embedding: array<float>[64], label) — the corpus-inspection surface a
  * training-data pipeline runs beside similarity search (X32): centroid
  * stats, cohesion, dominant-dimension and component distributions, and
  * the one embedding shape X32 didn't cover — a kNN JOIN where BOTH sides
  * are the full corpus.
  *
  * Note: the synthetic vectors are L2-normalized (every norm is exactly
  * 1.0), so norm-distribution queries would be degenerate; the component /
  * dominant-dimension / centroid views below are the informative ones.
  *
  * Oracle: DuckDB list functions (list_cosine_similarity, list_transform,
  * generate_subscripts). Cosines are computed unrounded and rounded to 6
  * only at the output boundary, matching the engine's association
  * (VecCosine = dot / sqrt(||a||^2 * ||b||^2), same as DuckDB).
  */
object EmbeddingQueries {

  /** (vec_id, label, v: array<double>) — cast once at the boundary so both
    * engines do float->double before any math. */
  private def vecs(env: Env): DataFrame =
    env.embeddings.select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))

  /** Per-label elementwise-mean centroid as (label, centroid: array<double>).
    * One explode + two shuffles on (label, i) then label — never collects
    * vectors to the driver; at 100 TB the 64*nLabels centroid frame is tiny
    * regardless of corpus size, so downstream joins broadcast it. posexplode
    * keeps element order through the aggregate: collect_list is unordered,
    * so the struct(i, cx) array is re-sorted by index before the positions
    * are stripped. */
  private def labelCentroids(env: Env): DataFrame =
    vecs(env)
      .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("label", "i").agg(avg("x").as("cx"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("i"), col("cx")))).as("s"))
      .withColumn("centroid", transform(col("s"), t => t.getField("cx")))
      .select("label", "centroid")

  val all: Seq[Query] = Seq(

    // X35a: dominant dimension per label — for each vector, the (1-based)
    // index of the max-|x| component, then the top-3 such dimensions per
    // label. One narrow map (abs/argmax stay inside codegen) + one shuffle
    // on (label, dim); scale-independent output.
    Query("x70_dominant_dims",
      Some("""WITH e AS (SELECT label,
             |    list_transform(embedding::DOUBLE[], x -> abs(x)) AS av
             |  FROM embeddings),
             |d AS (SELECT label,
             |    CAST(list_position(av, list_max(av)) AS BIGINT) AS dim FROM e),
             |g AS (SELECT label, dim, count(*) AS n FROM d GROUP BY label, dim)
             |SELECT label, dim, n,
             |  row_number() OVER (PARTITION BY label ORDER BY n DESC, dim) AS rn
             |FROM g QUALIFY rn <= 3
             |ORDER BY label, rn""".stripMargin),
      env => {
        val d = env.embeddings.select(col("label"),
            transform(col("embedding"), x => abs(x.cast("double"))).as("av"))
          .select(col("label"),
            array_position(col("av"), array_max(col("av"))).as("dim"))
        val g = d.groupBy("label", "dim").agg(count(lit(1)).as("n"))
        RelOps.topNPerGroup(3, Seq("label"), Seq(desc("n"), col("dim")))(g)
          .select("label", "dim", "n", "rn")
          .orderBy("label", "rn")
      }),

    // X35b: per-label cohesion — avg/min cosine of members to their label
    // centroid. Centroids are computed distributed (labelCentroids) and
    // broadcast back; the member scan is one pass.
    Query("x71_centroid_cohesion",
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             |u AS (SELECT label, generate_subscripts(v,1) AS i, unnest(v) AS x
             |  FROM e),
             |c AS (SELECT label, list(cx ORDER BY i) AS centroid FROM
             |   (SELECT label, i, avg(x) AS cx FROM u GROUP BY label, i)
             |  GROUP BY label)
             |SELECT e.label, count(*) AS n,
             |  round(avg(list_cosine_similarity(e.v, c.centroid)), 6) AS avg_cos,
             |  round(min(list_cosine_similarity(e.v, c.centroid)), 6) AS min_cos
             |FROM e JOIN c ON e.label = c.label
             |GROUP BY e.label ORDER BY e.label""".stripMargin),
      env => {
        VecCosine.register(env.spark)
        vecs(env).join(broadcast(labelCentroids(env)), "label")
          .withColumn("cos", VecCosine.vec_cosine(col("v"), col("centroid")))
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            round(avg("cos"), 6).as("avg_cos"),
            round(min("cos"), 6).as("min_cos"))
          .orderBy("label")
      }),

    // X35c: exact within-label kNN JOIN — both sides are the full corpus,
    // co-located on the label equi-join, top-3 neighbours per vector.
    // This is the exact GROUND-TRUTH formulation: within-block pairing is
    // quadratic by definition of the query (every same-label pair must be
    // scored), so it holds only while label blocks fit an executor; the
    // unrestricted-scale variant is x73_ivf_knn_join, which replaces the
    // semantic block with data-driven IVF cells. Cosines rounded to 6
    // before ranking so cross-engine last-ulp noise can't flip rank order.
    Query("x72_label_knn",
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             |s AS (SELECT a.vec_id AS q_id, a.label AS label, b.vec_id AS c_id,
             |        round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
             |      FROM e a JOIN e b
             |        ON a.label = b.label AND a.vec_id <> b.vec_id)
             |SELECT q_id, label, c_id, cos_sim,
             |  row_number() OVER (PARTITION BY q_id
             |    ORDER BY cos_sim DESC, c_id) AS rn
             |FROM s QUALIFY rn <= 3
             |ORDER BY q_id, rn""".stripMargin),
      env => {
        VecCosine.register(env.spark)
        EmbeddingPlans.labelKnn(vecs(env), k = 3).orderBy("q_id", "rn")
      }),

    // X35d: the large-×-large kNN join at scale — EVERY vector probes the
    // IVF index built over the whole corpus (queries = candidates = all).
    // No semantic blocking key needed: KMeans cells are the buckets, the
    // probe join shuffles on cell id, and each query scores ~nProbe/nLists
    // of the corpus. At 100 TB: nLists ~ sqrt(N) keeps cells
    // executor-sized; the centroid table stays broadcastable. Rows-only
    // driver check; recall >= 0.6 vs brute force is pinned in
    // SimilarityOpsSpec (full-corpus variant).
    Query("x73_ivf_knn_join",
      None,
      env => EmbeddingPlans.ivfKnnJoin(vecs(env), k = 5, nLists = 16, nProbe = 6)
        .orderBy("q_id", "rn")),

    // X35d-b: the IVF QUALITY contract, hash-checked (the x76_pq_quality
    // discipline): per query, the probe-pruned top-10's mean cosine must
    // reach 0.8× the exact top-10's — computed IN the engine, oracle
    // emits the guaranteed outcome, so a probe regression (bad centroids,
    // broken cell assignment, wrong nProbe ranking) flips the hash in the
    // driver artifact instead of only failing a local recall spec.
    // Distance quality, not set recall, for the same corpus reason as
    // x76: near-random synthetic embeddings make top-k membership
    // tie-breaking noise while achieved distances are stable (IVF at
    // nProbe=6/16 observes ratios ~0.95+ here; exact ≥ is not guaranteed
    // for an ANN, hence the margin).
    Query("x73_ivf_quality",
      Some("""SELECT DISTINCT vec_id AS q_id, true AS quality_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin),
      env => {
        import graft.ops.SimilarityOps
        val e = vecs(env)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("v").as("qe"))
        val c = e.select(col("vec_id").as("c_id"), col("v").as("ce"))
        val ivf = SimilarityOps.ivfCosineTopK(q, c, k = 10)
          .groupBy("q_id").agg(avg("cos_sim").as("ivf_mean"))
        val exact = SimilarityOps.cosineTopK(q, c, 10)
          .groupBy("q_id").agg(avg("cos_sim").as("exact_mean"))
        exact.join(ivf, Seq("q_id"), "left_outer")
          .select(col("q_id"),
            (coalesce(col("ivf_mean"), lit(0.0)) >= col("exact_mean") * 0.8)
              .as("quality_ok"))
          .orderBy("q_id")
      }),

    // X35e: component-value distribution — the corpus-wide histogram of
    // raw embedding components (decile-of-0.1 buckets). One explode + one
    // shuffle on the bucket; 64 N rows in flight but only ~a dozen out.
    Query("x74_component_histogram",
      Some("""WITH u AS (SELECT unnest(embedding::DOUBLE[]) AS x FROM embeddings)
             |SELECT CAST(floor(x * 10) AS BIGINT) AS bucket, count(*) AS n,
             |  round(avg(x), 6) AS avg_x
             |FROM u GROUP BY bucket ORDER BY bucket""".stripMargin),
      env => env.embeddings
        .select(explode(col("embedding")).as("xf"))
        .select(col("xf").cast("double").as("x"))
        .groupBy(floor(col("x") * 10).as("bucket"))
        .agg(count(lit(1)).as("n"), round(avg("x"), 6).as("avg_x"))
        .orderBy("bucket")),

    // X35f: label-centroid affinity matrix — pairwise cosine between the
    // 10 label centroids (tiny frame; the join is driver-trivial but kept
    // as a broadcast self-join for form).
    Query("x75_centroid_affinity",
      Some("""WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
             |u AS (SELECT label, generate_subscripts(v,1) AS i, unnest(v) AS x
             |  FROM e),
             |c AS (SELECT label, list(cx ORDER BY i) AS centroid FROM
             |   (SELECT label, i, avg(x) AS cx FROM u GROUP BY label, i)
             |  GROUP BY label)
             |SELECT a.label AS label_a, b.label AS label_b,
             |  round(list_cosine_similarity(a.centroid, b.centroid), 6) AS cos_sim
             |FROM c a JOIN c b ON a.label < b.label
             |ORDER BY label_a, label_b""".stripMargin),
      env => {
        VecCosine.register(env.spark)
        val c = labelCentroids(env)
        c.as("a").join(broadcast(c.as("b")), col("a.label") < col("b.label"))
          .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
            round(VecCosine.vec_cosine(col("a.centroid"), col("b.centroid")), 6)
              .as("cos_sim"))
          .orderBy("label_a", "label_b")
      }),

    // X79: hard-negative mining for contrastive training — for each
    // vector, the top-3 most similar vectors of a DIFFERENT label (the
    // near-miss negatives a contrastive objective learns most from).
    // Exact formulation (broadcast self-join + per-query top-k window)
    // as the ground truth; at corpus scale the same shape runs against
    // the IVF index (probe cells, filter label, top-k) — the x73
    // machinery — so this query doubles as its oracle.
    Query("x79_hard_negatives",
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE vec_id < 40),
             |c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             |s AS (SELECT e.vec_id AS q_id, e.label AS q_label,
             |    c.vec_id AS c_id, c.label AS c_label,
             |    round(list_cosine_similarity(e.v, c.v), 6) AS cos_sim
             |  FROM e JOIN c ON e.vec_id <> c.vec_id AND e.label <> c.label),
             |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
             |    ORDER BY cos_sim DESC, c_id) AS rn FROM s)
             |SELECT q_id, q_label, c_id, c_label, cos_sim, rn
             |FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin),
      env => {
        VecCosine.register(env.spark)
        val e = vecs(env)
        val q = e.filter(col("vec_id") < 40)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("v").as("qv"))
        val c = e.select(col("vec_id").as("c_id"),
          col("label").as("c_label"), col("v").as("cv"))
        val s = q.join(broadcast(c),
            col("q_id") =!= col("c_id") && col("q_label") =!= col("c_label"))
          .withColumn("cos_sim",
            round(VecCosine.vec_cosine(col("qv"), col("cv")), 6))
        RelOps.topNPerGroup(3, Seq("q_id"),
            Seq(desc("cos_sim"), col("c_id")))(s)
          .select("q_id", "q_label", "c_id", "c_label", "cos_sim", "rn")
          .orderBy("q_id", "rn")
      }),

    // X68: SemDeDup semantic dedup — cluster-scoped near-identical
    // pruning over the embedding corpus (SimilarityOps.semDedup).
    // Rows-only: cell ids come from a seeded KMeans fit, which no SQL
    // oracle can reproduce; the approximation quality is hash-gated by
    // x68b below and the planted-duplicate guarantees by the spec.
    Query("x68_semdedup",
      None,
      env => {
        val vecs = env.embeddings.select(col("vec_id").as("c_id"),
          transform(col("embedding"), x => x.cast("double")).as("ce"))
        graft.ops.SimilarityOps.semDedup(vecs, nClusters = 10, tau = 0.4)
          .orderBy("c_id")
      }),

    // X68b: the SemDeDup quality contract, oracle-checked. The raw
    // synthetic corpus has no strong dups (max pairwise cos 0.51), so the
    // contract PLANTS them: for each vec_id < 50, a near-copy at
    // vec_id+100000 with components x·(1 + 0.02·(((vec_id+i) mod 5 − 2)/2))
    // — ±2% deterministic perturbation, cos ≈ 0.9996 to its source, which
    // is the regime semantic dedup actually targets. At tau = 0.9 the true
    // dup set is exactly the 50 plants. The contract then compares the
    // cluster-scoped dropped set against the BRUTE-FORCE dropped set
    // (same keep-min-id rule, no cluster scoping):
    //   precision: every cluster-scoped drop is a brute-force drop
    //     (each candidate is verified with the exact cosine);
    //   recall: near-identical vectors must co-cluster — >= 90% of the
    //     true drops recovered.
    // The DuckDB oracle rebuilds the SAME planted vectors in SQL, checks
    // the planting premise (every plant cos >= tau to its source), and
    // pins the expected boolean row — a recall collapse flips the hash.
    Query("x68b_semdedup_bound",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE vec_id < 50),
             |u AS (SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x
             |  FROM e),
             |p AS (SELECT vec_id, list(x * (1 + 0.02 * (((vec_id + i) % 5) - 2) / 2.0)
             |    ORDER BY i) AS pv
             |  FROM u GROUP BY vec_id),
             |c AS (SELECT e.vec_id, list_cosine_similarity(e.v, p.pv) AS cs
             |  FROM e JOIN p USING (vec_id))
             |SELECT bool_and(cs >= 0.9) AND count(*) = 50 AS planted_are_dups,
             |  true AS precision_exact, true AS recall_ok
             |FROM c""".stripMargin),
      env => {
        VecCosine.register(env.spark)
        val tau = 0.9
        val e = env.embeddings.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        val planted = e.filter(col("vec_id") < 50)
          .select((col("vec_id") + 100000).as("vec_id"),
            transform(col("v"), (x, i) => x * (lit(1.0) + lit(0.02) *
              (((col("vec_id") + i + 1) % 5) - 2) / 2.0)).as("v"))
        val corpus = e.unionByName(planted).localCheckpoint()
        val bruteDropped = corpus.as("a").join(broadcast(corpus.as("b")),
            col("a.vec_id") < col("b.vec_id"))
          .filter(VecCosine.vec_cosine(col("a.v"), col("b.v")) >= tau)
          .select(col("b.vec_id").as("c_id")).distinct()
        val vecs = corpus.select(col("vec_id").as("c_id"), col("v").as("ce"))
        val found = graft.ops.SimilarityOps
          .semDedup(vecs, nClusters = 10, tau = tau)
          .filter(col("dropped")).select("c_id")
        val stats = found.withColumn("hit", lit(1))
          .join(bruteDropped.withColumn("truth", lit(1)),
            Seq("c_id"), "full_outer")
          .agg(sum(when(col("hit").isNotNull && col("truth").isNull, 1)
              .otherwise(0)).as("false_drops"),
            sum(when(col("truth").isNotNull, 1).otherwise(0)).as("n_true"),
            sum(when(col("hit").isNotNull && col("truth").isNotNull, 1)
              .otherwise(0)).as("n_found"))
        stats.select((col("n_true") === 50).as("planted_are_dups"),
          (col("false_drops") === 0).as("precision_exact"),
          (col("n_found") >= col("n_true") * 0.9).as("recall_ok"))
      }),

    // X68c: the INCREMENTAL-SEMDEDUP contract, hash-checked (the
    // x31c/x32f discipline): build the persisted dedup state on the
    // corpus slice, append the batch twice (idempotency gate), and
    // require the maintained table to EQUAL a from-scratch
    // semDedupWithCentroids over the union under the same frozen
    // centroids — cell, owner, and dropped verdicts all row-identical.
    // Batch ids sit above all corpus ids (the ingestion invariant the
    // append documents), so keep-min-id verdicts on indexed rows cannot
    // depend on the batch; a drift in the persisted schema, the
    // anti-join gate, the owner search space (dropped index rows MUST
    // stay candidates), or the assignment metric flips the hash.
    Query("x68c_incremental_semdedup",
      Some("SELECT true AS parity"),
      env => CdcQueries.withTempTableSummary(env.spark, "graft_x68c_") {
        dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val tau = 0.4
        val emb = env.embeddings.select(col("vec_id").as("c_id"),
          transform(col("embedding"), x => x.cast("double")).as("ce"))
        val maxId = emb.agg(max("c_id")).head().getLong(0)
        val cut = maxId * 4 / 5
        val corpus = emb.filter(col("c_id") <= cut)
        val batch = emb.filter(col("c_id") > cut)
        graft.ops.SimilarityOps.buildSemDedupIndexVersioned(ss, "x68c_sd",
          corpus, nClusters = 10, tau = tau)
        val n1 = graft.ops.SimilarityOps.appendSemDedupBatchVersioned(ss,
          "x68c_sd", batch, tau)
        val n2 = graft.ops.SimilarityOps.appendSemDedupBatchVersioned(ss,
          "x68c_sd", batch, tau)
        require(n2 == 0L, s"re-append must be a no-op, ingested $n2")
        val reference = graft.ops.SimilarityOps.semDedupWithCentroids(
          corpus.unionByName(batch), ss.readTable("x68c_sd", "centroids"),
          tau)
          .select(col("c_id"), col("cell").as("rcell"),
            col("owner").as("rowner"), col("dropped").as("rdropped"))
        val maintained = ss.readTable("x68c_sd", "assigned")
          .select("c_id", "cell", "owner", "dropped")
        val out = maintained.join(reference, Seq("c_id"), "full_outer")
          .agg(count(when(col("cell").isNull || col("rcell").isNull ||
              col("cell") =!= col("rcell") ||
              col("dropped") =!= col("rdropped") ||
              !(col("owner") <=> col("rowner")), 1)).as("mismatched"),
            count(lit(1)).as("n"))
          .select((col("mismatched") === 0 &&
            col("n") === lit(corpus.count() + n1)).as("parity"))
          // materialize BEFORE dropping the registrations: a catalog-
          // partitioned scan lists its partitions lazily at execution
          .localCheckpoint()
        ss.dropCatalogTables("x68c_sd")
        out
      }),

    // X68d: the VERSIONED SemDeDup state — x68c's incremental contract
    // routed through SnapshotStore atomic commits on the versioned-
    // bucketed layout (assigned cell-bucketed under commit_v partitions,
    // centroids in the same atomic group). Build v1 on the corpus slice,
    // append the batch (v2), retry (must commit NOTHING — not even a
    // version), stage a THIRD append completely and DIE pre-swap: v2
    // must hold and its maintained table must EQUAL a from-scratch
    // semDedupWithCentroids over the union under the frozen centroids —
    // cell, owner, and dropped verdicts all row-identical; v1 must
    // time-travel to exactly the corpus rows. Parity boolean, hash-gated.
    Query("x68d_versioned_semdedup",
      Some("SELECT true AS parity"),
      env => CdcQueries.withTempTableSummary(env.spark, "graft_x68d_") {
        dir =>
        val ss = new graft.sources.SnapshotStore(env.spark, dir)
        val tau = 0.4
        val emb = env.embeddings.select(col("vec_id").as("c_id"),
          transform(col("embedding"), x => x.cast("double")).as("ce"))
        val maxId = emb.agg(max("c_id")).head().getLong(0)
        val cut = maxId * 4 / 5
        val corpus = emb.filter(col("c_id") <= cut)
        val batch = emb.filter(col("c_id") > cut)
        graft.ops.SimilarityOps.buildSemDedupIndexVersioned(ss, "sd",
          corpus, nClusters = 10, tau = tau)
        val n1 = graft.ops.SimilarityOps.appendSemDedupBatchVersioned(ss,
          "sd", batch, tau)
        require(n1 > 0L, "append must ingest the batch")
        val retried = graft.ops.SimilarityOps.appendSemDedupBatchVersioned(
          ss, "sd", batch, tau)
        require(retried == 0L && ss.currentVersion("sd") == 2L,
          "retried append must commit nothing — not even a version")
        // kill-at-the-seam: a third append fully staged, dead pre-swap
        val ghost = batch.select((col("c_id") + 900000000L).as("c_id"),
          col("ce"))
        val gVerdicts = graft.ops.SimilarityOps.semDedupFreshVersioned(ss,
          "sd", 2L, ghost, tau)
        ss.claim("sd", 3L)
        ss.stageTables("sd", 3L, Map("assigned" -> gVerdicts), Map.empty)
        graft.ops.RelOps.releaseCheckpoint(gVerdicts)
        require(ss.currentVersion("sd") == 2L, "death before swap: v2 holds")
        val nCorpus = corpus.count()
        val v1Count = ss.readTableVersion("sd", 1L, "assigned").count()
        val reference = graft.ops.SimilarityOps.semDedupWithCentroids(
          corpus.unionByName(batch), ss.readTable("sd", "centroids"), tau)
          .select(col("c_id"), col("cell").as("rcell"),
            col("owner").as("rowner"), col("dropped").as("rdropped"))
        val maintained = ss.readTable("sd", "assigned")
          .select("c_id", "cell", "owner", "dropped")
        val out = maintained.join(reference, Seq("c_id"), "full_outer")
          .agg(count(when(col("cell").isNull || col("rcell").isNull ||
              col("cell") =!= col("rcell") ||
              col("dropped") =!= col("rdropped") ||
              !(col("owner") <=> col("rowner")), 1)).as("mismatched"),
            count(lit(1)).as("n"))
          .select((col("mismatched") === 0 &&
            col("n") === lit(nCorpus + n1) &&
            lit(v1Count) === lit(nCorpus)).as("parity"))
          // materialize BEFORE dropping the registrations: a catalog-
          // partitioned scan lists its partitions lazily at execution
          .localCheckpoint()
        ss.dropCatalogTables("sd")
        out
      })
  )
}
