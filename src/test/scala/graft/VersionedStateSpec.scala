package graft

import graft.ops.SimilarityOps
import graft.sources.SnapshotStore
import org.apache.spark.sql.functions._

/** X120d/X32g/X68d: the versioned-bucketed state families. The driver
  * queries hash-gate the full lifecycles (build → append → no-op retry →
  * kill-at-the-seam → time-traveled probes); this spec pins what they
  * can't: result parity with the FROM-SCRATCH operators on identical
  * input, the bucketed-scan plan shape of the versioned read path, and
  * the monotone-ingestion gates failing loudly. */
class VersionedStateSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString


  test("X120d: versioned novelty probe ≡ from-scratch ngramNovelty over " +
      "the union on the batch ids; the versioned census scan is bucketed " +
      "and its h-keyed agg adds no exchange") {
    val docs = env.documents.limit(200).localCheckpoint()
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val corpus = docs.filter(col("doc_id") <= maxId / 2)
    val batch = docs.filter(col("doc_id") > maxId / 2)
    val ss = new SnapshotStore(spark, tmp("nvvers_"))
    try {
      SimilarityOps.buildNoveltyIndexVersioned(ss, "nvv", corpus,
        "doc_id", "text", 5)
      val scratch = SimilarityOps.ngramNovelty(docs, "doc_id", "text", 5)
        .filter(col("doc_id") > maxId / 2)
      val versioned = SimilarityOps.probeNoveltyIndexVersioned(ss, "nvv",
        batch, "doc_id", "text")
      val rows = versioned.collect().map(_.toSeq).toSet
      assert(rows.nonEmpty && rows === scratch.collect().map(_.toSeq).toSet)
      // co-location: an h-keyed aggregation over the versioned census
      // runs on the bucketed scan with ZERO exchanges — the probe's
      // census-side join inherits exactly this partitioning (the probe
      // output itself is checkpointed, so pin the scan directly; the
      // generic bucketed-join pin lives in SnapshotBucketedSpec)
      withSQLConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val p = ss.readTableVersion("nvv", 1L, "grams")
          .groupBy("h").count().queryExecution.executedPlan.toString
        assert(p.contains("Bucketed: true"),
          s"versioned census scan must be bucketed:\n$p")
        assert(!p.contains("Exchange"),
          s"census-keyed agg must not shuffle the census:\n$p")
      }
      // monotone gate: a below-HWM id NOT yet indexed (ids are dense, so
      // -1) fails loudly instead of silently rewriting gram ownership
      val bad = Seq((-1L, "below the high water mark")).toDF("doc_id", "text")
      val e = intercept[IllegalArgumentException](
        SimilarityOps.appendNoveltyBatchVersioned(ss, "nvv", bad,
          "doc_id", "text"))
      assert(e.getMessage.contains("non-monotone"))
      assert(ss.currentVersion("nvv") === 1L, "failed append must not commit")
    } finally ss.dropCatalogTables("nvv")
  }

  test("X32g: versioned IVF assignments ≡ assignCells of the union under " +
      "the same centroids; the versioned assigned scan is bucketed at " +
      "every version") {
    val emb = env.embeddings.withColumn("e",
      transform($"embedding", v => v.cast("double")))
    val corpus = emb.filter($"vec_id" % 5 =!= 0)
      .select($"vec_id".as("c_id"), $"e".as("ce"))
    val batch = emb.filter($"vec_id" % 5 === 0)
      .select($"vec_id".as("c_id"), $"e".as("ce"))
    val q = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"e".as("qe"))
    val ss = new SnapshotStore(spark, tmp("ivfvers_"))
    try {
      SimilarityOps.buildIvfIndexVersioned(ss, "ivfv", corpus)
      assert(SimilarityOps.appendIvfBatchVersioned(ss, "ivfv", batch) ===
        batch.count())
      def cells(df: org.apache.spark.sql.DataFrame) =
        df.select("c_id", "cell").as[(Long, Int)].collect().toSet
      assert(cells(ss.readTable("ivfv", "assigned")) ===
        cells(SimilarityOps.assignCells(corpus.unionByName(batch),
          ss.readTable("ivfv", "centroids"))))
      val probe = SimilarityOps.probeIvfIndexVersioned(ss, "ivfv", q, k = 10)
      assert(probe.queryExecution.executedPlan.toString
        .contains("Bucketed: true"))
      assert(probe.count() > 0)
      // time travel: the pre-append index still probes (v1), bucketed
      val v1 = SimilarityOps.probeIvfIndexVersioned(ss, "ivfv", q, k = 10,
        version = Some(1L))
      assert(v1.queryExecution.executedPlan.toString
        .contains("Bucketed: true"))
      assert(v1.count() > 0)
    } finally ss.dropCatalogTables("ivfv")
  }

  test("X68d: versioned SemDeDup verdicts ≡ semDedupWithCentroids over " +
      "the union row for row; the non-monotone gate refuses below-HWM " +
      "batches without committing") {
    val emb = env.embeddings.select($"vec_id".as("c_id"),
      transform($"embedding", x => x.cast("double")).as("ce"))
    val maxId = emb.agg(max("c_id")).head().getLong(0)
    val cut = maxId * 4 / 5
    val corpus = emb.filter($"c_id" <= cut)
    val batch = emb.filter($"c_id" > cut)
    val tau = 0.4
    val ss = new SnapshotStore(spark, tmp("sdvers_"))
    try {
      SimilarityOps.buildSemDedupIndexVersioned(ss, "sdv", corpus,
        nClusters = 10, tau = tau)
      SimilarityOps.appendSemDedupBatchVersioned(ss, "sdv", batch, tau)
      def verdicts(df: org.apache.spark.sql.DataFrame) =
        df.select("c_id", "cell", "owner", "dropped")
          .collect().map(_.toSeq).toSet
      assert(verdicts(ss.readTable("sdv", "assigned")) ===
        verdicts(SimilarityOps.semDedupWithCentroids(
          corpus.unionByName(batch), ss.readTable("sdv", "centroids"), tau)))
      // v1 time-travels to exactly the corpus verdicts
      assert(ss.readTableVersion("sdv", 1L, "assigned").count()
        === corpus.count())
      // -1: below the HWM and NOT already indexed (a re-delivered indexed
      // id would be absorbed by the anti-join gate instead)
      val bad = batch.limit(1).select(lit(-1L).as("c_id"), $"ce")
      val e = intercept[IllegalArgumentException](
        SimilarityOps.appendSemDedupBatchVersioned(ss, "sdv", bad, tau))
      assert(e.getMessage.contains("non-monotone"))
      assert(ss.currentVersion("sdv") === 2L, "failed append must not commit")
    } finally ss.dropCatalogTables("sdv")
  }
}
