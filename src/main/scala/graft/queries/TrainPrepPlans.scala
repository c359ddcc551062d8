package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.JaroWinkler
import graft.ops.{RelOps, SimilarityOps, TextOps}

/** Shared plan builders for the train-prep shapes, parameterized on the
  * input frame — the same pattern TpchPlans uses for the TPC-H shapes:
  * the driver queries (TrainPrepQueries / FuzzyQueries) build plans
  * HERE, so the scale evidence in ROUND_NOTES.md (round 5) was measured
  * on the shipped formulations and any re-measurement cannot silently
  * drift from them.
  */
object TrainPrepPlans {

  /** x80 body: sliding token-window chunking (window 8, stride 4).
    * Unordered — the driver query adds the presentation sort. */
  def contextChunks(docs: DataFrame): DataFrame =
    docs.withColumn("t", TextOps.tokens(col("text")))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), col("n") - 1, lit(4))).as("s"))
      .withColumn("chunk", slice(col("t"), col("s") + 1, lit(8)))
      .select(col("doc_id"), expr("s div 4").as("chunk_idx"),
        size(col("chunk")).cast("long").as("chunk_ntok"),
        array_join(col("chunk"), " ").as("chunk_text"))

  /** x81 body: offset-binned token-budget packing over the doc_id-ordered
    * stream (capacity 256), running total via the distributed prefix sum. */
  def tokenPacking(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("ntok"))
    RelOps.globalCumSum(d, Seq(col("doc_id")), "ntok", "cum")
      .withColumn("pack_id", expr("(cum - ntok) div 256"))
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("pack_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
  }

  /** x67 body: sorted-neighborhood fuzzy pair candidates scored with the
    * native Jaro-Winkler, thresholded in the DuckDB-parity band. */
  def snJwPairs(part: DataFrame): DataFrame = {
    JaroWinkler.register(part.sparkSession)
    SimilarityOps.sortedNeighborhoodPairs(part, "p_partkey", "p_name", w = 10)
      .select(col("id_a").as("p1"), col("id_b").as("p2"),
        col("key_a").as("name1"), col("key_b").as("name2"))
      .withColumn("jw",
        round(JaroWinkler.jaro_winkler(col("name1"), col("name2")), 6))
      .filter(col("jw") >= 0.84 && col("name1") =!= col("name2"))
      .select("p1", "p2", "name1", "name2", "jw")
  }
}
