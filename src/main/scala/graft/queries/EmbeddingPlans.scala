package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{RelOps, SimilarityOps}
import graft.functions.VecCosine

/** Shared plan builders for the embedding kNN-join queries — the SAME
  * formulations the shipped driver queries (x72/x73) run, so the scale
  * numbers in ROUND_NOTES.md are of the shipped plans, not probe-local
  * variants (TpchPlans discipline).
  *
  * Input contract: `vecs` = (vec_id: long, label: int, v: array<double>).
  */
object EmbeddingPlans {

  /** Exact within-label kNN join — ground truth; quadratic in label-block
    * size by definition (every same-label pair is scored). */
  def labelKnn(vecs: DataFrame, k: Int = 3): DataFrame = {
    val a = vecs.select(col("vec_id").as("q_id"), col("label"), col("v").as("qv"))
    val b = vecs.select(col("vec_id").as("c_id"), col("label"), col("v").as("cv"))
    val s = a.join(b, "label").filter(col("q_id") =!= col("c_id"))
      .withColumn("cos_sim",
        round(VecCosine.vec_cosine(col("qv"), col("cv")), 6))
    RelOps.topNPerGroup(k, Seq("q_id"), Seq(desc("cos_sim"), col("c_id")))(s)
      .select("q_id", "label", "c_id", "cos_sim", "rn")
  }

  /** Large-×-large kNN join at scale: every vector probes the IVF index
    * built over the whole corpus (queries = candidates = all). */
  def ivfKnnJoin(vecs: DataFrame, k: Int = 5, nLists: Int = 16,
                 nProbe: Int = 6): DataFrame = {
    val q = vecs.select(col("vec_id").as("q_id"), col("v").as("qe"))
    val c = vecs.select(col("vec_id").as("c_id"), col("v").as("ce"))
    SimilarityOps.ivfCosineTopK(q, c, k = k, nLists = nLists, nProbe = nProbe)
  }
}
