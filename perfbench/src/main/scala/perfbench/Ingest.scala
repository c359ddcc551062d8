package perfbench

import java.nio.file.Paths
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.SimilarityOps
import graft.sources.SnapshotStore

/** Corpus-dedup ingest into a versioned MinHash index (one SnapshotStore
  * group). `build` indexes the base corpus; `batch` ingests one batch:
  * exact dedup within the batch, probe of the surviving documents against
  * the index (near duplicates with the index and within the batch), and
  * append of the documents that are nobody's duplicate. A document is
  * dropped when it pairs with an indexed document, or with a smaller-id
  * document of its own batch. */
final class Ingest(ctx: Ctx) {
  val index = "mh"
  val threshold = 0.5
  private val spark = ctx.spark
  private val base = spark.read.parquet(Paths.get(ctx.in, "corpus_base.parquet").toString)
  private val all = spark.read.parquet(Paths.get(ctx.in, "corpus_batches.parquet").toString)
  private val batches = scala.collection.mutable.HashMap[Int, DataFrame]()
  private def batchDf(b: Int): DataFrame = batches.getOrElseUpdate(b,
    all.filter(col("batch") === b).select("doc_id", "text").localCheckpoint())
  private val indexed = scala.collection.mutable.HashSet[Long]()

  def build(store: SnapshotStore): Unit = {
    SimilarityOps.buildMinhashIndexVersioned(store, index, base, "doc_id", "text")
    indexed.clear()
    base.select("doc_id").collect().foreach(r => indexed += r.getLong(0))
  }

  def docs(b: Int): Map[Long, String] =
    batchDf(b).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Ingest batch `b`; returns (exact-dedup survivors, pairs, kept, added). */
  def batch(store: SnapshotStore, b: Int)
      : (Set[Long], Seq[(Long, Long, Double)], Set[Long], Long) = {
    val batch = batchDf(b)
    val reps = ctx.span("ops.SimilarityOps", "exact_dedup")(
      SimilarityOps.exactDedup("doc_id", "text")(batch)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    val pairs = ctx.span("ops.SimilarityOps", "probe")(
      SimilarityOps.probeMinhashIndexVersioned(store, index,
        batch.filter(col("doc_id").isin(reps.toSeq: _*)), "doc_id", "text",
        threshold).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val dropped = pairs.flatMap { case (a, c, _) => Seq(a -> c, c -> a) }.collect {
      case (d, x) if reps(d) && (indexed(x) || (reps(x) && x < d)) => d
    }.toSet
    val keep = reps -- dropped
    val added = ctx.span("ops.SimilarityOps", "append")(
      SimilarityOps.appendMinhashBatchVersioned(store, index,
        batch.filter(col("doc_id").isin(keep.toSeq: _*)), "doc_id", "text"))
    indexed ++= keep
    (reps, pairs.toSeq, keep, added)
  }

  def payload(b: Int, ids: Set[Long], res: (Set[Long], Seq[(Long, Long, Double)],
      Set[Long], Long)): Map[String, Any] = {
    val (_, pairs, keep, added) = res
    Map("batch" -> b, "docs" -> ids.size, "first_id" -> ids.min,
      "last_id" -> ids.max,
      "pairs" -> pairs.sortBy(p => (p._1, p._2)).map(p => Seq(p._1, p._2, p._3)),
      "kept" -> keep.toSeq.sorted, "added" -> added)
  }
}
