package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.JaroWinkler

/** Entity-resolution / fuzzy-matching queries built on the native
  * jaro_winkler expression (graft.functions.JaroWinkler) — the string
  * half of record linkage, complementing the token-level near-dup family
  * (X30/X31). Oracle: DuckDB's jaro_winkler_similarity, whose semantics
  * the expression replicates exactly (boost threshold 0.7, prefix 4).
  */
object FuzzyQueries {

  val all: Seq[Query] = Seq(

    // Fuzzy name-pair candidates via SORTED-NEIGHBORHOOD blocking: order
    // all names lexicographically (distributed total order), pair each row
    // with its next 10 neighbours, score with the codegen'd JW, threshold.
    // Candidate count is N·w — LINEAR in the corpus — vs the within-block
    // self-join this query used in round 3 (blocking on 25-value p_brand:
    // quadratic in block size, 10,000× the pairs at 100× rows, parallelism
    // capped at 25 keys). Lexicographic adjacency is the right recall
    // surface for JW, which weights shared prefixes. The rank join is an
    // equi-join on a long; the sort is a range shuffle. Round 5 measured
    // near-linear wall-clock at 10×/30× rows (ROUND_NOTES.md).
    // Threshold compares the ROUNDED score on both engines so a last-ulp
    // association difference cannot flip a boundary row in or out; 0.84
    // stays inside the >= 0.8 DuckDB-parity band (JaroWinkler scaladoc).
    Query("x67_jw_pairs",
      Some("""WITH r AS (SELECT p_partkey, p_name,
             |    row_number() OVER (ORDER BY p_name, p_partkey) AS rn FROM part),
             |s AS (SELECT a.p_partkey AS p1, b.p_partkey AS p2,
             |    a.p_name AS name1, b.p_name AS name2,
             |    round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
             |  FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 10)
             |SELECT p1, p2, name1, name2, jw FROM s
             |WHERE jw >= 0.84 AND name1 <> name2
             |ORDER BY p1, p2""".stripMargin),
      env => TrainPrepPlans.snJwPairs(
          env.part.select(col("p_partkey"), col("p_name")))
        .orderBy("p1", "p2")),

    // Same scorer through the SQL surface (registry bridge): best fuzzy
    // match per misspelled probe against the nation dim — an asymmetric
    // small-probe lookup (broadcast the probes, scan the dim once).
    // Probes are misspellings of the SYNTHETIC testdata names (NATION_k —
    // TESTDATA.md), so every probe has a true match scoring ~0.95+.
    // Candidates are gated to jw >= 0.8 BEFORE ranking: that is the band
    // where the expression and DuckDB's rapidfuzz variant agree exactly
    // (JaroWinkler scaladoc), so a sub-band runner-up whose score diverges
    // between engines can never influence which row wins rank 1.
    Query("x67_jw_best_match",
      Some("""WITH probes(probe) AS (VALUES ('NATOIN_3'), ('NATON_17'),
             |  ('NATIION_9'), ('NTION_21'), ('NATIOM_5')),
             |scored AS (
             |  SELECT probe, n_name,
             |    round(jaro_winkler_similarity(probe, n_name), 6) AS jw,
             |    row_number() OVER (PARTITION BY probe
             |      ORDER BY round(jaro_winkler_similarity(probe, n_name), 6) DESC,
             |               n_name) AS rn
             |  FROM probes CROSS JOIN nation
             |  WHERE round(jaro_winkler_similarity(probe, n_name), 6) >= 0.8)
             |SELECT probe, n_name AS best, jw FROM scored WHERE rn = 1
             |ORDER BY probe""".stripMargin),
      env => {
        import env.spark.implicits._
        JaroWinkler.register(env.spark)
        import org.apache.spark.sql.expressions.Window
        val probes = Seq("NATOIN_3", "NATON_17", "NATIION_9", "NTION_21", "NATIOM_5")
          .toDF("probe")
        broadcast(probes).crossJoin(env.nation.select("n_name"))
          .withColumn("jw",
            round(JaroWinkler.jaro_winkler(col("probe"), col("n_name")), 6))
          .filter(col("jw") >= 0.8)
          .withColumn("rn", row_number().over(
            Window.partitionBy("probe").orderBy(desc("jw"), col("n_name"))))
          .filter(col("rn") === 1)
          .select(col("probe"), col("n_name").as("best"), col("jw"))
          .orderBy("probe")
      })
  )
}
