package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** The reference's wine pipeline operators (SURVEY §2.1-§2.3), restated as
  * pure DataFrame transforms. Reference cites: dags/include/utils.py and
  * dags/etl_elt_wine.py in /root/reference.
  */
object WineOps {

  /** Default path of the reference dataset (read-only). */
  val defaultCsvPath = "/root/reference/data/winequality-white.csv"

  /** S2 (utils.py:32): column-name normalization, space → underscore. */
  def normalizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.replace(" ", "_")): _*)

  /** S1+S2 (utils.py:31-32): CSV scan, ';' delimiter, header row, declared
    * schema (normalized names come from the schema, making S2 implicit —
    * normalizeColumns stays available for inferred reads). */
  def readWineCsv(spark: SparkSession, path: String = defaultCsvPath): DataFrame =
    spark.read
      .option("sep", ";").option("header", "true")
      .schema(Schemas.wineRaw)
      .csv(path)

  /** S3 (utils.py:33): 1-based contiguous row id in source order.
    * Caveat C1: contiguity needs a total order — monotonically_increasing_id
    * preserves file order as a sort key, row_number makes it contiguous.
    * The single-partition window is acceptable at reference scale (4,898
    * rows); at 100 TB contiguous ids are an anti-pattern — use
    * content-derived keys (TextOps.fingerprint) instead. The input is
    * coalesced to that one partition up front, in partition order (the
    * order monotonically_increasing_id encodes), so the window needs no
    * shuffle and the ids come out the same without its extra job. */
  def assignRowIds(df: DataFrame): DataFrame = {
    val w = Window.orderBy("mono_ord")
    df.coalesce(1).withColumn("mono_ord", monotonically_increasing_id())
      .withColumn("id", row_number().over(w))
      .drop("mono_ord")
      .select(("id" +: df.columns.toSeq).map(col): _*)
  }

  /** S4 (utils.py:34): seeded Bernoulli sample without replacement.
    * Caveat C3: per-row Bernoulli (count ~ Binomial), not pandas'
    * exact-count draw; frac=1.0 is the identity in both. */
  def sampleFraction(frac: Double, seed: Long)(df: DataFrame): DataFrame =
    if (frac >= 1.0) df else df.sample(withReplacement = false, frac, seed)

  /** Full extract stage (utils.py:20-36): S1+S2+S3+S4. */
  def extract(spark: SparkSession, path: String = defaultCsvPath,
              frac: Double = 1.0, seed: Long = 1): DataFrame =
    sampleFraction(frac, seed)(assignRowIds(readWineCsv(spark, path)))

  /** P4+P5 (etl_elt_wine.py:185-189): derive high_quality flag, filter. */
  def transform(threshold: Int)(df: DataFrame): DataFrame =
    df.withColumn("high_quality", col("quality") >= threshold)
      .filter(col("quality") >= threshold)

  /** A1+O1 (etl_elt_wine.py:423-428): the flagship per-quality alcohol
    * stats report, sorted by quality desc. One row per quality class, so
    * the sort runs in one partition: a global orderBy would add a
    * range-sampling job and a shuffle to order a handful of rows. */
  def flagshipReport(df: DataFrame): DataFrame =
    RelOps.groupStats("quality", "alcohol")(df)
      .coalesce(1).sortWithinPartitions(desc("quality"))

  /** ELT in-store transform (etl_elt_wine.py:268-272): narrow projection +
    * constant filter. On parquet/JDBC Catalyst pushes both into the scan. */
  def eltTransform(df: DataFrame): DataFrame =
    df.filter(col("total_sulfur_dioxide") < 125)
      .select("quality", "alcohol")
}
