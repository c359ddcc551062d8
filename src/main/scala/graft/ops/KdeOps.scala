package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X10 (reference dags/include/utils.py:255-304): per-class Gaussian KDE as
  * a declarative DataFrame query (SURVEY §2.7). The reference loops classes
  * through matplotlib/scipy; here one plan evaluates every class: per-class
  * Scott bandwidth h = n^(-1/5)·σ̂ (σ̂ = stddev ddof=1, scipy gaussian_kde
  * convention), then density(x) = Σᵢ exp(-½((x-vᵢ)/h)²) / (n·h·√2π) over a
  * fixed evaluation grid.
  *
  * Scale: stats is one small aggregate (broadcast into the join); the grid
  * explode multiplies rows by |grid| before the final aggregate — all
  * map-side until the single groupBy shuffle on (class, x).
  */
object KdeOps {

  /** Single-pass kernel-sum aggregator: accumulates Σ exp(-½((x-v)/h)²)
    * for every grid point in one typed buffer — the optional custom
    * Aggregator SURVEY §4.2 allows. Versus the grid-explode formulation it
    * avoids materializing |grid|× rows map-side; the shuffled state is one
    * double[|grid|] per class either way. Input rows are (value, h) pairs
    * (h constant within a class, carried per-row so one UDAF serves all
    * classes in a single groupBy). */
  final class KernelSum(grid: Array[Double])
      extends org.apache.spark.sql.expressions.Aggregator[
        (Double, Double), Array[Double], Array[Double]] {
    import org.apache.spark.sql.{Encoder, Encoders}
    def zero: Array[Double] = Array.fill(grid.length)(0.0)
    def reduce(b: Array[Double], in: (Double, Double)): Array[Double] = {
      val (v, h) = in
      var i = 0
      while (i < grid.length) {
        val z = (grid(i) - v) / h
        b(i) += math.exp(-0.5 * z * z)
        i += 1
      }
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Double]): Array[Double] = b
    def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Array[Double]] = bufferEncoder
  }

  /** kdeByClass via the KernelSum aggregator (same output, single
    * value-pass; KdeOpsSpec asserts equality with the grid-explode plan). */
  def kdeByClassSinglePass(classCol: String, valueCol: String,
                           grid: Seq[Double])(df: DataFrame): DataFrame = {
    val kernelSum = udaf(new KernelSum(grid.toArray))
    val gridCol = array(grid.map(lit): _*)
    df.join(broadcast(usable(classStats(classCol, valueCol)(df))), classCol)
      .groupBy(col(classCol), col("kde_n"), col("kde_h"))
      .agg(kernelSum(col(valueCol).cast("double"), col("kde_h")).as("ksums"))
      .select(col(classCol), col("kde_n"), col("kde_h"),
        explode(arrays_zip(gridCol.as("x"), col("ksums").as("ksum"))).as("gz"))
      .select(col(classCol), col("gz.x").as("x"),
        round(col("gz.ksum") / (col("kde_n") * col("kde_h") * lit(math.sqrt(2 * math.Pi))), 6)
          .as("density"))
  }

  /** Per-class kernel statistics of `df`, one row per class (a NULL
    * class included): row count kde_n, sample stddev kde_sd and Scott
    * bandwidth kde_h. Singular classes keep their row, with a null or
    * zero bandwidth, so the kde_n column sums to the input's row count. */
  def classStats(classCol: String, valueCol: String)(df: DataFrame): DataFrame =
    df.groupBy(classCol).agg(
      count(lit(1)).as("kde_n"),
      stddev_samp(valueCol).as("kde_sd"))
      .withColumn("kde_h", col("kde_sd") * pow(col("kde_n"), lit(-0.2)))

  // singular classes (n=1 → stddev null; all-equal values → sd=0) have
  // no defined bandwidth — scipy's gaussian_kde raises on them; we drop
  // them from the output rather than emit null/Inf densities
  private def usable(stats: DataFrame): DataFrame =
    stats.filter(col("kde_sd").isNotNull && col("kde_sd") > 0)

  def kdeByClass(classCol: String, valueCol: String, grid: Seq[Double])(df: DataFrame): DataFrame =
    kdeFromStats(classCol, valueCol, grid, classStats(classCol, valueCol)(df))(df)

  /** kdeByClass over statistics the caller already holds (classStats'
    * output, e.g. collected to the driver for its row counts): the plan
    * then reads `df` once, for the kernel sums. */
  def kdeFromStats(classCol: String, valueCol: String, grid: Seq[Double],
                   stats: DataFrame)(df: DataFrame): DataFrame = {
    // the grid as a literal array exploded per row: a broadcast of
    // driver-side grid rows would cost a Spark job of its own
    df.join(broadcast(usable(stats)), classCol)
      .withColumn("x", explode(array(grid.map(lit): _*)))
      .groupBy(col(classCol), col("x"), col("kde_n"), col("kde_h"))
      .agg(sum(exp(lit(-0.5) * pow((col("x") - col(valueCol)) / col("kde_h"), lit(2)))).as("ksum"))
      .select(col(classCol), col("x"),
        round(col("ksum") / (col("kde_n") * col("kde_h") * lit(math.sqrt(2 * math.Pi))), 6)
          .as("density"))
  }
}
