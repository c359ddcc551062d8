package graft.ml

import org.apache.spark.ml.{Pipeline => MlPipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{PolynomialExpansion, StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.GBTRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit}
import graft.model.Schemas

/** The reference ML task-group (SURVEY §2.6, M1-M12).
  * Reference cites: dags/include/utils.py:39-252, dags/etl_elt_wine.py:318-404.
  *
  * The linear family (OLS on poly degree 2/3, exact BayesianRidge on
  * degree 2) fits from one shared sufficient-statistics pass; only the
  * GBT candidates, which need rows, run spark.ml pipelines.
  *
  * Divergences (documented in SURVEY §2.6): M6 HistGradientBoosting →
  * GBTRegressor (different histogram/split internals, metric-level parity
  * only); M12 MLflow → a lineage DataFrame (zero-egress build). M7 is the
  * EXACT evidence-maximization BayesianRidge ([[graft.ml.BayesianRidge]],
  * tol=1e-6 as the reference calls it).
  */
object WinePipelines {

  /** The reference predicts ALCOHOL from the other 10 physico-chemical
    * features (utils.py:55-69: X = df.drop("alcohol"), y = df["alcohol"]) —
    * quality is not even in the feature projection. */
  val labelCol = "alcohol"
  val featureCols: Array[String] =
    Schemas.wineFeatures.filterNot(_ == labelCol).toArray

  /** M1 (utils.py:70-72): seeded 70/30 split. Different RNG than sklearn —
    * sizes/disjointness verified, not membership (caveat in SURVEY §5). */
  def split(df: DataFrame, seed: Long = 42L): (DataFrame, DataFrame) = {
    val Array(train, test) = df.randomSplit(Array(0.7, 0.3), seed)
    (train, test)
  }

  /** M2 (utils.py:69): feature/label separation — assemble the 10 feature
    * columns into a vector; the label stays a column. */
  def assembler: VectorAssembler = new VectorAssembler()
    .setInputCols(featureCols)
    .setOutputCol("features_raw")

  /** How a candidate learns. Every learner sees the features standardized
    * (M3, utils.py:94) and expanded into polynomial terms (M4,
    * utils.py:95). */
  sealed trait Learner
  /** M5 (utils.py:96): ordinary least squares with an intercept. */
  final case class LeastSquaresFit(degree: Int) extends Learner
  /** M7 (utils.py:116): exact BayesianRidge, tol 1e-6, on degree 2. */
  case object EvidenceRidge extends Learner
  /** M6 (utils.py:101-106): gradient-boosted trees on degree 2 (the
    * reference HGB pipeline includes PolynomialFeatures(2)). */
  final case class BoostedTrees(stepSize: Double, minInstancesPerNode: Int)
      extends Learner

  /** One model candidate: name, parameter description, learner. */
  final case class Candidate(name: String, params: Map[String, String],
                             learner: Learner)

  /** M8+M9 (utils.py:93-132): the 7-candidate model grid —
    * 2 linear (poly degree 2/3) + 4 GBT (stepSize × minInstancesPerNode)
    * + 1 exact BayesianRidge (utils.py:116, tol=1e-6). */
  def modelGrid: Seq[Candidate] = {
    val lrs = Seq(2, 3).map(d =>
      Candidate(s"linear_poly$d", Map("degree" -> d.toString), LeastSquaresFit(d)))
    val gbts = for {
      step <- Seq(0.1, 0.05)
      minInst <- Seq(20, 25)
    } yield Candidate(s"gbt_s${step}_m$minInst",
      Map("stepSize" -> step.toString, "minInstancesPerNode" -> minInst.toString),
      BoostedTrees(step, minInst))
    val ridge = Candidate("ridge", Map("algo" -> "bayesian_ridge",
        "tol" -> "1e-6"), EvidenceRidge)
    lrs ++ gbts :+ ridge
  }

  /** M10 (utils.py:135-144): seeded random model-subset selection, size
    * random >= 1, without replacement. */
  def chooseCandidates(all: Seq[Candidate], seed: Long): Seq[Candidate] = {
    val rnd = new scala.util.Random(seed)
    val k = 1 + rnd.nextInt(all.size)
    rnd.shuffle(all.toList).take(k).sortBy(_.name)
  }

  final case class RunMetrics(model: String, params: String,
                              r2Train: Double, r2Test: Double)

  /** Fit + evaluate candidates; emit the lineage/metrics table (M12 —
    * replaces MLflow tracking with a queryable DataFrame sink). */
  def trainAndEvaluate(df: DataFrame, candidates: Seq[Candidate]): DataFrame = {
    val (train, test) = split(df)
    val spark = df.sparkSession
    import spark.implicits._
    val linearDegrees = candidates.map(_.learner).collect {
      case LeastSquaresFit(d) => d
      case EvidenceRidge => 2
    }
    lazy val (trainStats, testStats) = termMoments(train, test, linearDegrees.max)
    // the model y ≈ ȳ + w·(t − t̄) over the train split's term means
    def linear(d: Int)(fit: Moments => Array[Double]) = {
      val (tr, te) = (trainStats.prefix(termCount(d)), testStats.prefix(termCount(d)))
      val (w, tbar, ybar) = (fit(tr), tr.tbar, tr.ybar)
      (LeastSquares.r2(tr, w, tbar, ybar), LeastSquares.r2(te, w, tbar, ybar))
    }
    candidates.map { c =>
      // M11 (utils.py:224-233): R² on train and test
      val (r2Train, r2Test) = c.learner match {
        case LeastSquaresFit(d) =>
          linear(d)(tr => LeastSquares.ols(tr.centered(tr.tbar, tr.ybar)))
        case EvidenceRidge => linear(2)(BayesianRidge.fitMoments(_).coef)
        case BoostedTrees(step, minInst) =>
          val m = gbtPipeline(step, minInst).fit(train)
          (r2(m, train), r2(m, test))
      }
      RunMetrics(c.name,
        c.params.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","),
        math.rint(r2Train * 1e6) / 1e6,     // F5 rounding (utils.py:231)
        math.rint(r2Test * 1e6) / 1e6)
    }.toDF()
  }

  // ---- the linear family: two passes over the split, the rest on the driver

  /** Polynomial terms of the standardized features up to `degree`, all
    * terms of one degree before any of the next, so the terms of a lower
    * degree are a prefix. Term i ≥ f (f features) is term parent(i) times
    * feature factor(i); a monomial's factors never decrease, so each
    * appears once. */
  private final class Terms(f: Int, degree: Int) extends Serializable {
    private val (parent, factor) = {
      val ps = collection.mutable.ArrayBuffer.empty[Int]
      val fs = collection.mutable.ArrayBuffer.from(0 until f)
      var from = 0
      for (_ <- 2 to degree) {
        val until = fs.length
        for (t <- from until until; j <- fs(t) until f) { ps += t; fs += j }
        from = until
      }
      (Array.fill(f)(-1) ++ ps, fs.toArray)
    }
    val count: Int = factor.length

    def expand(z: Array[Double]): Array[Double] = {
      val t = new Array[Double](count)
      System.arraycopy(z, 0, t, 0, f)
      var i = f
      while (i < count) { t(i) = t(parent(i)) * z(factor(i)); i += 1 }
      t
    }
  }

  private def termCount(degree: Int): Int =
    new Terms(featureCols.length, degree).count

  /** Column means and sample standard deviations, merged as Chan et al. */
  private final class ColumnStats(k: Int) extends Serializable {
    var n = 0L
    val mean = new Array[Double](k)
    val m2 = new Array[Double](k)

    def add(r: InternalRow): this.type = {
      n += 1
      var j = 0
      while (j < k) {
        require(!r.isNullAt(j), s"trainAndEvaluate: null in column $j")
        val x = r.getDouble(j)
        val d = x - mean(j)
        mean(j) += d / n
        m2(j) += d * (x - mean(j))
        j += 1
      }
      this
    }

    def merge(o: ColumnStats): this.type = {
      if (o.n > 0) {
        val tot = n + o.n
        var j = 0
        while (j < k) {
          val d = o.mean(j) - mean(j)
          mean(j) += d * o.n / tot
          m2(j) += o.m2(j) + d * d * n * o.n / tot
          j += 1
        }
        n = tot
      }
      this
    }

    def std(j: Int): Double = if (n > 1) math.sqrt(m2(j) / (n - 1)) else 0.0
  }

  /** The sufficient statistics of the train and test splits over the
    * standardized polynomial terms up to `degree`, in two Spark jobs:
    * the scaler's means and standard deviations from the train split
    * (M3, as spark.ml's StandardScaler(withMean, withStd) computes them:
    * a feature that never varies scales to 0.0), then one pass over
    * train ∪ test that expands each row into its terms (M4). The label
    * is centered at its train mean, which R² does not see and which
    * keeps the accumulated squares small. */
  private def termMoments(train: DataFrame, test: DataFrame,
      degree: Int): (Moments, Moments) = {
    val f = featureCols.length
    val cols = (featureCols :+ labelCol).map(c => col(c).cast("double"))
    val scale = train.select(cols: _*).queryExecution.toRdd
      .treeAggregate(new ColumnStats(f + 1))(_ add _, _ merge _)
    require(scale.n > 0, "trainAndEvaluate: empty train split")
    val mean = scale.mean
    val inv = Array.tabulate(f)(j => if (scale.std(j) == 0.0) 0.0 else 1.0 / scale.std(j))
    val terms = new Terms(f, degree)
    val tagged = train.select(lit(0) +: cols: _*)
      .union(test.select(lit(1) +: cols: _*))
    val zero = Array(new Moments(terms.count), new Moments(terms.count))
    val Array(tr, te) = tagged.queryExecution.toRdd.treeAggregate(zero)(
      (acc, r) => {
        val z = new Array[Double](f)
        var j = 0
        while (j < f) {
          require(!r.isNullAt(j + 1), s"trainAndEvaluate: null ${featureCols(j)}")
          z(j) = (r.getDouble(j + 1) - mean(j)) * inv(j)
          j += 1
        }
        require(!r.isNullAt(f + 1), s"trainAndEvaluate: null $labelCol")
        acc(r.getInt(0)).add(terms.expand(z), r.getDouble(f + 1) - mean(f))
        acc
      },
      (a, b) => { a(0).merge(b(0)); a(1).merge(b(1)); a })
    (tr, te)
  }

  // ---- the GBT candidates: spark.ml pipelines over the rows

  private def gbtPipeline(step: Double, minInst: Int) =
    new MlPipeline().setStages(Array(assembler,
      new StandardScaler()                              // M3 (utils.py:94)
        .setInputCol("features_raw").setOutputCol("features_std")
        .setWithMean(true).setWithStd(true),
      new PolynomialExpansion()                         // M4 (utils.py:95)
        .setInputCol("features_std").setOutputCol("features")
        .setDegree(2),
      new GBTRegressor().setLabelCol(labelCol).setFeaturesCol("features")
        .setStepSize(step).setMinInstancesPerNode(minInst).setSeed(42L)))

  private def r2(model: PipelineModel, df: DataFrame): Double =
    new RegressionEvaluator().setLabelCol(labelCol)
      .setPredictionCol("prediction").setMetricName("r2")
      .evaluate(model.transform(df))
}
