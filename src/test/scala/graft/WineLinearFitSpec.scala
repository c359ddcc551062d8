package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{PolynomialExpansion, StandardScaler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.ml.{BayesianRidge, WinePipelines}
import graft.model.Schemas

/** M3-M5, M7, M11: the wine grid's linear family, fit from shared
  * sufficient statistics, against spark.ml as the reference — the
  * StandardScaler → PolynomialExpansion → LinearRegression pipeline
  * scored by RegressionEvaluator, and BayesianRidge over the features
  * that spark.ml's scaler and expansion build. The input is a
  * deterministic wine-shaped frame: hash-folded values, no RNG, no
  * reference CSV. */
class WineLinearFitSpec extends SparkSpec {

  private val label = WinePipelines.labelCol
  private val features = WinePipelines.featureCols

  // hash-folded unit interval (no RNG)
  private def fold(k: Long): Double =
    math.floorMod(scala.util.hashing.byteswap64(k), 1000003L) / 1000003.0 - 0.5

  /** n rows shaped like the wine table: an id, the 10 features (each on
    * its own scale; `flat` ones constant) and an alcohol label that is a
    * noisy quadratic in them. */
  private def wineLike(n: Int, flat: Set[String] = Set.empty): DataFrame = {
    val rows = (0 until n).map { i =>
      val x = features.indices.map { j =>
        if (flat(features(j))) 0.3 else (j + 1) * (1.0 + fold(i * 13L + j))
      }
      val y = 10.0 + x.zipWithIndex.map { case (v, j) => (0.3 - 0.05 * j) * v }.sum +
        0.2 * x(0) * x(1) - 0.1 * x(2) * x(2) + 0.5 * fold(i * 13L + 12)
      Row.fromSeq(i.toLong +: x :+ y)
    }
    val schema = StructType(StructField("id", LongType) +:
      (features :+ label).map(StructField(_, DoubleType)).toSeq)
    assert(Schemas.wineFeatures.toSet === (features :+ label).toSet)
    spark.createDataFrame(rows.asJava, schema)
  }

  private def candidates(names: String*) =
    WinePipelines.modelGrid.filter(c => names.contains(c.name))

  private def metrics(df: DataFrame, names: String*): Map[String, (Double, Double)] =
    WinePipelines.trainAndEvaluate(df, candidates(names: _*)).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap

  private def round6(x: Double) = math.rint(x * 1e6) / 1e6

  private val evaluator = new RegressionEvaluator().setLabelCol(label)
    .setPredictionCol("prediction").setMetricName("r2")

  private def expansion(degree: Int) = Array(WinePipelines.assembler,
    new StandardScaler().setInputCol("features_raw").setOutputCol("features_std")
      .setWithMean(true).setWithStd(true),
    new PolynomialExpansion().setInputCol("features_std").setOutputCol("features")
      .setDegree(degree))

  /** spark.ml's (r2_train, r2_test) for OLS on the poly-`degree` terms. */
  private def sparkMl(df: DataFrame, degree: Int): (Double, Double) = {
    val (train, test) = WinePipelines.split(df)
    val model = new Pipeline().setStages(expansion(degree) :+
      new LinearRegression().setLabelCol(label).setFeaturesCol("features"))
      .fit(train)
    (evaluator.evaluate(model.transform(train)),
      evaluator.evaluate(model.transform(test)))
  }

  test("M3-M5, M11: linear_poly2 and linear_poly3 score the R² of the " +
      "spark.ml pipeline on the same split, to the stored 1e-6 rounding") {
    val df = wineLike(1600).cache()
    val got = metrics(df, "linear_poly2", "linear_poly3")
    for (d <- Seq(2, 3)) {
      val (train, test) = sparkMl(df, d)
      assert(got(s"linear_poly$d") === ((round6(train), round6(test))),
        s"degree $d: spark.ml r2 ($train, $test)")
    }
    assert(got("linear_poly2")._1 > 0.5 && got("linear_poly2")._1 < 0.999,
      s"the frame must be neither trivial nor noise: ${got("linear_poly2")}")
  }

  test("M7: the ridge candidate equals BayesianRidge.fit over the poly-2 " +
      "features spark.ml's scaler and expansion build") {
    val df = wineLike(1600).cache()
    val (train, test) = WinePipelines.split(df)
    val expand = new Pipeline().setStages(expansion(2)).fit(train)
    def terms(d: DataFrame) = expand.transform(d)
      .select(vector_to_array(col("features")).as("f"), col(label))
    val p = terms(train).head().getSeq[Double](0).size
    assert(p === 65)
    val m = BayesianRidge.fit(terms(train), "f", label, p)
    assert(m.converged, s"ran ${m.nIter}")
    def r2(d: DataFrame) = evaluator.evaluate(terms(d).withColumn("prediction",
      aggregate(zip_with(col("f"), typedLit(m.coef.toSeq), _ * _),
        lit(m.intercept), _ + _)))
    assert(metrics(df, "ridge")("ridge") === ((round6(r2(train)), round6(r2(test)))))
  }

  test("a feature that never varies: its all-zero terms are dropped, and " +
      "train R² is spark.ml's to 1e-4") {
    val df = wineLike(1600, flat = Set("citric_acid")).cache()
    val (r2Train, r2Test) = metrics(df, "linear_poly2")("linear_poly2")
    val (ref, _) = sparkMl(df, 2)
    assert(math.abs(r2Train - ref) < 1e-4, s"ours $r2Train, spark.ml $ref")
    assert(r2Test > 0.5, s"r2Test $r2Test")
  }

  test("a rank-deficient Gram (fewer train rows than poly-3 terms) is " +
      "solved by minimum norm; train R² is spark.ml's to 1e-4") {
    val df = wineLike(300).cache()
    assert(WinePipelines.split(df)._1.count() < 285)
    val (r2Train, _) = metrics(df, "linear_poly3")("linear_poly3")
    val (ref, _) = sparkMl(df, 3)
    assert(math.abs(r2Train - ref) < 1e-4, s"ours $r2Train, spark.ml $ref")
  }

  test("an empty train split fails with a named IllegalArgumentException") {
    val e = intercept[IllegalArgumentException] {
      WinePipelines.trainAndEvaluate(wineLike(0), candidates("linear_poly2"))
    }
    assert(e.getMessage.contains("empty train split"), e.getMessage)
  }

  test("linear_poly2, linear_poly3 and ridge together run exactly 2 Spark " +
      "jobs: the scaler's moments, then one statistics pass") {
    val df = wineLike(1600)
    val (_, jobs) = JobCounter(spark.sparkContext)(WinePipelines
      .trainAndEvaluate(df, candidates("linear_poly2", "linear_poly3", "ridge")))
    assert(jobs.size === 2, jobs.mkString("jobs:\n", "\n", ""))
  }
}
