package graft

import graft.ml.BayesianRidge
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.LinearRegression

/** M7 exact: the evidence-maximization Bayesian ridge against its own
  * defining properties — noise-free recovery, OLS agreement when the data
  * dominate, prior-driven shrinkage, linear-algebra parity. The wine
  * grid's ridge candidate is checked in WineLinearFitSpec. */
class BayesianRidgeSpec extends SparkSpec {

  import spark.implicits._

  // deterministic pseudo-noise (no RNG): hash-folded unit interval
  private def jitter(i: Int): Double =
    ((i * 2654435761L % 1000 + 1000) % 1000) / 1000.0 - 0.5

  private def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)

  private def linData(n: Int, noiseScale: Double) =
    (0 until n).map { i =>
      val x1 = (i % 20) * 0.5
      val x2 = (i / 20) * 1.0
      (Seq(x1, x2), 3.0 + 2.0 * x1 - 1.0 * x2 + noiseScale * jitter(i))
    }.toDF("f", "y")

  test("M7: noise-free linear data — coefficients, intercept recovered; " +
      "noise precision alpha explodes") {
    val m = BayesianRidge.fit(linData(200, 0.0), "f", "y", 2)
    assert(m.converged, s"must converge, ran ${m.nIter}")
    assert(math.abs(m.coef(0) - 2.0) < 1e-3, s"coef0 ${m.coef(0)}")
    assert(math.abs(m.coef(1) + 1.0) < 1e-3, s"coef1 ${m.coef(1)}")
    assert(math.abs(m.intercept - 3.0) < 1e-3, s"intercept ${m.intercept}")
    assert(m.alpha > 1e3, s"noise-free alpha must be huge, got ${m.alpha}")
  }

  test("M7: with mild noise the fit agrees with OLS (data dominate the " +
      "prior); a dominant lambda prior shrinks coefficients toward zero") {
    val df = linData(400, 0.2)
    val m = BayesianRidge.fit(df, "f", "y", 2)
    // spark.ml's OLS (normal-equation solver) as the reference
    val ols = new LinearRegression().setLabelCol("y").setFeaturesCol("v")
      .setSolver("normal").fit(new VectorAssembler()
        .setInputCols(Array("x1", "x2")).setOutputCol("v")
        .transform(df.selectExpr("f[0] AS x1", "f[1] AS x2", "y")))
      .coefficients
    assert(math.abs(m.coef(0) - ols(0)) < 0.01 &&
      math.abs(m.coef(1) - ols(1)) < 0.01,
      s"evidence fit ${m.coef.toSeq} vs OLS $ols")
    val shrunk = BayesianRidge.fit(df, "f", "y", 2, lambda1 = 1e9)
    assert(norm(shrunk.coef) < 0.05 * norm(m.coef),
      s"prior-dominated fit must shrink: ${shrunk.coef.toSeq}")
  }

  test("M7: solveCoef is the textbook penalized normal-equation solve") {
    val xtx = Array(4.0, 1.0, 1.0, 3.0) // column-major [[4,1],[1,3]]
    val w = BayesianRidge.solveCoef(xtx, Array(1.0, 2.0), alpha = 2.0,
      lambda = 0.5)
    // (λI + α XᵀX) w = α Xᵀy, solved by hand: [[8.5,2],[2,6.5]] w = [2,4]
    val det = 8.5 * 6.5 - 2.0 * 2.0
    val direct = Array((6.5 * 2.0 - 2.0 * 4.0) / det,
      (8.5 * 4.0 - 2.0 * 2.0) / det)
    assert(norm(Array(w(0) - direct(0), w(1) - direct(1))) < 1e-12)
  }

  test("M7: empty input fails loudly") {
    intercept[IllegalArgumentException] {
      BayesianRidge.fit(linData(10, 0.0).filter($"y" < -1e9), "f", "y", 2)
    }
  }
}
