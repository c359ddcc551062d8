package graft.ml

import dev.ludovic.netlib.lapack.LAPACK
import org.netlib.util.intW

/** Sufficient statistics of a linear least-squares problem over p terms t
  * and a label y, accumulated row by row in one data pass: n, Σy, Σy², Σt,
  * Σt·y and ΣtᵀT. ΣtᵀT keeps its upper triangle packed column by column
  * (LAPACK's packed 'U' layout), so the statistics of the first q terms
  * are a prefix of every array ([[prefix]]): one pass over the cubic terms
  * of a polynomial expansion also serves a fit on its quadratic terms.
  * A linear model's fit and its R² need nothing more (the way MADlib fits
  * regressions in-database; Hellerstein et al., VLDB 2012). */
final class Moments(val p: Int) extends Serializable {
  var n = 0L
  var sy = 0.0
  var syy = 0.0
  val st = new Array[Double](p)
  val sty = new Array[Double](p)
  val stt = new Array[Double](p * (p + 1) / 2)

  def add(t: Array[Double], y: Double): this.type = {
    require(t.length == p, s"term count ${t.length} != $p")
    n += 1; sy += y; syy += y * y
    var j = 0
    var k = 0
    while (j < p) {
      val tj = t(j)
      st(j) += tj
      sty(j) += tj * y
      var i = 0
      while (i <= j) { stt(k) += t(i) * tj; i += 1; k += 1 }
      j += 1
    }
    this
  }

  def merge(o: Moments): this.type = {
    n += o.n; sy += o.sy; syy += o.syy
    Moments.addInto(st, o.st); Moments.addInto(sty, o.sty)
    Moments.addInto(stt, o.stt)
    this
  }

  /** The statistics of the first q terms. */
  def prefix(q: Int): Moments = {
    val m = new Moments(q)
    m.n = n; m.sy = sy; m.syy = syy
    System.arraycopy(st, 0, m.st, 0, q)
    System.arraycopy(sty, 0, m.sty, 0, q)
    System.arraycopy(stt, 0, m.stt, 0, m.stt.length)
    m
  }

  def tbar: Array[Double] = st.map(_ / n)
  def ybar: Double = sy / n

  /** The problem re-centered at (c, cy): Σ(y−cy)², Σ(t−c)(y−cy) and
    * Σ(t−c)(t−c)ᵀ, the last as a full p×p column-major matrix. Centered
    * at the rows' own means, it is the problem an intercept fit solves;
    * centered at another split's means, it scores that split's model. */
  def centered(c: Array[Double], cy: Double): Centered = {
    val nd = n.toDouble
    val ty = Array.tabulate(p)(i =>
      sty(i) - c(i) * sy - cy * st(i) + nd * c(i) * cy)
    val tt = new Array[Double](p * p)
    var j = 0
    var k = 0
    while (j < p) {
      var i = 0
      while (i <= j) {
        val v = stt(k) - c(i) * st(j) - c(j) * st(i) + nd * c(i) * c(j)
        tt(i + j * p) = v; tt(j + i * p) = v
        i += 1; k += 1
      }
      j += 1
    }
    Centered(n, syy - 2.0 * cy * sy + nd * cy * cy, ty, tt)
  }
}

object Moments {
  private def addInto(a: Array[Double], b: Array[Double]): Unit = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
  }
}

/** A centered least-squares problem: yy = Σy², ty = Σt·y, tt = ΣtᵀT
  * (p×p, column-major) over n rows. */
final case class Centered(n: Long, yy: Double, ty: Array[Double],
                          tt: Array[Double]) {
  def p: Int = ty.length

  /** Σ(y − w·t)², the residual sum of squares of coefficients w. */
  def sse(w: Array[Double]): Double =
    yy - 2.0 * LeastSquares.dot(w, ty) + LeastSquares.quad(tt, w)
}

/** The driver-side algebra over [[Moments]]: ordinary least squares by
  * the Cholesky of the normal equations (LAPACK, as spark.ml's normal
  * solver does), a minimum-norm fallback for a singular Gram, and R²
  * from the statistics alone. Plain arrays and netlib LAPACK: breeze's
  * operator classes cost a cold JVM more than the solve itself. */
object LeastSquares {
  /** Eigenvalues below this share of the largest are rounding noise of
    * a Gram formed in double precision; the minimum-norm solve drops
    * their directions. */
  private val RelativeCutoff = 1e-12

  private def lapack = LAPACK.getInstance()

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** wᵀ A w for a p×p column-major A. */
  def quad(a: Array[Double], w: Array[Double]): Double = {
    val p = w.length
    var s = 0.0
    var j = 0
    while (j < p) {
      var r = 0.0
      var i = 0
      while (i < p) { r += a(i + j * p) * w(i); i += 1 }
      s += r * w(j)
      j += 1
    }
    s
  }

  /** Solves A x = b for a symmetric positive semi-definite k×k A
    * (column-major): Cholesky (`dposv`) when A is positive definite,
    * else the minimum-norm solution through A's eigendecomposition. */
  def solve(a: Array[Double], b: Array[Double]): Array[Double] = {
    val k = b.length
    if (k == 0) return Array.emptyDoubleArray
    val (f, x, info) = (a.clone(), b.clone(), new intW(0))
    lapack.dposv("U", k, 1, f, k, x, k, info)
    require(info.`val` >= 0, s"dposv: illegal argument ${-info.`val`}")
    if (info.`val` == 0) x else minNorm(a, b)
  }

  private def minNorm(a: Array[Double], b: Array[Double]): Array[Double] = {
    val k = b.length
    val (v, e) = eigen(a, k, vectors = true)
    val cutoff = RelativeCutoff * e.map(math.abs).max
    val x = new Array[Double](k)
    var m = 0
    while (m < k) {
      if (e(m) > cutoff) {
        var c = 0.0
        var i = 0
        while (i < k) { c += v(i + m * k) * b(i); i += 1 }
        c /= e(m)
        i = 0
        while (i < k) { x(i) += c * v(i + m * k); i += 1 }
      }
      m += 1
    }
    x
  }

  /** Eigenvalues (ascending) of a symmetric k×k A. */
  def eigenvalues(a: Array[Double], k: Int): Array[Double] =
    eigen(a, k, vectors = false)._2

  /** (eigenvectors column-major, eigenvalues ascending) by `dsyevd`. */
  private def eigen(a: Array[Double], k: Int,
      vectors: Boolean): (Array[Double], Array[Double]) = {
    val (v, e, info) = (a.clone(), new Array[Double](k), new intW(0))
    if (k > 0) {
      val lwork = if (vectors) 1 + 6 * k + 2 * k * k else 2 * k + 1
      val liwork = if (vectors) 3 + 5 * k else 1
      lapack.dsyevd(if (vectors) "V" else "N", "U", k, v, k, e,
        new Array[Double](lwork), lwork, new Array[Int](liwork), liwork, info)
      require(info.`val` == 0, s"dsyevd failed: info ${info.`val`}")
    }
    (v, e)
  }

  /** Ordinary least squares on a centered problem: the coefficients of
    * every term, 0.0 for terms that never vary (a standardized constant
    * feature makes all of its terms 0.0). The kept terms are scaled to a
    * unit diagonal before the solve, as spark.ml's normal solver scales
    * its features. */
  def ols(c: Centered): Array[Double] = {
    val p = c.p
    val keep = (0 until p).filter(i => c.tt(i + i * p) > 0.0).toArray
    val k = keep.length
    val s = keep.map(i => math.sqrt(c.tt(i + i * p)))
    val a = new Array[Double](k * k)
    for (j <- 0 until k; i <- 0 until k)
      a(i + j * k) = c.tt(keep(i) + keep(j) * p) / (s(i) * s(j))
    val z = solve(a, Array.tabulate(k)(i => c.ty(keep(i)) / s(i)))
    val w = new Array[Double](p)
    for (i <- 0 until k) w(keep(i)) = z(i) / s(i)
    w
  }

  /** R² over the rows `m` summarizes of the model y ≈ cy + w·(t − c),
    * which is how a model fit on rows centered at (c, cy) predicts:
    * 1 − Σ(y − ŷ)² / Σ(y − ȳ)². */
  def r2(m: Moments, w: Array[Double], c: Array[Double], cy: Double): Double =
    1.0 - m.centered(c, cy).sse(w) / (m.syy - m.sy * m.sy / m.n)
}
