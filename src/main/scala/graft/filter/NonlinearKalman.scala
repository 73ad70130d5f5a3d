package graft.filter

import graft.linalg.{DMat, Dense}

/**
 * Extended Kalman Filter: LKF cycle with user-supplied differentiable process
 * / measurement functions and jacobians (non-additive noise supported via
 * noise jacobians). Functions receive (stateMean, modelMatrix) like the
 * reference contract
 * (/root/reference/src/main/scala/com/github/ozancicek/artan/ml/filter/ExtendedKalmanFilter.scala:209).
 */
class EkfCompute(
    stateSize: Int, measurementSize: Int, fadingFactor: Double,
    processFunc: Option[(Array[Double], DMat) => Array[Double]],
    processJac: Option[(Array[Double], DMat) => DMat],
    processNoiseJac: Option[(Array[Double], DMat) => DMat],
    measurementFunc: Option[(Array[Double], DMat) => Array[Double]],
    measurementJac: Option[(Array[Double], DMat) => DMat],
    measurementNoiseJac: Option[(Array[Double], DMat) => DMat])
  extends LinearKalmanCompute(stateSize, measurementSize, fadingFactor) {

  override def predict(mean: Array[Double], cov: Array[Double], in: KalmanIn): (Array[Double], Array[Double]) = {
    val s = stateSize
    val fm = in.processModel.get
    // x = f(x, F) (+ B u)
    val m1 = processFunc.map(f => f(mean, fm)).getOrElse(Dense.matvec(fm.values, mean, s, s))
    (in.control, in.controlFunction) match {
      case (Some(u), Some(b)) => Dense.axpy(1.0, Dense.matvec(b.values, u, s, u.length), m1)
      case _ =>
    }
    // P = a^2 Fj P Fj^T + Qj Q Qj^T
    val fj = processJac.map(f => f(mean, fm).values).getOrElse(fm.values)
    val fp = Dense.matmul(fj, cov, s, s, s)
    val fpft = Dense.matmulNT(fp, fj, s, s, s)
    val q = in.processNoise.get
    val qProj = processNoiseJac match {
      case Some(jf) =>
        val j = jf(mean, q)
        val jq = Dense.matmul(j.values, q.values, s, j.numCols, q.numCols)
        Dense.matmulNT(jq, j.values, s, q.numCols, s)
      case None => q.values.clone()
    }
    Dense.axpy(fadingFactor * fadingFactor, fpft, qProj)
    (m1, Dense.symmetrize(qProj, s))
  }

  override def estimate(mean: Array[Double], cov: Array[Double], in: KalmanIn)
    : (Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val s = stateSize
    val m = measurementSize
    val hm = in.measurementModel.get
    val z = in.measurement.get
    // residual = z - h(x, H)
    val hx = measurementFunc.map(f => f(mean, hm)).getOrElse(Dense.matvec(hm.values, mean, m, s))
    val resid = Dense.sub(z, hx)
    val hj = measurementJac.map(f => f(mean, hm).values).getOrElse(hm.values)
    val r = in.measurementNoise.get
    val rProj = measurementNoiseJac match {
      case Some(jf) =>
        val j = jf(mean, r)
        val jr = Dense.matmul(j.values, r.values, m, j.numCols, r.numCols)
        Dense.matmulNT(jr, j.values, m, r.numCols, m)
      case None => r.values.clone()
    }
    josephUpdate(mean, cov, resid, hj, rProj)
  }
}

/** Extended Kalman Filter transformer. */
class ExtendedKalmanFilter(stateSize: Int, measurementSize: Int)
    extends KalmanFilterBase[ExtendedKalmanFilter](stateSize, measurementSize) {

  private var processFunc: Option[(Array[Double], DMat) => Array[Double]] = None
  private var processJac: Option[(Array[Double], DMat) => DMat] = None
  private var processNoiseJac: Option[(Array[Double], DMat) => DMat] = None
  private var measurementFunc: Option[(Array[Double], DMat) => Array[Double]] = None
  private var measurementJac: Option[(Array[Double], DMat) => DMat] = None
  private var measurementNoiseJac: Option[(Array[Double], DMat) => DMat] = None

  def setProcessFunction(f: (Array[Double], DMat) => Array[Double]): this.type = { processFunc = Some(f); this }
  def setProcessStateJacobian(f: (Array[Double], DMat) => DMat): this.type = { processJac = Some(f); this }
  def setProcessNoiseJacobian(f: (Array[Double], DMat) => DMat): this.type = { processNoiseJac = Some(f); this }
  def setMeasurementFunction(f: (Array[Double], DMat) => Array[Double]): this.type = { measurementFunc = Some(f); this }
  def setMeasurementStateJacobian(f: (Array[Double], DMat) => DMat): this.type = { measurementJac = Some(f); this }
  def setMeasurementNoiseJacobian(f: (Array[Double], DMat) => DMat): this.type = { measurementNoiseJac = Some(f); this }

  protected def compute: KalmanCompute = new EkfCompute(
    stateSize, measurementSize, fadingFactor,
    processFunc, processJac, processNoiseJac,
    measurementFunc, measurementJac, measurementNoiseJac)
}

/** Sigma-point set: (points, meanWeights, covWeights). */
private[filter] case class Sigma(points: Array[Array[Double]], wm: Array[Double], wc: Array[Double])

private[filter] trait SigmaAlgo extends Serializable {
  def apply(mean: Array[Double], cov: Array[Double], n: Int): Sigma

  /** Optional element-wise sigma-point clipping bounds (reference
    * UnscentedKalmanFilter.scala:146,705 `setSigmaPointLowerBound`/
    * `UpperBound`): the ± spread points are clipped into [lb, ub]; the
    * CENTER point (the mean itself) is NOT clipped, matching the reference
    * (its `sigmaPoints` folds `applyBounds` over the spread points only,
    * UnscentedKalmanFilter.scala:417-424). If the state-transition and
    * measurement functions also respect the bounds, the estimated state
    * stays bounded for all measurements. */
  @volatile var lbound: Option[Array[Double]] = None
  @volatile var ubound: Option[Array[Double]] = None

  /** Clip a spread point in place into [lbound, ubound]. */
  protected def clip(p: Array[Double]): Array[Double] = {
    lbound.foreach { lb =>
      var i = 0
      while (i < p.length && i < lb.length) { if (p(i) < lb(i)) p(i) = lb(i); i += 1 }
    }
    ubound.foreach { ub =>
      var i = 0
      while (i < p.length && i < ub.length) { if (p(i) > ub(i)) p(i) = ub(i); i += 1 }
    }
    p
  }

  /** chol of scale*P (columns of the lower factor scaled). */
  protected def scaledCholCols(cov: Array[Double], n: Int, scale: Double): Array[Array[Double]] = {
    val scaled = Dense.scale(scale, cov)
    var l = Dense.cholesky(scaled, n)
    if (l == null) {
      // regularize: covariance drifted from PD; add jitter
      var jit = 1e-9
      while (l == null && jit < 1.0) {
        val c = scaled.clone()
        var i = 0
        while (i < n) { c(i * n + i) += jit; i += 1 }
        l = Dense.cholesky(c, n)
        jit *= 10
      }
      require(l != null, "covariance not positive definite in sigma point generation")
    }
    Array.tabulate(n) { c => Array.tabulate(n)(r => l(r * n + c)) }
  }

  protected def buildPoints(mean: Array[Double], cols: Array[Array[Double]], n: Int): Array[Array[Double]] = {
    val pts = new Array[Array[Double]](2 * n + 1)
    pts(0) = mean.clone()
    var i = 0
    while (i < n) {
      pts(i + 1) = clip(Dense.add(mean, cols(i)))
      pts(i + 1 + n) = clip(Dense.sub(mean, cols(i)))
      i += 1
    }
    pts
  }
}

/** Van der Merwe scaled sigma points (alpha, beta, kappa). */
private[filter] class MerweSigma(alpha: Double, beta: Double, kappa: Double) extends SigmaAlgo {
  def apply(mean: Array[Double], cov: Array[Double], n: Int): Sigma = {
    val lam = alpha * alpha * (n + kappa) - n
    val cols = scaledCholCols(cov, n, n + lam)
    val pts = buildPoints(mean, cols, n)
    val wm = Array.fill(2 * n + 1)(1.0 / (2.0 * (n + lam)))
    val wc = wm.clone()
    wm(0) = lam / (n + lam)
    wc(0) = lam / (n + lam) + (1.0 - alpha * alpha + beta)
    Sigma(pts, wm, wc)
  }
}

/** Julier sigma points (kappa). */
private[filter] class JulierSigma(kappa: Double) extends SigmaAlgo {
  def apply(mean: Array[Double], cov: Array[Double], n: Int): Sigma = {
    val cols = scaledCholCols(cov, n, n + kappa)
    val pts = buildPoints(mean, cols, n)
    val wm = Array.fill(2 * n + 1)(1.0 / (2.0 * (n + kappa)))
    val wc = wm.clone()
    wm(0) = kappa / (n + kappa)
    wc(0) = kappa / (n + kappa)
    Sigma(pts, wm, wc)
  }
}

/** Spherical-radial cubature points (2n points, equal weights). */
private[filter] class CubatureSigma extends SigmaAlgo {
  def apply(mean: Array[Double], cov: Array[Double], n: Int): Sigma = {
    val cols = scaledCholCols(cov, n, n.toDouble)
    val pts = new Array[Array[Double]](2 * n)
    var i = 0
    while (i < n) {
      pts(i) = clip(Dense.add(mean, cols(i)))
      pts(i + n) = clip(Dense.sub(mean, cols(i)))
      i += 1
    }
    val w = Array.fill(2 * n)(1.0 / (2.0 * n))
    Sigma(pts, w, w.clone())
  }
}

/** RAUKF adaptive process noise parameters (B. Zheng 2018; reference
  * UnscentedKalmanFilter.scala:578 defaults: threshold 2.0, lambda 0.9,
  * alpha 1.0). */
case class AdaptiveNoiseConf(threshold: Double = 2.0, lambda: Double = 0.9, alpha: Double = 1.0)
  extends Serializable

/**
 * Sigma-point Kalman compute shared by UKF and CKF: unscented transform for
 * both the time and measurement updates; sigma points re-drawn from the
 * predicted state before the measurement update (matches the reference,
 * /root/reference/src/main/scala/com/github/ozancicek/artan/ml/filter/UnscentedKalmanFilter.scala:269).
 */
class SigmaPointCompute(
    val stateSize: Int, val measurementSize: Int, val fadingFactor: Double,
    sigma: SigmaAlgo,
    processFunc: Option[(Array[Double], DMat) => Array[Double]],
    measurementFunc: Option[(Array[Double], DMat) => Array[Double]],
    adaptiveNoise: Option[AdaptiveNoiseConf] = None)
  extends KalmanCompute {

  private def weightedMean(pts: Array[Array[Double]], w: Array[Double], dim: Int): Array[Double] = {
    val m = new Array[Double](dim)
    var i = 0
    while (i < pts.length) {
      Dense.axpy(w(i), pts(i), m)
      i += 1
    }
    m
  }

  private def weightedCov(
      pts: Array[Array[Double]], mean: Array[Double], w: Array[Double], dim: Int): Array[Double] = {
    val c = new Array[Double](dim * dim)
    var i = 0
    while (i < pts.length) {
      val d = Dense.sub(pts(i), mean)
      Dense.axpy(w(i), Dense.outer(1.0, d, d), c)
      i += 1
    }
    c
  }

  def predict(mean: Array[Double], cov: Array[Double], in: KalmanIn): (Array[Double], Array[Double]) = {
    val s = stateSize
    val f = (x: Array[Double]) => processFunc.map(fn => fn(x, in.processModel.get))
      .getOrElse(Dense.matvec(in.processModel.get.values, x, s, s))
    val sg = sigma(mean, cov, s)
    val moved = sg.points.map(f)
    val m1 = weightedMean(moved, sg.wm, s)
    (in.control, in.controlFunction) match {
      case (Some(u), Some(b)) => Dense.axpy(1.0, Dense.matvec(b.values, u, s, u.length), m1)
      case _ =>
    }
    val c0 = weightedCov(moved, m1, sg.wc, s)
    val p1 = in.processNoise.get.values.clone()
    Dense.axpy(fadingFactor * fadingFactor, c0, p1)
    (m1, Dense.symmetrize(p1, s))
  }

  def estimate(mean: Array[Double], cov: Array[Double], in: KalmanIn)
    : (Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val (a, b, c, d, _) = estimateFull(mean, cov, in)
    (a, b, c, d)
  }

  /** RAUKF: when the residual's squared mahalanobis against S breaches the
    * threshold, blend K r rᵀ Kᵀ into the current Q (weight clamped at lambda);
    * below threshold the adapted noise resets to the static Q. */
  override def estimateWithNoise(mean: Array[Double], cov: Array[Double], in: KalmanIn)
    : (Array[Double], Array[Double], Array[Double], Array[Double], Option[Array[Double]]) = {
    val (em, ec, resid, sMat, gain) = estimateFull(mean, cov, in)
    val newQ = adaptiveNoise.flatMap { conf =>
      val s = stateSize
      val m = measurementSize
      val sInv = Dense.inverse(sMat.clone(), m)
      val sqMah = Dense.dot(resid, Dense.matvec(sInv, resid, m, m))
      if (sqMah > conf.threshold) {
        val weight = math.max(conf.lambda, (sqMah - conf.alpha * conf.threshold) / sqMah)
        val update = Dense.outer(weight, resid, resid) // weight * r rᵀ (m x m)
        val ku = Dense.matmul(gain, update, s, m, m)
        val noise = Dense.matmulNT(ku, gain, s, m, s) // K update Kᵀ
        Dense.axpy(1.0 - weight, in.processNoise.get.values, noise)
        Some(noise)
      } else None
    }
    (em, ec, resid, sMat, newQ)
  }

  private def estimateFull(mean: Array[Double], cov: Array[Double], in: KalmanIn)
    : (Array[Double], Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val s = stateSize
    val m = measurementSize
    val h = (x: Array[Double]) => measurementFunc.map(fn => fn(x, in.measurementModel.get))
      .getOrElse(Dense.matvec(in.measurementModel.get.values, x, m, s))
    val z = in.measurement.get

    val sg = sigma(mean, cov, s)
    val zPts = sg.points.map(h)
    val zMean = weightedMean(zPts, sg.wm, m)
    // S = sum wc (z_i - zMean)(z_i - zMean)^T + R
    val sMat = weightedCov(zPts, zMean, sg.wc, m)
    Dense.axpy(1.0, in.measurementNoise.get.values, sMat)
    // crossCov = sum wc (x_i - mean)(z_i - zMean)^T
    val cross = new Array[Double](s * m)
    var i = 0
    while (i < sg.points.length) {
      val dx = Dense.sub(sg.points(i), mean)
      val dz = Dense.sub(zPts(i), zMean)
      Dense.axpy(sg.wc(i), Dense.outer(1.0, dx, dz), cross)
      i += 1
    }
    val sInv = Dense.inverse(sMat.clone(), m)
    val gain = Dense.matmul(cross, sInv, s, m, m)
    val resid = Dense.sub(z, zMean)
    val newMean = mean.clone()
    Dense.axpy(1.0, Dense.matvec(gain, resid, s, m), newMean)
    // P' = P - K S K^T
    val ks = Dense.matmul(gain, sMat, s, m, m)
    val kskt = Dense.matmulNT(ks, gain, s, m, s)
    val newCov = Dense.sub(cov, kskt)
    (newMean, Dense.symmetrize(newCov, s), resid, sMat, gain)
  }
}

/** Unscented Kalman Filter (merwe or julier sigma points). */
class UnscentedKalmanFilter(stateSize: Int, measurementSize: Int)
    extends KalmanFilterBase[UnscentedKalmanFilter](stateSize, measurementSize) {

  private var sigmaAlgoName: String = "merwe"
  private var merweAlpha: Double = 0.3
  private var merweBeta: Double = 2.0
  private var merweKappa: Double = 0.1
  private var julierKappa: Double = 1.0
  private var processFunc: Option[(Array[Double], DMat) => Array[Double]] = None
  private var measurementFunc: Option[(Array[Double], DMat) => Array[Double]] = None
  private var adaptiveNoise: Option[AdaptiveNoiseConf] = None
  private var sigmaLb: Option[Array[Double]] = None
  private var sigmaUb: Option[Array[Double]] = None

  def setSigmaPoints(v: String): this.type = {
    require(v == "merwe" || v == "julier", s"unsupported sigma point algorithm $v")
    sigmaAlgoName = v; this
  }
  def setMerweAlpha(v: Double): this.type = { merweAlpha = v; this }
  def setMerweBeta(v: Double): this.type = { merweBeta = v; this }
  def setMerweKappa(v: Double): this.type = { merweKappa = v; this }
  def setJulierKappa(v: Double): this.type = { julierKappa = v; this }
  def setProcessFunction(f: (Array[Double], DMat) => Array[Double]): this.type = { processFunc = Some(f); this }
  def setMeasurementFunction(f: (Array[Double], DMat) => Array[Double]): this.type = { measurementFunc = Some(f); this }

  /** Lower bound for sigma-point sampling, enforced by element-wise clipping
    * of the spread points (reference UnscentedKalmanFilter.scala:146). If the
    * process/measurement functions also respect the bound, the estimated
    * state is bounded for all measurements. No lower bound by default. */
  def setSigmaPointLowerBound(v: Array[Double]): this.type = {
    require(v.length == stateSize, s"bound length ${v.length} != stateSize $stateSize")
    sigmaLb = Some(v.clone()); this
  }

  /** Upper bound for sigma-point sampling, enforced by clipping (reference
    * UnscentedKalmanFilter.scala:154). No upper bound by default. */
  def setSigmaPointUpperBound(v: Array[Double]): this.type = {
    require(v.length == stateSize, s"bound length ${v.length} != stateSize $stateSize")
    sigmaUb = Some(v.clone()); this
  }

  /** Enable RAUKF adaptive process noise (B. Zheng 2018; reference
    * UnscentedKalmanFilter.scala:135). */
  def setEnableAdaptiveProcessNoise(): this.type = {
    adaptiveNoise = Some(adaptiveNoise.getOrElse(AdaptiveNoiseConf())); this
  }
  def setAdaptiveProcessNoiseThreshold(v: Double): this.type = {
    adaptiveNoise = Some(adaptiveNoise.getOrElse(AdaptiveNoiseConf()).copy(threshold = v)); this
  }
  def setAdaptiveProcessNoiseLambda(v: Double): this.type = {
    adaptiveNoise = Some(adaptiveNoise.getOrElse(AdaptiveNoiseConf()).copy(lambda = v)); this
  }
  def setAdaptiveProcessNoiseAlpha(v: Double): this.type = {
    adaptiveNoise = Some(adaptiveNoise.getOrElse(AdaptiveNoiseConf()).copy(alpha = v)); this
  }

  protected def compute: KalmanCompute = {
    val algo = sigmaAlgoName match {
      case "merwe" => new MerweSigma(merweAlpha, merweBeta, merweKappa)
      case "julier" => new JulierSigma(julierKappa)
    }
    algo.lbound = sigmaLb
    algo.ubound = sigmaUb
    new SigmaPointCompute(stateSize, measurementSize, fadingFactor, algo,
      processFunc, measurementFunc, adaptiveNoise)
  }
}

/** Cubature Kalman Filter (spherical-radial rule). */
class CubatureKalmanFilter(stateSize: Int, measurementSize: Int)
    extends KalmanFilterBase[CubatureKalmanFilter](stateSize, measurementSize) {

  private var processFunc: Option[(Array[Double], DMat) => Array[Double]] = None
  private var measurementFunc: Option[(Array[Double], DMat) => Array[Double]] = None
  private var sigmaLb: Option[Array[Double]] = None
  private var sigmaUb: Option[Array[Double]] = None

  def setProcessFunction(f: (Array[Double], DMat) => Array[Double]): this.type = { processFunc = Some(f); this }
  def setMeasurementFunction(f: (Array[Double], DMat) => Array[Double]): this.type = { measurementFunc = Some(f); this }

  /** Sigma-point clipping bounds — same contract as the UKF setters (the
    * reference exposes these on UKF only; all cubature points are spread
    * points, so clipping applies to every point here). */
  def setSigmaPointLowerBound(v: Array[Double]): this.type = {
    require(v.length == stateSize, s"bound length ${v.length} != stateSize $stateSize")
    sigmaLb = Some(v.clone()); this
  }
  def setSigmaPointUpperBound(v: Array[Double]): this.type = {
    require(v.length == stateSize, s"bound length ${v.length} != stateSize $stateSize")
    sigmaUb = Some(v.clone()); this
  }

  protected def compute: KalmanCompute = {
    val algo = new CubatureSigma
    algo.lbound = sigmaLb
    algo.ubound = sigmaUb
    new SigmaPointCompute(
      stateSize, measurementSize, fadingFactor, algo, processFunc, measurementFunc)
  }
}
