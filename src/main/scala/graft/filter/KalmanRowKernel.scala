package graft.filter

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.types.StructType

import graft.linalg.DMat
import graft.state.{FoldKernel, KeyRun}
import graft.stats.Distributions

/**
 * InternalRow-level batch executor for the Kalman family. Decodes the
 * canonical 11-column input projection (see
 * [[KalmanFilterBase.kalmanProjection]]) straight off Tungsten rows, folds
 * the per-key recursion with the SAME [[KalmanCompute]] math object and the
 * SAME floating-point operation order as `KalmanSpec.update`/`output`, and
 * writes `KalmanOut`-shaped rows without the Dataset-encoder round trip —
 * the per-row encoder boundary was the dominant cost of the whole
 * sequential-filter family (~8.5 µs/row vs ~1-2 µs of filter math).
 *
 * Bit-exactness vs the encoder path (which remains the streaming
 * implementation and the executable reference) is pinned by
 * KalmanKernelPinSpec across every feature combination: per-row matrices,
 * missing measurements, RAUKF adaptive noise, multi-step prediction,
 * sliding likelihood, mahalanobis, system-matrix echo.
 */
final class KalmanRowKernel(
    compute: KalmanCompute,
    defaults: KalmanDefaults,
    storeResidual: Boolean,
    likelihoodWindow: Int,
    multiStepPredict: Int,
    computeLL: Boolean,
    computeMaha: Boolean,
    computeSliding: Boolean,
    emitSystemMatrices: Boolean,
    hasMM: Boolean, hasMN: Boolean, hasPM: Boolean, hasPN: Boolean,
    hasCtl: Boolean, hasCtlFn: Boolean, hasIM: Boolean, hasIC: Boolean)
  extends FoldKernel {

  private val s = compute.stateSize
  private val m = compute.measurementSize
  private val input = new KalmanRowInput(defaults, hasMM, hasMN, hasPM, hasPN,
    hasCtl, hasCtlFn, hasIM, hasIC)

  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val zerosM = new Array[Double](m)
    private val winCap = math.max(likelihoodWindow, 1)
    private val slidBuf = new Array[Double](winCap)
    private var slidStart = 0
    private var slidLen = 0
    // per-key fold state (mirrors KState)
    private val keys = new KeyRun
    private var stateIndex = 0L
    private var mean: Array[Double] = null
    private var cov: Array[Double] = null
    private var residMean: Array[Double] = null
    private var residCov: Array[Double] = null
    private var adaptiveQ: Array[Double] = null
    // output queue: base row + multiStepPredict prediction rows
    private val pending = new Array[InternalRow](multiStepPredict + 1)
    private var pendingLen = 0
    private var pendingPos = 0

    def hasNext: Boolean = pendingPos < pendingLen || rows.hasNext

    def next(): InternalRow = {
      if (pendingPos >= pendingLen) { process(rows.next()) }
      val r = pending(pendingPos); pendingPos += 1; r
    }

    private def pushSliding(v: Double): Unit = {
      if (slidLen < winCap) { slidBuf((slidStart + slidLen) % winCap) = v; slidLen += 1 }
      else { slidBuf(slidStart) = v; slidStart = (slidStart + 1) % winCap }
    }

    /** Oldest-to-newest left fold — the exact summation order of List.sum
      * over the encoder path's slidingLL list. */
    private def slidingSum(): Double = {
      var acc = 0.0
      var i = 0
      while (i < slidLen) { acc += slidBuf((slidStart + i) % winCap); i += 1 }
      acc
    }

    private def matStruct(d: DMat): GenericInternalRow =
      new GenericInternalRow(Array[Any](d.numRows, d.numCols,
        UnsafeArrayData.fromPrimitiveArray(d.values)))

    private def process(row: InternalRow): Unit = {
      if (keys.starts(row)) {
        stateIndex = 0L
        mean = input.initialMean(row)
        cov = input.initialCovariance(row)
        residMean = null; residCov = null; adaptiveQ = null
        slidStart = 0; slidLen = 0
      }
      val timeNull = row.isNullAt(1)
      val timeMicros = if (timeNull) 0L else row.getLong(1)
      val measNull = row.isNullAt(2)
      // resolved row with the STATIC (per-row or default) Q: what resolve()
      // yields in the encoder path — used for output/multistep/matrix echo
      val rowStatic = input.resolve(row)
      // effective row for update(): RAUKF-adapted Q overrides until reset
      val rowEff =
        if (adaptiveQ == null) rowStatic
        else rowStatic.copy(processNoise = Some(DMat(s, s, adaptiveQ)))

      val (pm0, pc0) = compute.predict(mean, cov, rowEff)
      var llVal = 0.0
      var llValid = false
      if (!measNull) {
        val (em, ec, resid, residCovN, newQ) = compute.estimateWithNoise(pm0, pc0, rowEff)
        if (computeSliding || computeLL) {
          llVal = Distributions.mvnLogpdf(resid, zerosM, residCovN.clone())
          llValid = true
          pushSliding(llVal)
        } else { slidStart = 0; slidLen = 0 }
        stateIndex += 1
        mean = em; cov = ec
        residMean = if (storeResidual) resid else null
        residCov = if (storeResidual) residCovN else null
        adaptiveQ = newQ.orNull
      } else {
        stateIndex += 1
        mean = pm0; cov = pc0
        residMean = null; residCov = null
        // sliding window and adaptive Q carry through measurement gaps
      }

      // ------------------------------------------------ output (== toOut)
      pendingLen = 0; pendingPos = 0
      val ll: Any =
        if (computeLL && residMean != null && llValid) Double.box(llVal) else null
      val maha: Any =
        if (computeMaha && residMean != null)
          Double.box(Distributions.mahalanobis(residMean, zerosM, residCov))
        else null
      val slidOut: Any =
        if (computeSliding && slidLen > 0) Double.box(math.exp(slidingSum())) else null
      val timeVal: Any = if (timeNull) null else Long.box(timeMicros)
      val sysPM: Any = if (emitSystemMatrices) matStruct(rowStatic.processModel.get) else null
      val sysPN: Any = if (emitSystemMatrices) matStruct(rowStatic.processNoise.get) else null
      val sysMM: Any = if (emitSystemMatrices) matStruct(rowStatic.measurementModel.get) else null
      val sysMN: Any = if (emitSystemMatrices) matStruct(rowStatic.measurementNoise.get) else null

      def emit(stepIndex: Int, mn: Array[Double], cv: Array[Double],
          rm: Array[Double], rc: Array[Double], l: Any, mh: Any, sl: Any): Unit = {
        pending(pendingLen) = new GenericInternalRow(Array[Any](
          keys.key, stateIndex, stepIndex, timeVal,
          UnsafeArrayData.fromPrimitiveArray(mn),
          new GenericInternalRow(Array[Any](s, s, UnsafeArrayData.fromPrimitiveArray(cv))),
          if (rm == null) null else UnsafeArrayData.fromPrimitiveArray(rm),
          if (rc == null) null
          else new GenericInternalRow(Array[Any](m, m, UnsafeArrayData.fromPrimitiveArray(rc))),
          l, mh, sl, sysPM, sysPN, sysMM, sysMN))
        pendingLen += 1
      }

      emit(0, mean, cov, residMean, residCov, ll, maha, slidOut)
      if (multiStepPredict > 0) {
        var msMean = mean
        var msCov = cov
        var i = 1
        while (i <= multiStepPredict) {
          val (pmI, pcI) = compute.predict(msMean, msCov, rowStatic)
          msMean = pmI; msCov = pcI
          emit(i, pmI, pcI, null, null, null, null, null)
          i += 1
        }
      }
    }
  }
}

/** Decodes the canonical 11-column Kalman input projection shared by the
  * Kalman and RTS forward kernels: per-row columns where the filter has them
  * and they are non-null, the filter's constants otherwise. */
private[graft] final class KalmanRowInput(
    defaults: KalmanDefaults,
    hasMM: Boolean, hasMN: Boolean, hasPM: Boolean, hasPN: Boolean,
    hasCtl: Boolean, hasCtlFn: Boolean, hasIM: Boolean, hasIC: Boolean)
  extends Serializable {

  // constant system matrices pre-wrapped once (per-row columns override)
  private val defMM = Some(defaults.measurementModel)
  private val defMN = Some(defaults.measurementNoise)
  private val defPM = Some(defaults.processModel)
  private val defPN = Some(defaults.processNoise)

  private def readMat(row: InternalRow, i: Int): DMat = {
    val st = row.getStruct(i, 3)
    DMat(st.getInt(0), st.getInt(1), st.getArray(2).toDoubleArray)
  }

  private def vec(row: InternalRow, i: Int): Option[Array[Double]] =
    if (row.isNullAt(i)) None else Some(row.getArray(i).toDoubleArray)

  def initialMean(row: InternalRow): Array[Double] =
    if (hasIM && !row.isNullAt(9)) row.getArray(9).toDoubleArray else defaults.initialMean

  def initialCovariance(row: InternalRow): Array[Double] =
    if (hasIC && !row.isNullAt(10)) readMat(row, 10).values else defaults.initialCovariance.values

  /** The row as the encoder path's `resolve` sees it: key, time and initial
    * moments left out. */
  def resolve(row: InternalRow): KalmanIn = KalmanIn(null, None, vec(row, 2),
    if (hasMM && !row.isNullAt(3)) Some(readMat(row, 3)) else defMM,
    if (hasMN && !row.isNullAt(4)) Some(readMat(row, 4)) else defMN,
    if (hasPM && !row.isNullAt(5)) Some(readMat(row, 5)) else defPM,
    if (hasPN && !row.isNullAt(6)) Some(readMat(row, 6)) else defPN,
    if (hasCtl) vec(row, 7) else None,
    if (hasCtlFn && !row.isNullAt(8)) Some(readMat(row, 8)) else None,
    None, None)
}

object KalmanRowKernel {
  /** Exactly the schema `StatefulStage.run(...).toDF()` yields on the
    * encoder path (same Product encoder). */
  val outputSchema: StructType = Encoders.product[KalmanOut].schema
}
