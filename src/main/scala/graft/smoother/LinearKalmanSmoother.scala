package graft.smoother

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.filter.{KalmanIn, LinearKalmanCompute, LinearKalmanFilter}
import graft.linalg.{DMat, Dense}
import graft.state.{EventTimeout, KeyedIn, StateSpec, StatefulStage}

/** Forward-pass record: filtered + predicted moments and the process model,
  * everything the RTS backward recursion needs. */
case class FiltRecord(
    stateKey: String,
    stateIndex: Long,
    eventTime: Option[Timestamp],
    filtMean: Array[Double],
    filtCov: Array[Double],
    predMean: Array[Double],
    predCov: Array[Double],
    processModel: DMat) extends KeyedIn

case class SmoothedOut(
    stateKey: String,
    stateIndex: Long,
    eventTime: Option[Timestamp],
    stateMean: Array[Double],
    stateCovariance: DMat)

/** Fixed-lag output: one row per (measurement, window position). */
case class RtsLagOut(
    stateKey: String,
    stateIndex: Long,
    stepIndex: Long,
    eventTime: Option[Timestamp],
    stateMean: Array[Double],
    stateCovariance: DMat)

/**
 * Fixed-lag RTS: keeps the last `lag` forward-pass records per key and
 * replays the backward recursion over the window on every step (streaming-
 * friendly: state is bounded at lag x stateSize², mirroring the reference's
 * design, /root/reference/src/main/scala/com/github/ozancicek/artan/ml/smoother/LinearKalmanSmoother.scala:96).
 * Emits `lag` smoothed estimates per measurement once the window fills.
 */
private[smoother] class FixedLagSpec(lag: Int, s: Int)
  extends StateSpec[FiltRecord, List[FiltRecord], RtsLagOut] {

  def update(key: String, row: FiltRecord, state: Option[List[FiltRecord]]): Option[List[FiltRecord]] = {
    val cur = state.getOrElse(Nil)
    Some((row :: cur).take(lag)) // newest first
  }

  def output(key: String, row: FiltRecord, state: List[FiltRecord]): List[RtsLagOut] = {
    if (state.size < lag) Nil
    else {
      // newest first: smoothed(newest) = filtered; then fold backwards
      val newest = state.head
      var sm = newest.filtMean
      var sc = newest.filtCov
      var newer = newest
      var outs = List(RtsLagOut(key, newest.stateIndex, (lag - 1).toLong, newest.eventTime,
        sm, DMat(s, s, sc)))
      var rest = state.tail
      var step = lag - 2
      while (rest.nonEmpty) {
        val r = rest.head
        val (m, c) = BackwardSpec.step(s, r, newer, sm, sc)
        outs = RtsLagOut(key, r.stateIndex, step.toLong, r.eventTime, m, DMat(s, s, c)) :: outs
        sm = m; sc = c; newer = r
        rest = rest.tail
        step -= 1
      }
      outs
    }
  }
}

/** A record with its smoothed moments: the backward pass's state. */
private[smoother] case class Smoothed(record: FiltRecord, mean: Array[Double], cov: Array[Double])

/** The RTS backward pass over one key's forward records, newest first: the
  * newest record's smoothed moments are its filtered ones, each older one
  * is [[BackwardSpec.step]] from its successor. */
private[smoother] class BackwardSpec(s: Int) extends StateSpec[FiltRecord, Smoothed, SmoothedOut] {

  def update(key: String, row: FiltRecord, state: Option[Smoothed]): Option[Smoothed] = Some(state match {
    case None => Smoothed(row, row.filtMean, row.filtCov)
    case Some(newer) =>
      val (m, c) = BackwardSpec.step(s, row, newer.record, newer.mean, newer.cov)
      Smoothed(row, m, c)
  })

  def output(key: String, row: FiltRecord, st: Smoothed): List[SmoothedOut] =
    List(SmoothedOut(key, row.stateIndex, row.eventTime, st.mean, DMat(s, s, st.cov)))
}

private[smoother] object BackwardSpec {
  /** One RTS backward step: the smoothed (mean, covariance) of `r`, given
    * its successor `newer` and the successor's smoothed moments (sm, sc). */
  def step(s: Int, r: FiltRecord, newer: FiltRecord, sm: Array[Double], sc: Array[Double])
    : (Array[Double], Array[Double]) = {
    val ft = Dense.matmulNT(r.filtCov, newer.processModel.values, s, s, s)
    val pInv = Dense.inverse(newer.predCov.clone(), s)
    val g = Dense.matmul(ft, pInv, s, s, s)
    val dm = Dense.sub(sm, newer.predMean)
    val m = r.filtMean.clone()
    Dense.axpy(1.0, Dense.matvec(g, dm, s, s), m)
    val dc = Dense.sub(sc, newer.predCov)
    val gdc = Dense.matmul(g, dc, s, s, s)
    val gdcgt = Dense.matmulNT(gdc, g, s, s, s)
    (m, Dense.symmetrize(Dense.add(r.filtCov, gdcgt), s))
  }
}

private[graft] case class FwdState(
    stateIndex: Long, mean: Array[Double], cov: Array[Double]) extends Serializable

/** LKF forward pass that keeps the predicted moments alongside the filtered
  * ones (the plain filter discards them). */
private[smoother] class ForwardSpec(compute: LinearKalmanCompute, defaults: graft.filter.KalmanDefaults)
  extends StateSpec[KalmanIn, (FwdState, FiltRecord), FiltRecord] {

  def update(key: String, rawRow: KalmanIn, state: Option[(FwdState, FiltRecord)]): Option[(FwdState, FiltRecord)] = {
    val row = defaults.resolve(rawRow)
    val cur = state.map(_._1).getOrElse(FwdState(0L,
      rawRow.initialMean.getOrElse(defaults.initialMean),
      rawRow.initialCovariance.map(_.values).getOrElse(defaults.initialCovariance.values)))
    val (pm, pc) = compute.predict(cur.mean, cur.cov, row)
    val (em, ec) = row.measurement match {
      case Some(_) =>
        val (a, b, _, _) = compute.estimate(pm, pc, row)
        (a, b)
      case None => (pm, pc)
    }
    val rec = FiltRecord(key, cur.stateIndex + 1, row.eventTime, em, ec, pm, pc, row.processModel.get)
    Some((FwdState(cur.stateIndex + 1, em, ec), rec))
  }

  def output(key: String, row: KalmanIn, s: (FwdState, FiltRecord)): List[FiltRecord] = List(s._2)
}

/**
 * Rauch-Tung-Striebel smoother over a linear Kalman forward pass:
 *
 *   G_k   = P_k^f F_{k+1}^T (P_{k+1}^pred)^-1
 *   m_k^s = m_k^f + G_k (m_{k+1}^s - m_{k+1}^pred)
 *   P_k^s = P_k^f + G_k (P_{k+1}^s - P_{k+1}^pred) G_k^T
 *
 * Physical plan: forward pass = one shuffle on stateKey + in-order scan;
 * backward pass = second sort of the SAME partitioning in descending
 * stateIndex + linear scan. No per-key materialization of history beyond
 * Spark's external sort, so billion-row keys smooth without OOM.
 *
 * Capability parity: /root/reference/src/main/scala/com/github/ozancicek/artan/ml/smoother/LinearKalmanSmoother.scala:1.
 */
class LinearKalmanSmoother(stateSize: Int, measurementSize: Int)
    extends LinearKalmanFilter(stateSize, measurementSize) {

  private var fixedLag: Option[Int] = None

  /** Switch to fixed-lag smoothing (bounded state; streaming-capable). */
  def setFixedLag(v: Int): this.type = { require(v > 1); fixedLag = Some(v); this }

  /** Fixed-lag smoothing: the forward fold chained into a bounded-window
    * backward replay ([[RtsLagRowKernel]]), each a row fold in batch and in
    * streaming, where the states are the forward `FwdState` and the lag
    * window; both stages run on the estimator's [[StageConf]], the lag
    * stage's watermark on the forward records' times. The window takes
    * each key's forward records in the order the forward fold made them,
    * stateIndex order: records of tied or null times have no other order
    * that the backward step can pair. A stream cannot take an event-time
    * state timeout: Spark rejects one on a stage that feeds another, as the
    * forward stage feeds the lag stage. */
  def smoothFixedLag(df: DataFrame, lag: Int): DataFrame = {
    require(!df.isStreaming || stageConf.timeoutMode != EventTimeout,
      "fixed-lag smoothing of a stream cannot use the event-time state timeout (setStateTimeoutMode(\"event\")): " +
        "Spark rejects an event-time timeout on the forward stage, which feeds the lag stage")
    val fwd = StatefulStage.run(kalmanProjection(df), stageConf, forwardKernel)
    userColumns(StatefulStage.run(fwd, stageConf, new RtsLagRowKernel(lag, stateSize), Seq("stateIndex")))
  }

  /** Encoder-path fixed-lag smoothing kept as the pin-spec reference: the
    * forward pass, then [[FixedLagSpec]] over each key's records in
    * stateIndex order. */
  private[graft] def smoothFixedLagEncoderBatch(df: DataFrame, lag: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fwdSpec = new ForwardSpec(new LinearKalmanCompute(stateSize, measurementSize, 1.0), defaults)
    val fwd = StatefulStage.batch(toKalmanInput(df), fwdSpec, stageConf)
    userColumns(StatefulStage.batch(fwd, new FixedLagSpec(lag, stateSize), stageConf, Seq(col("stateIndex"))).toDF())
  }

  private def forwardKernel = new RtsForwardRowKernel(
    new LinearKalmanCompute(stateSize, measurementSize, 1.0), defaults,
    hasMM = measurementModelCol.isDefined,
    hasMN = measurementNoiseCol.isDefined,
    hasPM = processModelCol.isDefined,
    hasPN = processNoiseCol.isDefined,
    hasCtl = controlCol.isDefined,
    hasCtlFn = controlFunctionCol.isDefined,
    hasIM = initialStateDistributionCol.isDefined || initialStateMeanCol.isDefined,
    hasIC = initialStateDistributionCol.isDefined || initialStateCovarianceCol.isDefined)

  /** Full-pass RTS at InternalRow level: the forward fold (one exchange on
    * stateKey + sort), then the backward fold over its output ordered
    * (stateKey, stateIndex desc). The forward fold's output keeps its key
    * partitioning, so the planner adds only a local sort for the backward
    * pass: one exchange where the encoder path has two. Bit-exact vs
    * [[smoothEncoderBatch]] (KalmanKernelPinSpec). A stream has no last
    * row to start the backward pass from: it needs [[setFixedLag]]. */
  def smooth(df: DataFrame): DataFrame = {
    require(!df.isStreaming,
      "full-pass RTS smoothing needs a batch DataFrame; use setFixedLag to smooth a stream")
    val fwd = StatefulStage.run(kalmanProjection(df), stageConf, forwardKernel)
    userColumns(StatefulStage.fold(fwd, Seq(col("stateKey"), col("stateIndex").desc),
      new RtsBackwardRowKernel(stateSize)))
  }

  /** Encoder-path RTS kept as the pin-spec reference (pre-kernel plan:
    * two exchanges, Dataset-encoder boundary on both passes): the forward
    * pass, then [[BackwardSpec]] over each key's records newest first. */
  private[graft] def smoothEncoderBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fwdSpec = new ForwardSpec(new LinearKalmanCompute(stateSize, measurementSize, 1.0), defaults)
    val fwd = StatefulStage.batch(toKalmanInput(df), fwdSpec, stageConf)
    userColumns(StatefulStage.batch(fwd, new BackwardSpec(stateSize), stageConf, Seq(col("stateIndex").desc)).toDF())
  }

  /** Smoothing replaces filtering as this transformer's output: full-pass
    * RTS by default (batch), fixed-lag when setFixedLag was called. */
  override def transform(df: DataFrame): DataFrame = fixedLag match {
    case Some(lag) => smoothFixedLag(df, lag)
    case None => smooth(df)
  }
}
