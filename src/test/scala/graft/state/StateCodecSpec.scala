package graft.state

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.{KState, KalmanRowKernel, LmsRowKernel, LmsState, RlsRowKernel, RlsState}
import graft.linalg.DMat
import graft.mixture.{MixState, MixtureRowKernel}
import graft.smoother.{FiltRecord, FwdState, RtsForwardRowKernel, RtsLagRowKernel}

/** The window state as a product, the form Spark's encoder writes it in. */
case class LagWindow(records: List[FiltRecord])

/**
 * Each stored state's hand-written row codec against Spark's own product
 * encoder of the state's case class: the same field names and types, the
 * same bytes for a sample state, and a decode that reads every field from
 * the ordinal it was written at (re-encoding the decoded encoder row gives
 * the encoder row back). A field added to or moved in a state case class
 * without its codec fails here, though a codec that agrees with itself
 * would pass every parity test.
 */
class StateCodecSpec extends AnyFunSuite {

  private var next = 0.0
  /** `n` values no other call returns, so a field read at the wrong
    * ordinal cannot come out equal. */
  private def v(n: Int): Array[Double] = Array.tabulate(n) { _ => next += 1.25; next }

  private def check[S, T](codec: StateCodec[S], state: S, encoder: ExpressionEncoder[T], encoded: T): Unit = {
    assert(codec.schema.catalogString == encoder.schema.catalogString)
    val want = UnsafeProjection.create(encoder.schema)(encoder.createSerializer()(encoded)).copy()
    val rows = UnsafeProjection.create(codec.schema)
    assert(rows(codec.encode(state)) == want, "encode differs from the product encoder")
    assert(rows(codec.encode(codec.decode(want))) == want, "decode reads a field from the wrong ordinal")
  }

  private def same[S](codec: StateCodec[S], state: S, encoder: ExpressionEncoder[S]): Unit =
    check(codec, state, encoder, state)

  test("Kalman state codec, optional fields set and unset") {
    same(KalmanRowKernel.state, KState(7L, v(2), v(4), Some(v(1)), Some(v(1)), v(3).toList, Some(v(4))),
      ExpressionEncoder[KState]())
    same(KalmanRowKernel.state, KState(8L, v(2), v(4), None, None, Nil, None), ExpressionEncoder[KState]())
  }

  test("RLS and LMS state codecs") {
    same(RlsRowKernel.state, RlsState(3L, v(2), v(4)), ExpressionEncoder[RlsState]())
    same(LmsRowKernel.state, LmsState(4L, v(3)), ExpressionEncoder[LmsState]())
  }

  test("mixture state codec") {
    same(MixtureRowKernel.state, MixState(5L, List(v(2), v(2)), v(3), Array(v(2), v(2), v(2)), v(3),
      Array(v(4), v(4), v(4)), 6.5), ExpressionEncoder[MixState]())
  }

  private def record(i: Long, t: Option[Timestamp]) =
    FiltRecord(null, i, t, v(2), v(4), v(2), v(4), DMat(2, 2, v(4)))

  test("fixed-lag codecs: the forward state's FwdState half, the window with each record's time") {
    val fwd = FwdState(9L, v(2), v(4))
    check(RtsForwardRowKernel.state, (fwd, record(9L, None)), ExpressionEncoder[FwdState](), fwd)
    val window = List(record(3L, Some(new Timestamp(1700000000123L))), record(2L, None),
      record(1L, Some(new Timestamp(1700000000000L))))
    check(RtsLagRowKernel.state, window, ExpressionEncoder[LagWindow](), LagWindow(window))
  }
}
