package graft.state

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.linalg.DMat

/**
 * A stateful family's one handle: the row driver of its [[StateSpec]], run
 * by [[StatefulStage.run]] in batch and in streaming, with the schema of
 * the rows it writes (`outputSchema`, stateKey first) and, where the family
 * streams, the row form its state is stored in (`state`). It folds
 * InternalRows with the family's own `update`, `output` and `finish`, the
 * functions the encoder reference ([[StatefulStage.batch]]) runs. `decode`
 * reads an input row into the spec's input; its key and time may be left
 * empty, because the kernel passes the key to the spec and writes the key
 * (ordinal 0) into every row `encode` makes, and the input row's time
 * (input ordinal `timeIn`; for `finish`, the key's last row's) at output
 * ordinal `timeOut`; with `timeOut` None, `encode` writes the output's own
 * time. The batch loop calls `finish` at the end of each key; a stream has
 * no end, so a kernel with no `state` folds batch input only.
 */
class SpecKernel[I <: KeyedIn, S, O](
    spec: StateSpec[I, S, O],
    decode: InternalRow => I,
    encode: O => GenericInternalRow,
    val outputSchema: StructType,
    val state: Option[StateCodec[S]],
    val timeIn: Int = 1,
    timeOut: Option[Int] = Some(2)) extends FoldKernel {

  /** Folds one partition of key-sorted rows, each key from no state, and
    * emits each key's `finish` rows after its last row's. */
  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val keys = new KeyRun
    private var fold: KeyFold = null
    // the first row of a key, held while the previous key's finish rows go out
    private var held: InternalRow = null
    private var ended = false

    def hasNext: Boolean = {
      while ((fold == null || !fold.hasOutput) && !ended) {
        if (held != null) {
          fold = start(keys.key, None)
          fold.step(held)
          held = null
        } else if (rows.hasNext) {
          val row = rows.next()
          if (!keys.starts(row)) fold.step(row)
          else {
            if (fold != null) fold.finish()
            if (fold != null && fold.hasOutput) held = row
            else {
              fold = start(keys.key, None)
              fold.step(row)
            }
          }
        } else {
          if (fold != null) fold.finish()
          ended = true
        }
      }
      fold != null && fold.hasOutput
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      fold.output()
    }
  }

  /** The fold of one key (null for the null key, which the caller copied
    * off the row) from `state`. */
  def start(key: UTF8String, state: Option[S]): KeyFold = new KeyFold(key, state)

  /** One key's fold: [[step]] folds an input row into [[state]], then its
    * output rows are taken with [[output]] while [[hasOutput]]; [[finish]]
    * queues the key's end-of-input rows the same way. */
  final class KeyFold private[SpecKernel] (keyUtf: UTF8String, private var current: Option[S]) {
    private val key = if (keyUtf == null) null else keyUtf.toString
    private var time: Any = null
    private var pending: List[O] = Nil

    def state: Option[S] = current

    def step(row: InternalRow): Unit = {
      val in = decode(row)
      time = if (row.isNullAt(timeIn)) null else row.getLong(timeIn)
      current = spec.update(key, in, current)
      pending = current match {
        case Some(s) => spec.output(key, in, s)
        case None => Nil
      }
    }

    def finish(): Unit = pending = current match {
      case Some(s) => spec.finish(key, s)
      case None => Nil
    }

    def hasOutput: Boolean = pending.nonEmpty

    def output(): InternalRow = {
      val out = encode(pending.head)
      pending = pending.tail
      out.update(0, keyUtf)
      timeOut match {
        case Some(i) => out.update(i, time)
        case None =>
      }
      out
    }
  }
}

/** The key run of a fold over key-sorted rows: [[starts]] is true on the
  * first row of each key (a null key is a key of its own), and [[key]] is
  * that key, copied off the row. */
private[state] final class KeyRun {
  private var started = false
  private var current: UTF8String = null
  def key: UTF8String = current

  def starts(row: InternalRow): Boolean = {
    val k = if (row.isNullAt(0)) null else row.getUTF8String(0)
    val same = started && (if (current == null) k == null else k != null && current.equals(k))
    if (!same) { current = if (k == null) null else k.copy(); started = true }
    !same
  }
}

/** A state's row form: the struct a streaming fold stores a key's state
  * as (the schema of the state case class), and the conversions. */
final case class StateCodec[S](schema: StructType, encode: S => InternalRow, decode: InternalRow => S)

/** Field codecs shared by the families' row `decode`/`encode` functions. */
object RowCodec {
  def row(values: Any*): GenericInternalRow = new GenericInternalRow(values.toArray)

  def vectors(vs: Array[Array[Double]]): GenericArrayData = new GenericArrayData(vs.map(v => vector(v): Any))

  def readVectors(row: InternalRow, i: Int): Array[Array[Double]] = {
    val a = row.getArray(i)
    Array.tabulate(a.numElements())(j => a.getArray(j).toDoubleArray)
  }

  def optVector(row: InternalRow, i: Int): Option[Array[Double]] =
    if (row.isNullAt(i)) None else Some(readVector(row, i))

  def vector(v: Array[Double]): UnsafeArrayData = UnsafeArrayData.fromPrimitiveArray(v)

  /** A `DMat` as its (numRows, numCols, values) struct. */
  def matrix(m: DMat): GenericInternalRow =
    new GenericInternalRow(Array[Any](m.numRows, m.numCols, vector(m.values)))

  def readVector(row: InternalRow, i: Int): Array[Double] = row.getArray(i).toDoubleArray

  /** A timestamp column (microseconds) as the encoders decode it. */
  def readTime(row: InternalRow, i: Int): Option[Timestamp] =
    if (row.isNullAt(i)) None else Some(DateTimeUtils.toJavaTimestamp(row.getLong(i)))

  def time(t: Option[Timestamp]): Any = nullable(t)(DateTimeUtils.fromJavaTimestamp)

  def readMatrix(row: InternalRow, i: Int): DMat = {
    val st = row.getStruct(i, 3)
    DMat(st.getInt(0), st.getInt(1), st.getArray(2).toDoubleArray)
  }

  /** Null for None, `f` of the value otherwise. */
  def nullable[A](o: Option[A])(f: A => Any): Any = o match {
    case Some(a) => f(a)
    case None => null
  }
}
