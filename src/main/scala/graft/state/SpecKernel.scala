package graft.state

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.linalg.DMat

/**
 * The batch row driver of a [[StateSpec]]: folds one partition of
 * key-sorted InternalRows with the family's own `update` and `output`, the
 * functions the encoder reference ([[StatefulStage.batch]]) and the
 * streaming path run. `decode` reads an input row into the spec's input;
 * its key and time may be left empty, because the driver passes the key to
 * the spec and writes the key (ordinal 0) and the input row's time (input
 * ordinal `timeIn`, output ordinal `timeOut`) into every row `encode`
 * makes. The driver never calls `finish`, so a spec that emits at the end
 * of a key (`BatchEmSpec`) stays on [[StatefulStage.batch]].
 */
class SpecKernel[I <: KeyedIn, S, O](
    spec: StateSpec[I, S, O],
    decode: InternalRow => I,
    encode: O => GenericInternalRow,
    timeIn: Int = 1,
    timeOut: Int = 2) extends FoldKernel {

  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val keys = new KeyRun
    private var key: String = null
    private var state: Option[S] = None
    private var time: Any = null
    private var pending: List[O] = Nil

    def hasNext: Boolean = {
      while (pending.isEmpty && rows.hasNext) fold(rows.next())
      pending.nonEmpty
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val out = encode(pending.head)
      pending = pending.tail
      out.update(0, keys.key)
      out.update(timeOut, time)
      out
    }

    private def fold(row: InternalRow): Unit = {
      if (keys.starts(row)) {
        key = if (keys.key == null) null else keys.key.toString
        state = None
      }
      val in = decode(row)
      time = if (row.isNullAt(timeIn)) null else row.getLong(timeIn)
      state = spec.update(key, in, state)
      pending = state match {
        case Some(s) => spec.output(key, in, s)
        case None => Nil
      }
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

/** Field codecs shared by the families' row `decode`/`encode` functions. */
object RowCodec {
  def vector(v: Array[Double]): UnsafeArrayData = UnsafeArrayData.fromPrimitiveArray(v)

  /** A `DMat` as its (numRows, numCols, values) struct. */
  def matrix(m: DMat): GenericInternalRow =
    new GenericInternalRow(Array[Any](m.numRows, m.numCols, vector(m.values)))

  def readVector(row: InternalRow, i: Int): Array[Double] = row.getArray(i).toDoubleArray

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
