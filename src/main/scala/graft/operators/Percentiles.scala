package graft.operators

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Exact percentiles with numpy's linear-interpolation semantics over
  * float32 values — the reference concatenates per-FID float32 chunks
  * and calls `np.percentile` (`/root/reference/runner.py:823-904`).
  *
  * numpy 1.26 detail replicated here (verified against numpy 1.26.4):
  * `_lerp` computes `diff = b - a` in the array dtype (float32) but
  * the interpolation `a + diff*t` — and the `t >= 0.5` branch
  * `b - diff*(1-t)` — in float64, because the position array `t` is a
  * float64 ndarray which upcasts the elementwise ops. Position is
  * `(p/100) * (n-1)` in float64; result dtype is float64.
  */
object NumpyPercentile {
  def compute(sortedVals: Array[Float], ps: Array[Double]): Array[Double] = {
    val n = sortedVals.length
    val out = new Array[Double](ps.length)
    var k = 0
    while (k < ps.length) {
      out(k) =
        if (n == 0) Double.NaN
        else if (n == 1) sortedVals(0).toDouble
        else {
          val pos = (ps(k) / 100.0) * (n - 1)
          val i = math.floor(pos).toInt
          val t = pos - i
          val a = sortedVals(i)
          val b = sortedVals(math.min(i + 1, n - 1))
          val diff = (b - a).toDouble // float32 subtract, as numpy does
          if (t >= 0.5) b.toDouble - diff * (1.0 - t)
          else a.toDouble + diff * t
        }
      k += 1
    }
    out
  }
}

/** Growable float32 value buffer for [[PercentileAgg]]: appends copy
  * only the incoming chunk (capacity doubles), so folding k chunks of
  * a group costs O(total values), not the O(k × values) of rebuilding
  * an immutable array per input row. Serialized as exactly its live
  * values — the spare capacity never reaches a shuffle. */
final class FloatBuf extends java.io.Externalizable {
  private var a: Array[Float] = FloatBuf.NoValues
  private var n = 0

  def length: Int = n

  def append(xs: Array[Float], len: Int): this.type = {
    if (n + len > a.length)
      a = java.util.Arrays.copyOf(a, math.max(n + len, 2 * a.length))
    System.arraycopy(xs, 0, a, n, len)
    n += len
    this
  }

  def append(xs: Array[Float]): this.type = append(xs, xs.length)
  def append(o: FloatBuf): this.type = append(o.a, o.n)

  /** The live values in float total order (`Arrays.sort`: -0.0
    * before 0.0, NaN last) — independent of the append order. */
  def sorted: Array[Float] = {
    val s = java.util.Arrays.copyOf(a, n)
    java.util.Arrays.sort(s)
    s
  }

  override def writeExternal(out: java.io.ObjectOutput): Unit =
    out.writeObject(java.util.Arrays.copyOf(a, n))
  override def readExternal(in: java.io.ObjectInput): Unit = {
    a = in.readObject().asInstanceOf[Array[Float]]
    n = a.length
  }
}

object FloatBuf {
  private val NoValues = new Array[Float](0)
}

/** Typed aggregator concatenating float32 value chunks and finishing
  * with exact numpy percentiles. Parity mode only — at 100 TB scale
  * the engine's scale path is a sketch (t-digest) behind a flag; this
  * aggregator is the exact oracle-matching path. Returns null (→ SQL
  * NULL percentiles) for empty groups, matching `runner.py:891-904`
  * where groups with no chunks keep their None percentile fields.
  * The buffer is mutated in place and returned (the Aggregator
  * contract allows it); the result depends only on the multiset of
  * values, never on chunk or merge order.
  */
class PercentileAgg(ps: Array[Double])
    extends Aggregator[Array[Float], FloatBuf, Array[Double]] {
  override def zero: FloatBuf = new FloatBuf
  override def reduce(buf: FloatBuf, in: Array[Float]): FloatBuf =
    if (in == null) buf else buf.append(in)
  override def merge(a: FloatBuf, b: FloatBuf): FloatBuf =
    if (a.length == 0) b else a.append(b)
  override def finish(buf: FloatBuf): Array[Double] =
    if (buf.length == 0) null
    else NumpyPercentile.compute(buf.sorted, ps)
  override def bufferEncoder: Encoder[FloatBuf] =
    Encoders.javaSerialization(classOf[FloatBuf])
  override def outputEncoder: Encoder[Array[Double]] =
    ExpressionEncoder[Array[Double]]()
}
