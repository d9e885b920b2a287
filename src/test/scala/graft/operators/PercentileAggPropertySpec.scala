package graft.operators

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** [[PercentileAgg]] folds a group's value chunks in whatever order and
  * tree shape Spark hands them over (per-row `reduce` inside a task,
  * `merge` across tasks, a serialized buffer in between). For any
  * chunking the result must equal [[NumpyPercentile.compute]] over the
  * sorted concatenation, bit for bit, and must not depend on the chunk
  * order. The generated chunks include empty ones, single values,
  * repeats, negatives and both signed zeros. */
class PercentileAggPropertySpec extends AnyFunSuite {

  private val value: Gen[Float] = Gen.frequency(
    3 -> Gen.choose(-5, 5).map(_.toFloat),
    2 -> Gen.oneOf(0.0f, -0.0f),
    2 -> Gen.choose(-1e6f, 1e6f),
    1 -> Gen.oneOf(Float.MinPositiveValue, -Float.MaxValue, Float.MaxValue,
      1.5f, -2.25f))
  private val chunk: Gen[Array[Float]] = Gen.frequency(
    1 -> Gen.const(Array.empty[Float]),
    1 -> value.map(Array(_)),
    4 -> Gen.choose(2, 40).flatMap(n => Gen.listOfN(n, value))
      .map(_.toArray))
  private val percentiles: Gen[Array[Double]] =
    Gen.listOf(Gen.choose(0.0, 100.0))
      .map(ps => (Seq(0.0, 2.5, 50.0, 100.0) ++ ps).toArray)

  /** Fold `chunks` the way partial + final aggregation would: split
    * into `parts` contiguous runs reduced separately, each buffer
    * round-tripped through its serialized form, then merged. */
  private def fold(agg: PercentileAgg, chunks: Seq[Array[Float]],
      parts: Int): Array[Double] = {
    val size = math.max(1, math.ceil(chunks.size.toDouble / parts).toInt)
    val bufs = chunks.grouped(size).map(_.foldLeft(agg.zero)(agg.reduce))
      .map(roundTrip).toSeq
    agg.finish(bufs.foldLeft(agg.zero)(agg.merge))
  }

  private def roundTrip(b: FloatBuf): FloatBuf = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(b); out.close()
    new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[FloatBuf]
  }

  private def bits(xs: Array[Double]): Seq[Long] =
    if (xs == null) null
    else xs.toSeq.map(java.lang.Double.doubleToRawLongBits)

  test("any chunking equals numpy over the sorted concatenation, in " +
      "any chunk order (ScalaCheck)") {
    val prop = Prop.forAll(Gen.listOf(chunk), percentiles,
        Gen.choose(1, 5), Gen.choose(0L, Long.MaxValue)) {
      (chunks, ps, parts, seed) =>
        val agg = new PercentileAgg(ps)
        val all = chunks.flatten.toArray
        java.util.Arrays.sort(all)
        val expected =
          if (all.isEmpty) null else NumpyPercentile.compute(all, ps)
        val shuffled = new scala.util.Random(seed).shuffle(chunks)
        bits(fold(agg, chunks, parts)) == bits(expected) &&
          bits(fold(agg, shuffled, parts)) == bits(expected) &&
          bits(fold(agg, chunks.reverse, 1)) == bits(expected)
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(300)
      .withInitialSeed(20261020L)
    val res = Test.check(params, prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
