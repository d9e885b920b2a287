package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** [[FloatDot]] must be VALUE-IDENTICAL (bit-for-bit on the double)
  * to the `aggregate(zip_with(a, b, (x,y) => x*y), 0.0, _+_)` fold it
  * replaced on every cosine path — same accumulation order, same
  * null/length-mismatch poisoning. Pins the r8 swap. */
class FloatDotSpec extends SparkSpec {

  /** The literal higher-order formulation that FloatDot replaces. */
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)

  private def compare(a: Seq[Float], b: Seq[Float]): Unit = {
    import spark.implicits._
    val df = Seq((a, b)).toDF("a", "b")
    val r = df.select(
      functions.float_dot(col("a"), col("b")).as("fd"),
      hofDot(col("a"), col("b")).as("ho")).collect()(0)
    assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch a=$a b=$b")
    if (!r.isNullAt(0))
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"a=$a b=$b fd=${r.getDouble(0)} ho=${r.getDouble(1)}")
  }

  test("bit-identical to the zip_with/aggregate fold on random floats") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 200) {
      val n = rnd.nextInt(64)
      val a = Seq.fill(n)(rnd.nextFloat() * 2f - 1f)
      val b = Seq.fill(n)(rnd.nextFloat() * 2f - 1f)
      compare(a, b)
    }
  }

  test("edges: empty, single, NaN, infinities, denormals") {
    compare(Nil, Nil) // both empty -> 0.0
    compare(Seq(1.5f), Seq(-2.25f))
    compare(Seq(Float.NaN, 1f), Seq(1f, 2f))
    compare(Seq(Float.PositiveInfinity, 1f), Seq(0f, 2f))
    compare(Seq(Float.MinPositiveValue, -0f), Seq(1f, 5f))
  }

  test("length mismatch poisons the fold -> null (both forms)") {
    compare(Seq(1f, 2f), Seq(1f))
    compare(Nil, Seq(3f))
  }

  test("null element -> null (both forms)") {
    import spark.implicits._
    val df = Seq((Seq(Some(1f), None), Seq(Some(2f), Some(3f))))
      .toDF("a", "b")
    val r = df.select(
      functions.float_dot(col("a"), col("b")).as("fd"),
      hofDot(col("a"), col("b")).as("ho")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("null array -> null; double-element arrays supported") {
    import spark.implicits._
    val df = Seq((Option.empty[Seq[Float]], Some(Seq(1f))))
      .toDF("a", "b")
    assert(df.select(functions.float_dot(col("a"), col("b")))
      .collect()(0).isNullAt(0))
    val dd = Seq((Seq(0.5, 2.0), Seq(4.0, 0.25))).toDF("a", "b")
    val r = dd.select(
      functions.float_dot(col("a"), col("b")).as("fd"),
      hofDot(col("a"), col("b")).as("ho")).collect()(0)
    assert(r.getDouble(0) == r.getDouble(1) && r.getDouble(0) == 2.5)
  }

  test("non-float array inputs fail at analysis time") {
    import spark.implicits._
    val df = Seq((Seq(1, 2), Seq(1f, 2f), "x")).toDF("ints", "floats", "s")
    for ((a, b, got) <- Seq(("ints", "floats", "array<int>"),
        ("floats", "s", "string"))) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.select(functions.float_dot(col(a), col(b))))
      assert(e.getMessage.contains(
        s"float_dot expects array<float|double> inputs, got $got"),
        e.getMessage)
    }
  }

  test("interpreted (non-codegen) eval path agrees") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val a = ArrayData.toArrayData(Array(1.0f, 2.0f, 3.0f))
    val b = ArrayData.toArrayData(Array(4.0f, 5.0f, 6.0f))
    assert(FloatDotImpl.compute(a, b, false, false) == 32.0)
    val short = ArrayData.toArrayData(Array(1.0f))
    assert(FloatDotImpl.compute(a, short, false, false) == null)
  }
}
