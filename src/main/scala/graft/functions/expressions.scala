package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `np.isclose(a, b)` as a codegen'd Catalyst expression — the
  * reference's nodata predicate (`/root/reference/runner.py:644-647`)
  * is a TOLERANCE compare, not equality:
  * `abs(a - b) <= atol + rtol * abs(b)` with numpy defaults
  * rtol=1e-5, atol=1e-8. NaNs are never close (numpy default).
  */
case class IsCloseTo(left: Expression, right: Expression,
    rtol: Double = 1e-5, atol: Double = 1e-8)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "is_close"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Double]; val y = b.asInstanceOf[Double]
    java.lang.Boolean.valueOf(
      math.abs(x - y) <= atol + rtol * math.abs(y) &&
        !java.lang.Double.isNaN(x) && !java.lang.Double.isNaN(y))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"(java.lang.Math.abs($a - $b) <= $atol + $rtol * java.lang.Math.abs($b))" +
        s" && !java.lang.Double.isNaN($a) && !java.lang.Double.isNaN($b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IsCloseTo = copy(left = newLeft, right = newRight)
}

/** Decode a tile's encoded `bytes` into a float32 pixel array —
  * the Spark-side replacement for the per-block `ReadAsArray`
  * (`/root/reference/runner.py:634-635`). Stays inside whole-stage
  * codegen via a static call. */
case class ImageDecode(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "image_decode"

  override def nullSafeEval(bytes: Any, fmt: Any): Any =
    ImageDecode.decodeInternal(bytes.asInstanceOf[Array[Byte]],
      fmt.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, f) =>
      s"graft.functions.ImageDecode.decodeInternal($b, $f)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ImageDecode = copy(left = newLeft, right = newRight)
}

object ImageDecode {
  /** Catalyst-facing decode: returns ArrayData of floats. Wrapped as
    * UnsafeArrayData straight from the primitive float[] — no per-
    * pixel boxing (a 128² tile would otherwise allocate 16k Float
    * boxes per decode in expression pipelines). */
  def decodeInternal(bytes: Array[Byte], fmt: UTF8String): ArrayData = {
    val px = ImageCodec.decode(bytes, fmt.toString)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(px)
  }
}

/** Morton/Z-order cell id of (lon, lat) at a foldable level — the
  * engine's S2-style cell encoding (SURVEY.md §7) used for range
  * partitioning and manifest pruning. */
case class MortonCellId(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_id"

  override def nullSafeEval(lon: Any, lat: Any, level: Any): Any =
    java.lang.Long.valueOf(graft.geom.Morton.cellId(
      lon.asInstanceOf[Double], lat.asInstanceOf[Double],
      level.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, lvl) =>
      s"graft.geom.Morton.cellId($lon, $lat, $lvl)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): MortonCellId = copy(first = f, second = s, third = t)
}

/** Signed-random-projection bucket of an embedding vector — ALL plane
  * projections computed in ONE traversal of the array (inner loop over
  * planes), emitting the packed sign-bit bucket directly. A
  * composed-Column formulation materializes dim×planes expression
  * nodes (768×32 ≈ 25k — past janino's method limits, degrading to
  * interpreted projection); this is a single codegen-able node whose
  * cost lives in a tight JVM loop. Hyperplane components come from
  * [[SrpBucketImpl.planeComponent]]'s integer lattice (replicable in
  * external SQL). Per plane, elements accumulate in ascending index
  * order in float64 — fold-order identical to the composed form, so
  * buckets are bit-equal. */
case class SrpBucket(child: Expression, dim: Int, numPlanes: Int)
    extends UnaryExpression {
  require(numPlanes > 0 && numPlanes <= 63,
    s"numPlanes must be in [1, 63], got $numPlanes")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "srp_bucket"

  // lazy: child.dataType is only known post-analysis
  private lazy val elemIsDouble = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case t => throw new IllegalArgumentException(
      s"srp_bucket expects array<float|double>, got $t")
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(SrpBucketImpl.compute(
      v.asInstanceOf[ArrayData], dim, numPlanes, elemIsDouble))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.SrpBucketImpl.compute($a, $dim, $numPlanes, " +
        s"$elemIsDouble)")

  override protected def withNewChildInternal(c: Expression): SrpBucket =
    copy(child = c)
}

object SrpBucketImpl {
  /** Deterministic pseudo-random hyperplane component for
    * (plane, dim): a fixed integer lattice mapped to [-1, 1), chosen
    * to be exactly replicable in SQL:
    * ((1 + p*7919 + d*104729) mod 1000003) / 500001.5 - 1. */
  def planeComponent(p: Int, d: Int): Double =
    ((1L + p * 7919L + d * 104729L) % 1000003L) / 500001.5 - 1.0

  /** One pass over the vector; per-plane partial sums accumulate in
    * ascending element order (bit-parity with a per-plane left fold).
    * A vector SHORTER than `dim` fails loudly — silently truncating
    * would put the row in a wrong bucket and silently drop its
    * near-duplicates from every bucket join. (A NULL vector yields a
    * NULL bucket via the expression's null-intolerance — filter nulls
    * upstream if such rows must participate.) */
  def compute(arr: ArrayData, dim: Int, numPlanes: Int,
      elemIsDouble: Boolean): Long = {
    require(arr.numElements() >= dim,
      s"srp_bucket: vector has ${arr.numElements()} elements, needs $dim")
    val n = dim
    val sums = new Array[Double](numPlanes)
    var d = 0
    while (d < n) {
      val v = if (elemIsDouble) arr.getDouble(d) else arr.getFloat(d).toDouble
      var p = 0
      while (p < numPlanes) {
        sums(p) += v * planeComponent(p, d)
        p += 1
      }
      d += 1
    }
    var bucket = 0L
    var p = 0
    while (p < numPlanes) {
      if (sums(p) > 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }
}

/** Serializable IVF coarse-quantizer index: the K×dim centroid matrix
  * plus ids, shipped to executors ONCE as a codegen reference object —
  * not as K×dim plan literals. The literal-array formulation
  * (`array(struct(dist2(vec, lit(cv)), cid)…)`) embeds every centroid
  * component in the plan/codegen source, which explodes at production
  * list counts (K ≈ √N ≈ 10^4–10^5); this object keeps the plan at
  * ONE node for any K, with the argmin in a tight JVM loop.
  *
  * Distance fold order matches the composed `dist2` form exactly
  * (float64 accumulation in ascending element order), and ties break
  * (distance asc, centroid id asc) like the lexicographic struct
  * ordering — results are bit-identical to the literal formulation.
  */
final class IvfCentroids(val ids: Array[Long],
    vecsF: Array[Array[Float]]) extends Serializable {
  require(ids.nonEmpty && ids.length == vecsF.length,
    "ids and centroid vectors must align and be non-empty")
  require(ids.sameElements(ids.sorted), "centroid ids must be ascending")
  val dim: Int = vecsF(0).length
  require(vecsF.forall(_.length == dim),
    "all centroid vectors must share one dimension")
  // float32 components widened once — identical values to the
  // cast("double") the composed Column form applies per element
  private val vecs: Array[Array[Double]] =
    vecsF.map(_.map(_.toDouble))

  def numCentroids: Int = ids.length

  /** Ids of the `n` nearest centroids by L2², (distance, id) asc. */
  def nearest(arr: ArrayData, n: Int, elemIsDouble: Boolean): ArrayData = {
    require(arr.numElements() == dim,
      s"ivf_nearest: vector has ${arr.numElements()} elements, " +
        s"centroids have $dim")
    val k = ids.length
    val dists = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cv = vecs(c)
      var acc = 0.0
      var d = 0
      while (d < dim) {
        val x = if (elemIsDouble) arr.getDouble(d)
          else arr.getFloat(d).toDouble
        val diff = x - cv(d)
        acc += diff * diff
        d += 1
      }
      dists(c) = acc
      c += 1
    }
    val m = math.min(n, k)
    val out = new Array[Long](m)
    if (m == 1) {
      var best = 0
      var i = 1
      while (i < k) {
        if (dists(i) < dists(best)) best = i // ids ascending: ties keep first
        i += 1
      }
      out(0) = ids(best)
    } else {
      // distance pass is O(K·dim); a full O(K log K) index sort is
      // noise next to it at any realistic K
      val idx = Array.range(0, k).sortBy(i => (dists(i), ids(i)))
      var i = 0
      while (i < m) { out(i) = ids(idx(i)); i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** The `n` nearest IVF centroid ids of an embedding vector, ordered
  * (L2² asc, id asc) — n=1 is list ASSIGNMENT, n=nProbe is query
  * PROBING. One codegen node at any centroid count: the matrix rides
  * along as a reference object ([[IvfCentroids]]), never as plan
  * literals. */
case class IvfNearestCentroids(child: Expression, index: IvfCentroids,
    n: Int) extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ivf_nearest"

  // lazy: child.dataType is only known post-analysis
  private lazy val elemIsDouble = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case t => throw new IllegalArgumentException(
      s"ivf_nearest expects array<float|double>, got $t")
  }

  override def nullSafeEval(v: Any): Any =
    index.nearest(v.asInstanceOf[ArrayData], n, elemIsDouble)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfIndex", index,
      classOf[IvfCentroids].getName)
    defineCodeGen(ctx, ev, a => s"$ref.nearest($a, $n, $elemIsDouble)")
  }

  override protected def withNewChildInternal(c: Expression)
      : IvfNearestCentroids = copy(child = c)
}

/** Rabin–Karp ROLLING polynomial hashes of every k-gram of a string —
  * the gram-hashing scale path for document fingerprinting: one
  * O(bytes) pass per row inside whole-stage codegen, instead of one
  * md5 over each of the ~|text| grams (the md5 recipe stays as the
  * SQL-replicable parity path; this is what a 100 TB winnowing pass
  * runs). Hash domain is the UTF-8 BYTE sequence:
  * h_i = Σ_{j<k} byte_{i+j} · B^{k−1−j} mod p (B=257, p=2³¹−1),
  * maintained by the rolling recurrence h_{i+1} = (h_i − byte_i·B^{k−1})
  * · B + byte_{i+k−1+1} mod p. For ASCII text, bytes coincide with
  * code points, so an external SQL engine replicates the Σ form with
  * ord(); public algorithm: Karp–Rabin, IBM J. Res. Dev. 31(2), 1987. */
case class GramHashes(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, s"k must be positive, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gram_hashes"

  override def nullSafeEval(v: Any): Any =
    GramHashesImpl.compute(v.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.GramHashesImpl.compute($a, $k)")

  override protected def withNewChildInternal(c: Expression): GramHashes =
    copy(child = c)
}

object GramHashesImpl {
  val P = 2147483647L // 2^31 − 1, shared with TextOps.MinHashP
  val B = 257L

  /** B^e mod P (tiny e — used for the SQL-oracle literals too). */
  def powB(e: Int): Long = {
    var r = 1L
    var i = 0
    while (i < e) { r = (r * B) % P; i += 1 }
    r
  }

  def compute(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length - k + 1
    if (n <= 0)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val bk1 = powB(k - 1)
    val out = new Array[Long](n)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * B + (bytes(i) & 0xff)) % P; i += 1 }
    out(0) = h
    var p = 1
    while (p < n) {
      val drop = ((bytes(p - 1) & 0xff) * bk1) % P
      // (h − drop + P) < 2^32; ·B < 2^41; + byte keeps well inside long
      h = ((h - drop + P) * B + (bytes(p + k - 1) & 0xff)) % P
      out(p) = h
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Winnowing fingerprint SELECTION over a gram-hash array (the SWA
  * window-min step): within every window of `w` consecutive hashes
  * select the minimum, rightmost position on ties; emit the distinct
  * selected (pos, fp) pairs. One O(n) pass per row with a monotonic
  * deque — composed with [[GramHashes]] the whole fingerprint stage
  * is two codegen nodes and linear in document bytes. (The
  * higher-order-function formulation — transform/slice/array_min
  * lambdas — re-evaluates the hash array per element because Spark
  * does not hoist lambda-invariant subtrees: measured near-quadratic,
  * 11.8× slower at 4× doc length. This expression IS the scale
  * path.) Selection positions are non-decreasing as the window
  * slides, so suppressing repeats of the last selection equals a
  * global distinct. */
case class WinnowSelect(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, s"w must be positive, got $w")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("fp", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_select"

  override def nullSafeEval(v: Any): Any =
    WinnowSelectImpl.compute(v.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.WinnowSelectImpl.compute($a, $w)")

  override protected def withNewChildInternal(c: Expression): WinnowSelect =
    copy(child = c)
}

object WinnowSelectImpl {
  /** Sliding-window minimum with rightmost-tie rule: pop the deque's
    * back while its hash is ≥ the incoming one, so among equal minima
    * the NEWEST index survives (= min of struct(h, −pos)). Positions
    * in the result are 1-based, matching the md5 winnowing path. */
  def compute(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val idx = new Array[Int](n)
    var head = 0
    var tail = 0
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var lastSel = -1
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      while (tail > head && hs.getLong(idx(tail - 1)) >= h) tail -= 1
      idx(tail) = i
      tail += 1
      if (idx(head) <= i - w) head += 1
      if (i >= w - 1) {
        val sel = idx(head)
        if (sel != lastSel) {
          out += InternalRow(sel + 1, hs.getLong(sel))
          lastSel = sel
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Intersection-cardinality of two SORTED, DISTINCT `array<long>`
  * columns — a linear two-pointer merge in one codegen call, replacing
  * `size(array_intersect(a, b))` on the dedup verify path. Spark's
  * `ArrayIntersect.evalIntersect` builds an `OpenHashSet[Any]` per ROW
  * and boxes every element; at ~5M candidate pairs × ~44 longs that is
  * ~2·10⁸ boxed Longs of pure garbage per query (the q_minhash_lsh
  * GC driver). This merge allocates NOTHING.
  *
  * PRECONDITION (caller-owned, same contract [[graft.operators
  * .TextOps.tokenHashSet]] documents): both arrays ascending-sorted
  * with distinct elements. On such inputs the count equals
  * `size(array_intersect(a, b))` exactly (spec-pinned). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.valueOf(SortedIntersectCountImpl.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedIntersectCountImpl.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCountImpl {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Dot product of two numeric arrays in float64 — the
  * similarity-scoring primitive, replacing
  * `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, _+_)` on every
  * cosine path. The higher-order form is codegen'd but MATERIALIZES
  * the zipped product array per evaluation (768 boxed-slot doubles
  * per candidate pair — the allocation driver of the SRP/embedding
  * pair queries); this is one zero-allocation loop.
  *
  * Value semantics are IDENTICAL to the higher-order form
  * (spec-pinned in FloatDotSpec): products accumulate in ascending
  * index order starting from 0.0 (same float64 rounding), length
  * mismatch → null (zip_with pads the shorter side with null, the
  * null product poisons the fold), any null element → null, both
  * empty → 0.0. Inputs other than `array<float|double>` fail at
  * analysis time (no implicit widening). */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "float_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).map(_.dataType).find {
      case ArrayType(DoubleType | FloatType, _) => false
      case _ => true
    } match {
      case Some(t) => TypeCheckResult.TypeCheckFailure(
        s"float_dot expects array<float|double> inputs, got ${t.simpleString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  // only called on analyzed (type-checked) children
  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  // lazy: child dataTypes are only known post-analysis
  private lazy val leftIsDouble = elemIsDouble(left)
  private lazy val rightIsDouble = elemIsDouble(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    FloatDotImpl.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], leftIsDouble, rightIsDouble)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dotRes")
      s"""
         |java.lang.Double $tmp = graft.functions.FloatDotImpl.compute(
         |  $a, $b, $leftIsDouble, $rightIsDouble);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): FloatDot =
    copy(left = newLeft, right = newRight)
}

object FloatDotImpl {
  /** Null (boxed) on length mismatch or any null element — exactly
    * the poisoned-fold result of the zip_with formulation. */
  def compute(a: ArrayData, b: ArrayData, aIsDouble: Boolean,
      bIsDouble: Boolean): java.lang.Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na != nb) return null
    var acc = 0.0
    var i = 0
    while (i < na) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aIsDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bIsDouble) b.getDouble(i) else b.getFloat(i).toDouble
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** XXH64 of a binary column (the tile `phash` generator). */
case class XxHash64Bytes(child: Expression, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "xxh64"

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(XXHash64.hash(v.asInstanceOf[Array[Byte]], seed))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.functions.XXHash64.hash($b, ${seed}L)")

  override protected def withNewChildInternal(c: Expression): XxHash64Bytes =
    copy(child = c)
}

/** Column-API façade over the engine's custom Catalyst expressions. */
object functions {
  private def col(e: Expression): Column = GraftColumnBridge.column(e)
  private def expr(c: Column): Expression = GraftColumnBridge.expression(c)

  /** numpy-semantics tolerance compare (nodata predicate). */
  def is_close(a: Column, b: Column): Column =
    col(IsCloseTo(expr(a.cast("double")), expr(b.cast("double"))))
  def is_close(a: Column, b: Column, rtol: Double, atol: Double): Column =
    col(IsCloseTo(expr(a.cast("double")), expr(b.cast("double")), rtol, atol))

  /** Decode `(bytes, fmt)` to `array<float>` pixels. */
  def image_decode(bytes: Column, fmt: Column): Column =
    col(ImageDecode(expr(bytes), expr(fmt)))

  /** Morton cell id at `level` for (lon, lat). */
  def cell_id(lon: Column, lat: Column, level: Column): Column =
    col(MortonCellId(expr(lon.cast("double")), expr(lat.cast("double")),
      expr(level.cast("int"))))

  /** XXH64 content hash of a binary column. */
  def xxh64(bytes: Column, seed: Long = 0L): Column =
    col(XxHash64Bytes(expr(bytes), seed))

  /** SRP sign-bit bucket over the first `dim` elements of an
    * embedding array, `numPlanes` hyperplanes — single-pass, one
    * expression node regardless of dim×planes. */
  def srp_bucket(vec: Column, dim: Int, numPlanes: Int): Column =
    col(SrpBucket(expr(vec), dim, numPlanes))

  /** The `n` nearest centroid ids of `vec` (L2² asc, id asc) against
    * a centroid index shipped as ONE reference object — plan size
    * independent of centroid count. */
  def ivf_nearest(vec: Column, index: IvfCentroids, n: Int): Column =
    col(IvfNearestCentroids(expr(vec), index, n))

  /** Rolling Rabin–Karp hashes of every k-gram (UTF-8 bytes) — one
    * O(bytes) codegen pass per row. */
  def gram_hashes(text: Column, k: Int): Column =
    col(GramHashes(expr(text), k))

  /** Winnowing window-min selection (rightmost ties) over a gram-hash
    * array — array<struct<pos,fp>> in one O(n) pass. */
  def winnow_select(hashes: Column, w: Int): Column =
    col(WinnowSelect(expr(hashes), w))

  /** `size(array_intersect(a, b))` for SORTED DISTINCT `array<long>`
    * inputs — zero-allocation linear merge. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    col(SortedIntersectCount(expr(a), expr(b)))

  /** Σ aᵢ·bᵢ in float64 over two `array<float|double>` columns —
    * zero-allocation, value-identical to the zip_with/aggregate fold. */
  def float_dot(a: Column, b: Column): Column =
    col(FloatDot(expr(a), expr(b)))
}
