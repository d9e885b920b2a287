package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The r8 [[TextOps.jaccardPairs]] rewrite (hashed shingle sets +
  * zero-alloc sorted merge + the size-ratio prefilter) must
  * emit EXACTLY the pairs and jaccard doubles of the literal
  * string-set formulation it replaced. Randomized corpora are built
  * to hit the edge classes: near-duplicate strings (pairs straddling
  * the threshold), exact duplicates (jaccard 1.0), disjoint docs,
  * short docs below the shingle width, and empty strings. */
class JaccardPairsSpec extends SparkSpec {

  /** The pre-r8 formulation, verbatim. */
  private def referencePairs(df: org.apache.spark.sql.DataFrame,
      n: Int, maxChars: Int, minJaccard: Double) = {
    val a = df.select(col("doc_id").as("id_a"),
      TextOps.ngramShingles(col("text"), n, maxChars).as("sh_a"))
    val b = df.select(col("doc_id").as("id_b"),
      TextOps.ngramShingles(col("text"), n, maxChars).as("sh_b"))
    a.crossJoin(broadcast(b))
      .where(col("id_a") < col("id_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni",
        size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
      .sortBy(t => (t._1, t._2)).toSeq

  test("pair set and jaccard doubles equal the string formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val alphabet = "abcd "
    def doc(): String = {
      val len = rnd.nextInt(120)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString
    }
    val base = Seq.fill(40)(doc())
    // mutate some docs slightly so near-threshold pairs exist
    val docs = (base ++ base.take(15).map { d =>
      if (d.isEmpty) d else d.updated(rnd.nextInt(d.length), 'x')
    } ++ base.take(5) // exact duplicates
      ++ Seq("", "a", "ab")) // below-shingle-width edges
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    for (minJ <- Seq(0.0, 0.3, 0.62, 1.0)) {
      val got = collectSorted(TextOps.jaccardPairs(
        df, "doc_id", "text", n = 3, maxChars = 80, minJaccard = minJ))
      val want = collectSorted(referencePairs(df, 3, 80, minJ))
      assert(got == want,
        s"minJaccard=$minJ got=${got.size} want=${want.size}")
    }
  }

  test("a pair exactly at the threshold survives the size prefilter") {
    import spark.implicits._
    // 1-gram shingles: 7 distinct chars inside 25, so J = 7/25 = min/max,
    // and 0.28 * 25.0 rounds to 7.000000000000001 > 7 — an unslacked
    // `min >= minJaccard * max` guard drops the pair the final
    // `jaccard >= minJaccard` filter keeps
    val minJ = 7.0 / 25
    assert(minJ * 25.0 > 7.0)
    val df = Seq((0L, "abcdefg"), (1L, "abcdefghijklmnopqrstuvwxy"))
      .toDF("doc_id", "text")
    val got = collectSorted(TextOps.jaccardPairs(
      df, "doc_id", "text", n = 1, maxChars = 80, minJaccard = minJ))
    assert(got == collectSorted(referencePairs(df, 1, 80, minJ)))
    assert(got == Seq((0L, 1L, java.lang.Double.doubleToRawLongBits(minJ))))
  }

  test("null text rows never pair (same as the string formulation)") {
    import spark.implicits._
    val df = Seq((0L, Some("hello world")), (1L, Option.empty[String]),
      (2L, Some("hello world"))).toDF("doc_id", "text")
    val got = collectSorted(TextOps.jaccardPairs(
      df, "doc_id", "text", 3, 80, 0.5))
    val want = collectSorted(referencePairs(df, 3, 80, 0.5))
    assert(got == want && got == Seq((0L, 2L,
      java.lang.Double.doubleToRawLongBits(1.0))))
  }
}
