package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

/** The per-row MinHash signature ([[TextOps.minhashSignatureOf]] over a
  * [[TextOps.tokenHashSet]]) must equal the aggregate
  * `minhashSignature(tokenHashes(..))` row for row on any corpus, and
  * the index built from it must band exactly the documents the
  * aggregate path bands: null-text documents get no band rows. The
  * generated corpora mix null, empty and whitespace-only texts,
  * repeated tokens, tabs and newlines (which `trim` keeps, so they
  * tokenize to empty-string tokens) and non-ASCII words. */
class SignaturePropertySpec extends SparkSpec {

  private val NumHashes = 8
  private val NumBands = 4

  private val word: Gen[String] = Gen.oneOf(
    Gen.oneOf("alpha", "beta", "gamma", "a", "I", "é", "naïve", "straße",
      "日本語", "数据", "🙂", "e\u0301", "Ω"),
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(6).mkString))
  private val sep: Gen[String] =
    Gen.oneOf(" ", "  ", "\t", "\n", "   ")
  private val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    1 -> Gen.listOf(sep).map(s => Some(s.mkString)),
    6 -> (for {
      ws <- Gen.nonEmptyListOf(Gen.zip(word, sep))
      reps <- Gen.choose(0, 3)
      lead <- Gen.oneOf("", " ", "\t")
    } yield {
      val toks = ws.map { case (w, s) => w + s }
      Some(lead + (toks ++ toks.take(reps)).mkString)
    }))
  private val corpus: Gen[Seq[Option[String]]] =
    Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, text))

  private def sigMap(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r =>
      r.getLong(0) -> (1 to NumHashes).map(r.getLong)).toMap

  private def bandSet(df: DataFrame): Set[(Long, String)] =
    df.select("id", "band_key").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def holds(texts: Seq[Option[String]]): Boolean = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
      .toDF("doc_id", "text")
    val nullIds = texts.zipWithIndex.collect { case (None, i) => i.toLong }
    val agg = TextOps.minhashSignature(
      TextOps.tokenHashes(df, "doc_id", "text"), NumHashes)
    val toks = df.select(col("doc_id").as("id"),
      TextOps.tokenHashSet(col("text")).as("toks"))
    val perRow = toks.where(col("toks").isNotNull).select(col("id") +:
      TextOps.minhashSignatureOf(col("toks"), NumHashes): _*)
    val aggSigs = sigMap(agg)
    val aggBands = bandSet(TextOps.bandKeys(agg, NumBands,
      NumHashes / NumBands))
    val index = TextOps.minhashIndex(df, "doc_id", "text", NumHashes,
      NumBands)
    val repIds = index.members.where(col("id") === col("rid"))
      .collect().map(_.getAs[Long]("id")).toSet
    val indexBands = bandSet(index.repBands)
    graft.engine.Caches.drain(spark)
    aggSigs == sigMap(perRow) &&
      aggSigs.keySet == (texts.indices.map(_.toLong).toSet -- nullIds) &&
      bandSet(TextOps.signatureBands(toks, NumHashes, NumBands)) ==
        aggBands &&
      indexBands == aggBands.filter { case (id, _) => repIds(id) } &&
      !indexBands.exists { case (id, _) => nullIds.contains(id) }
  }

  test("per-row signatures and bands equal the aggregate path " +
      "(ScalaCheck)") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(12)
      .withInitialSeed(20261017L)
    val res = Test.check(params, Prop.forAll(corpus)(holds))
    assert(res.passed, Pretty.pretty(res))
  }
}
