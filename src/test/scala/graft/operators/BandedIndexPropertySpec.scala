package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

/** The grouped index lifecycle ([[BandedIndex]]) on generated corpora,
  * for both grouped modalities: an incremental dedup equals the full
  * dedup of corpus ∪ batch filtered to batch-touching pairs (each pair
  * once), an appended index equals the from-scratch index of corpus ∪
  * batch, and a takedown equals the from-scratch index of the reduced
  * corpus, frame for frame. Corpora hold exact-duplicate clusters
  * (MinHash: equal token sets in either word order; dHash: repeated
  * hash values), near duplicates and null texts; batches copy corpus
  * content (groups the batch gains members in); takedowns hit
  * representatives, other members and unknown ids. */
class BandedIndexPropertySpec extends SparkSpec {
  import spark.implicits._

  /** `df`'s rows as a multiset: a repeated row counts. */
  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: Seq[_] => a.toList
      case r: Row => r.toSeq.toList
      case x => x
    }).groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def pairList(df: DataFrame): Seq[(Any, Any, BigDecimal)] =
    df.collect().map(r => (r.get(0), r.get(1),
      BigDecimal(r.getAs[Number](2).doubleValue).setScale(9,
        BigDecimal.RoundingMode.HALF_EVEN))).toSeq

  /** An incremental result equal, as a set and with no repeats, to the
    * full result's batch-touching pairs (the full result repeat-free
    * too). */
  private def sameTouching(inc: DataFrame, full: DataFrame,
      batch: Set[Any]): Boolean = {
    val i = pairList(inc)
    val f = pairList(full)
    i.distinct.size == i.size && f.distinct.size == f.size &&
      i.toSet == f.filter(p => batch(p._1) || batch(p._2)).toSet
  }

  private def check[T](gen: Gen[T], cases: Int)(holds: T => Boolean) = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(cases)
      .withInitialSeed(20261020L)
    val res = Test.check(params, Prop.forAll(gen)(holds))
    assert(res.passed, Pretty.pretty(res))
  }

  /** corpus, batch (drawn half from the corpus), takedown mask over
    * corpus ++ batch, and whether the takedown names an unknown id. */
  private def cases[T](item: Gen[T]): Gen[(List[T], List[T], List[Boolean], Boolean)] =
    for {
      corpus <- Gen.choose(3, 10).flatMap(Gen.listOfN(_, item))
      batch <- Gen.choose(1, 5).flatMap(Gen.listOfN(_,
        Gen.frequency(1 -> Gen.oneOf(corpus), 1 -> item)))
      mask <- Gen.listOfN(corpus.size + batch.size,
        Gen.frequency(2 -> false, 1 -> true))
      unknown <- Gen.oneOf(true, false)
    } yield (corpus, batch, mask, unknown)

  // ---- MinHash ----

  private val NumHashes = 12
  private val NumBands = 6
  private val MinJ = 0.5
  private val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  /** One of 9 token sets — 3 overlapping bases, each with 2 one-token
    * variants (Jaccard 5/7 to the base) — in either word order, or a
    * null text. */
  private val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    8 -> (for {
      base <- Gen.choose(0, 2)
      swap <- Gen.choose(0, 2)
      reversed <- Gen.oneOf(true, false)
    } yield {
      val toks = vocab.slice(base * 3, base * 3 + 6)
      val t = if (swap == 0) toks
        else toks.updated(swap, vocab((base * 3 + 6 + swap) % vocab.size))
      Some((if (reversed) t.reverse else t).mkString(" "))
    }))

  private def mhIndex(ds: Seq[(Long, String)]) =
    TextOps.minhashIndex(ds.toDF("doc_id", "text"), "doc_id", "text",
      NumHashes, NumBands)

  private def sameIndex(a: TextOps.MinhashIndex,
      b: TextOps.MinhashIndex): Boolean =
    rows(a.members) == rows(b.members) &&
      rows(a.repToks) == rows(b.repToks) &&
      rows(a.repBands) == rows(b.repBands)

  test("MinHash: incremental = filtered full dedup; append and takedown " +
      "= from-scratch index (ScalaCheck)") {
    check(cases(text), 8) { case (cTexts, bTexts, mask, unknown) =>
      val corpus = cTexts.zipWithIndex.map { case (t, i) =>
        (i + 1L, t.orNull) }
      val batch = bTexts.zipWithIndex.map { case (t, i) =>
        (corpus.size + i + 1L, t.orNull) }
      val all = corpus ++ batch
      val batchDf = batch.toDF("doc_id", "text")
      val index = mhIndex(corpus)
      val incremental = sameTouching(
        TextOps.minhashDedupIncremental(index, batchDf, "doc_id", "text",
          MinJ),
        TextOps.minhashDedup(all.toDF("doc_id", "text"), "doc_id", "text",
          NumHashes, NumBands, MinJ),
        batch.map(_._1: Any).toSet)
      val scratch = mhIndex(all)
      val appended = sameIndex(
        TextOps.minhashIndexAppend(index, batchDf, "doc_id", "text"),
        scratch)
      val removed = all.zip(mask).collect { case (d, true) => d._1 }
      val takedown = sameIndex(
        TextOps.minhashIndexRemove(scratch,
          (removed ++ (if (unknown) Seq(1000L) else Nil)).toDF("doc_id"),
          "doc_id"),
        mhIndex(all.filterNot(d => removed.contains(d._1))))
      graft.engine.Caches.drain(spark)
      incremental && appended && takedown
    }
  }

  // ---- dHash ----

  private val Bands = 4
  private val BitsPerBand = 16
  private val MaxHamming = 2

  /** One of 12 values: 3 bases, each with 0–2 flipped bits in
    * different bands (Hamming 1 or 2 to the base). */
  private val value: Gen[Long] = for {
    base <- Gen.oneOf(0x0123456789abcdefL, 0x7777000011112222L, -1L)
    flips <- Gen.choose(0, 3)
  } yield base ^ ((if ((flips & 1) != 0) 1L << 3 else 0L) |
    (if ((flips & 2) != 0) 1L << 40 else 0L))

  private def dhIndex(ds: Seq[(String, Long)]) =
    ImageOps.dhashIndex(ds.toDF("id", "dh"), "id", "dh", Bands,
      BitsPerBand)

  private def sameIndex(a: ImageOps.DhashIndex,
      b: ImageOps.DhashIndex): Boolean =
    rows(a.members) == rows(b.members) &&
      rows(a.valueBands) == rows(b.valueBands)

  test("dHash: incremental = filtered full dedup; append and takedown " +
      "= from-scratch index (ScalaCheck)") {
    check(cases(value), 8) { case (cVals, bVals, mask, unknown) =>
      val corpus = cVals.zipWithIndex.map { case (v, i) => (f"img$i%02d", v) }
      val batch = bVals.zipWithIndex.map { case (v, i) =>
        (f"img${corpus.size + i}%02d", v) }
      val all = corpus ++ batch
      val batchDf = batch.toDF("id", "dh")
      val index = dhIndex(corpus)
      val incremental = sameTouching(
        ImageOps.dhashNearDupIncremental(index, batchDf, "id", "dh",
          MaxHamming),
        ImageOps.dhashNearDupPairs(all.toDF("id", "dh"), "id", "dh", Bands,
          BitsPerBand, MaxHamming),
        batch.map(_._1: Any).toSet)
      val scratch = dhIndex(all)
      val appended = sameIndex(
        ImageOps.dhashIndexAppend(index, batchDf, "id", "dh"), scratch)
      val removed = all.zip(mask).collect { case (d, true) => d._1 }
      val takedown = sameIndex(
        ImageOps.dhashIndexRemove(scratch,
          (removed ++ (if (unknown) Seq("unknown") else Nil)).toDF("id"),
          "id"),
        dhIndex(all.filterNot(d => removed.contains(d._1))))
      graft.engine.Caches.drain(spark)
      incremental && appended && takedown
    }
  }
}
