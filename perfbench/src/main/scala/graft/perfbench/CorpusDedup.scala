package graft.perfbench

import graft.operators.TextOps
import org.apache.spark.sql.DataFrame

/** corpus_dedup: index a seeded 80% of a corpus shaped like the sf0.1
  * documents table with TextOps.minhashIndex, dedup the seeded batch
  * of the other documents against it (minhashDedupIncremental, then
  * minhashIndexAppend), and round-trip the grown index through save /
  * loadMinhashIndex. The only workload on the dedup layers: signature,
  * band join, verify and index I/O. One batch per op: with lazy appends
  * a second batch re-resolves the first and doubles the op. */
object CorpusDedup extends InProcess {
  /** Documents in the corpus: 20% of the profiled table's 5000. Its
    * band candidates grow with the square of this, and at the full
    * count one op no longer fits a run several times. */
  val NDocs = 1000
  val NumHashes = 8
  val NumBands = 4
  val MinJaccard = 0.66
  val Batches = 1

  final case class S(corpus: DataFrame, batches: Seq[DataFrame], all: DataFrame,
      batchIds: Set[Long], expected: Set[(Long, Long, Double)])
  type State = S

  def fixtures(c: Ctx): Unit = ()
  // one op takes seconds, and its JIT warm-up is done after the first
  override def WarmupOps: Int = 1
  // a warm op outlasts a run's seconds, and its wall spreads by a
  // quarter from op to op
  override def MinOps: Int = 2

  /** Pairs each op returned (the program's verified pairs). */
  private val verified = scala.collection.mutable.ArrayBuffer.empty[Int]

  def setup(c: Ctx): S = {
    val spark = c.spark
    import spark.implicits._
    val docs = Gen.corpus(c.args.seed, NDocs)
    val rnd = new java.util.Random(c.args.seed)
    // 80% corpus, the rest split into batches, all by seeded draw
    val slot = docs.map(_ => if (rnd.nextDouble() < 0.8) -1 else rnd.nextInt(Batches))
    def df(sel: Int => Boolean) = docs.zip(slot).collect {
      case (d, s) if sel(s) => d
    }.toDF("doc_id", "text")
    val batchIds = docs.zip(slot).collect { case ((id, _), s) if s >= 0 => id }.toSet
    c.detail += "corpus" -> Json.obj(Gen.corpusProfile(docs))
    S(df(_ < 0), (0 until Batches).map(b => df(_ == b)), docs.toDF("doc_id", "text"),
      batchIds, Gen.dedupExpected(docs, NumHashes, NumBands, MinJaccard,
        { case (a, b) => batchIds(a) || batchIds(b) }))
  }

  private def pairs(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("id_a", "id_b", "jaccard").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9) / 1e9))

  def op(c: Ctx, s: S, k: Int): Boolean = {
    val spark = c.spark
    val tr = c.tracer
    var idx = tr("operators.index_build") {
      val i = TextOps.minhashIndex(s.corpus, "doc_id", "text", NumHashes, NumBands)
      i.members.count(); i.repToks.count(); i.repBands.count()
      i
    }
    val found = s.batches.flatMap { b =>
      val res = tr("operators.incr_dedup")(pairs(
        TextOps.minhashDedupIncremental(idx, b, "doc_id", "text", MinJaccard)))
      idx = tr("operators.index_append")(TextOps.minhashIndexAppend(idx, b, "doc_id", "text"))
      res
    }
    val dir = c.run.resolve(s"index_$k").toString
    val members = tr("operators.index_io") {
      idx.save(dir)
      TextOps.loadMinhashIndex(spark, dir).members.count()
    }
    Files2.deleteTree(java.nio.file.Paths.get(dir))
    val set = found.toSet
    verified += found.size
    val ok = members == NDocs && set.size == found.size && set == s.expected
    if (!ok) System.err.println(s"[perfbench] corpus_dedup op $k: ${found.size} pairs, " +
      s"${set.size} distinct, ${s.expected.size} expected; index holds $members")
    ok
  }

  def probes(c: Ctx, s: S, ops: Seq[OpRec]): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.col
    var sig: DataFrame = null
    val sigS = Layers.timeS(1) {
      sig = TextOps.minhashSignature(TextOps.tokenHashes(s.all, "doc_id", "text"), NumHashes)
        .persist()
      sig.count()
    }
    // the band join of an op: candidate pairs touching a batch document,
    // the population the op's verified pairs come from
    val ids = s.batchIds.toSeq
    val cands = TextOps.lshCandidatePairs(sig, NumBands, NumHashes / NumBands)
      .where(col("id_a").isin(ids: _*) || col("id_b").isin(ids: _*)).count()
    sig.unpersist()
    val pairs = Stats.median(verified.drop(WarmupOps).map(_.toDouble).toSeq)
    Seq(
      "operators.signature_s" -> sigS,
      "operators.band_candidates" -> cands.toDouble,
      "operators.verify_pairs" -> pairs,
      "operators.candidate_yield" -> (if (cands == 0) 0.0 else pairs / cands),
      "operators.index_build_s" -> c.tracer.perOp("operators.index_build"),
      "operators.index_append_s" -> c.tracer.perOp("operators.index_append"),
      "operators.incr_dedup_s" -> c.tracer.perOp("operators.incr_dedup"),
      "operators.index_io_s" -> c.tracer.perOp("operators.index_io"))
  }
}
