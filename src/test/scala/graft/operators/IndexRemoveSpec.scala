package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Takedowns against the persisted dedup indexes: removing documents
  * from an index must leave EXACTLY the index a from-scratch build
  * over the reduced corpus produces — including representative
  * promotion (minhash), value retirement (dhash), and emptied-group
  * band cleanup — and the removed docs must stop producing pairs. */
class IndexRemoveSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
    case a: Seq[_] => a.toList
    case x => x
  }).toSet

  // ---- TEXT (MinhashIndex) ----

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon zeta"),   // group with 1
    (5L, "zeta epsilon delta gamma beta alpha"),   // same token SET
    (3L, "alpha beta gamma delta epsilon theta"),  // near-dup of group
    (4L, "one two three four five six"),
    (6L, "one two three four five six"),           // group with 4
    (7L, "completely unrelated text entirely"),
    (8L, null.asInstanceOf[String]))               // null-text singleton

  private val (nh, nb, minJ) = (24, 12, 0.5)

  private def mhIndexOf(ds: Seq[(Long, String)]) =
    TextOps.minhashIndex(ds.toDF("doc_id", "text"), "doc_id", "text",
      nh, nb)

  private def assertMhEqual(a: TextOps.MinhashIndex,
      b: TextOps.MinhashIndex): Unit = {
    assert(rows(a.members) == rows(b.members), "members diverged")
    assert(rows(a.repToks) == rows(b.repToks), "repToks diverged")
    assert(rows(a.repBands) == rows(b.repBands), "repBands diverged")
  }

  test("minhash takedown equals a from-scratch index of the reduced " +
      "corpus: rep promotion, emptied group, non-rep removal, " +
      "unknown id") {
    val full = mhIndexOf(docs)
    // rep promotion: 1 is the rep of {1,2,5}; removing it promotes 2,
    // which inherits the group's token set and bands. 4 removed of
    // {4,6} promotes 6. 7 removed empties its group. 99 is unknown.
    val removed = Seq(1L, 4L, 7L, 99L)
    val after = TextOps.minhashIndexRemove(full,
      removed.toDF("doc_id"), "doc_id")
    val rebuilt = mhIndexOf(docs.filterNot(d => removed.contains(d._1)))
    assertMhEqual(after, rebuilt)
    // non-rep removal (5 from {2,5} after the promotion above):
    // rep unchanged, just one member fewer
    val after2 = TextOps.minhashIndexRemove(after,
      Seq(5L).toDF("doc_id"), "doc_id")
    val rebuilt2 = mhIndexOf(docs.filterNot(d =>
      (removed :+ 5L).contains(d._1)))
    assertMhEqual(after2, rebuilt2)
    // null-text singleton removal
    val after3 = TextOps.minhashIndexRemove(after2,
      Seq(8L).toDF("doc_id"), "doc_id")
    val rebuilt3 = mhIndexOf(docs.filterNot(d =>
      (removed ++ Seq(5L, 8L)).contains(d._1)))
    assertMhEqual(after3, rebuilt3)
    graft.engine.Caches.drain(spark)
  }

  test("promotion to a member whose document has a DIFFERENT token " +
      "order still matches the rebuild frame-for-frame (canonical " +
      "sorted token-hash sets)") {
    // group {1,2,5}: doc 5's text is the REVERSED token order;
    // removing 1 AND 2 promotes 5, whose inherited token set must
    // equal what a from-scratch build computes from doc 5's own text
    val after = TextOps.minhashIndexRemove(mhIndexOf(docs),
      Seq(1L, 2L).toDF("doc_id"), "doc_id")
    val rebuilt = mhIndexOf(docs.filterNot(d => Seq(1L, 2L)
      .contains(d._1)))
    assertMhEqual(after, rebuilt)
    graft.engine.Caches.drain(spark)
  }

  test("minhash takedown stops the removed docs' pairs: incremental " +
      "dedup against the reduced index equals full dedup over the " +
      "reduced corpus filtered to batch-touching pairs") {
    val removed = Seq(1L, 4L)
    val reducedDocs = docs.filterNot(d => removed.contains(d._1))
    val after = TextOps.minhashIndexRemove(mhIndexOf(docs),
      removed.toDF("doc_id"), "doc_id")
    val batch = Seq(
      (20L, "alpha beta gamma delta epsilon zeta"),
      (21L, "one two three four five seven")).toDF("doc_id", "text")
    val got = rows(TextOps.minhashDedupIncremental(after, batch,
      "doc_id", "text", minJ).select("id_a", "id_b"))
    val batchIds = Set(20L, 21L)
    val expected = rows(TextOps.minhashDedup(
      (reducedDocs ++ Seq((20L, "alpha beta gamma delta epsilon zeta"),
        (21L, "one two three four five seven"))).toDF("doc_id", "text"),
      "doc_id", "text", nh, nb, minJ).select("id_a", "id_b"))
      .filter(r => batchIds.contains(r.head.asInstanceOf[Long]) ||
        batchIds.contains(r(1).asInstanceOf[Long]))
    assert(got == expected && expected.nonEmpty,
      s"got=$got\nexpected=$expected")
    assert(!got.exists(r => r.contains(1L) || r.contains(4L)),
      "a removed doc still produced pairs")
    graft.engine.Caches.drain(spark)
  }

  // ---- EMBEDDING (SrpIndex) ----

  test("srp takedown equals a from-scratch index of the reduced set") {
    val vecs = Seq(
      1L -> Array(1f, 2f, 3f, 4f), 2L -> Array(1.01f, 2f, 3f, 4f),
      3L -> Array(-1f, 5f, -2f, 0.5f), 4L -> Array(9f, -9f, 1f, -1f))
    val full = Similarity.srpIndex(vecs.toDF("id", "vec"), "id", "vec",
      4, 8)
    val after = Similarity.srpIndexRemove(full,
      Seq(2L, 99L).toDF("id"), "id")
    val rebuilt = Similarity.srpIndex(
      vecs.filterNot(_._1 == 2L).toDF("id", "vec"), "id", "vec", 4, 8)
    assert(rows(after.vectors.select("id", "bucket")) ==
      rows(rebuilt.vectors.select("id", "bucket")))
    graft.engine.Caches.drain(spark)
  }

  // ---- EMBEDDING (IvfIndex lifecycle) ----

  test("ivf index: append under the frozen quantizer equals a " +
      "from-scratch build; save/load round-trips the codebook " +
      "bit-exactly; remove drops per-id rows; stored-assignment topK " +
      "equals the one-shot ivfTopK") {
    val vecs = (0L until 40L).map(id =>
      id -> Array.tabulate(8)(i =>
        (((id * 13 + i * 7) % 53).toDouble / 53.0 - 0.5).toFloat))
    val df = vecs.toDF("id", "vec")
    val cents = vecs.take(4)
      .toDF("cent_id", "cvec")
    val corpus = df.where(col("id") % 3 =!= 1)
    val batch = df.where(col("id") % 3 === 1)
    val appended = Similarity.ivfIndexAppend(
      Similarity.ivfIndex(corpus, "id", "vec", cents, "cent_id",
        "cvec"),
      batch, "id", "vec")
    val rebuilt = Similarity.ivfIndex(df, "id", "vec", cents,
      "cent_id", "cvec")
    def asg(i: Similarity.IvfIndex) = i.assigned
      .select("id", "list_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asg(appended) == asg(rebuilt))
    // one codebook instance per index, handed on to derived indexes
    assert(appended.refIndex eq appended.refIndex)
    // save/load: codebook floats bit-identical, assignment intact
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-idx").toString
    appended.save(dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    assert(loaded.centIds.toSeq == appended.centIds.toSeq)
    assert(loaded.centVecs.flatten.map(java.lang.Float.floatToRawIntBits)
      .toSeq == appended.centVecs.flatten
      .map(java.lang.Float.floatToRawIntBits).toSeq)
    assert(asg(loaded) == asg(rebuilt))
    // remove ≡ rebuild over survivors
    val after = Similarity.ivfIndexRemove(loaded,
      Seq(6L, 7L, 99L).toDF("id"), "id")
    val reduced = Similarity.ivfIndex(
      df.where(!col("id").isin(6L, 7L)), "id", "vec", cents,
      "cent_id", "cvec")
    assert(asg(after) == asg(reduced))
    assert(after.refIndex eq loaded.refIndex)
    // stored-assignment serving ≡ the one-shot operator
    val queries = df.where(col("id") >= 30)
    def topk(out: org.apache.spark.sql.DataFrame) = out
      .select("query_id", "cand_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val servedIdx = topk(Similarity.ivfIndexTopK(rebuilt, queries,
      "id", "vec", k = 3, nProbe = 2))
    val oneShot = topk(Similarity.ivfTopK(df, queries, cents, "id",
      "vec", "cent_id", "cvec", k = 3, nProbe = 2))
    assert(servedIdx == oneShot && oneShot.nonEmpty)
    graft.engine.Caches.drain(spark)
  }

  // ---- IMAGE (DhashIndex) ----

  test("dhash takedown equals a from-scratch index of the reduced " +
      "set: a value leaves the band index only with its LAST member") {
    val dhs = Seq(
      1L -> 0x0123456789abcdefL,
      2L -> 0x0123456789abcdefL,   // shares value with 1
      3L -> 0x7777000011112222L,
      4L -> -1L)
    val full = ImageOps.dhashIndex(dhs.toDF("id", "dh"), "id", "dh",
      4, 16)
    def vb(df: DataFrame) = df.select(col("dh"), col("key.band"),
      col("key.bits")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // removing 1 keeps value 0x0123... alive through 2
    val a1 = ImageOps.dhashIndexRemove(full, Seq(1L).toDF("id"), "id")
    val r1 = ImageOps.dhashIndex(
      dhs.filterNot(_._1 == 1L).toDF("id", "dh"), "id", "dh", 4, 16)
    assert(rows(a1.members) == rows(r1.members))
    assert(vb(a1.valueBands) == vb(r1.valueBands))
    // removing 2 as well retires the value from the band index
    val a2 = ImageOps.dhashIndexRemove(a1, Seq(2L, 42L).toDF("id"), "id")
    val r2 = ImageOps.dhashIndex(
      dhs.filter(d => d._1 == 3L || d._1 == 4L).toDF("id", "dh"),
      "id", "dh", 4, 16)
    assert(rows(a2.members) == rows(r2.members))
    assert(vb(a2.valueBands) == vb(r2.valueBands))
    graft.engine.Caches.drain(spark)
  }
}
