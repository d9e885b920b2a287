package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.{Files, Paths}

/** Every persisted index kind round-trips through [[IndexStore]] frame
  * for frame (IVF's codebook bit for bit), its load runs no Spark job
  * and reads the schema an inferring read would, and a directory in the
  * layout saved before schemas were recorded still loads. */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  /** `df`'s rows as a multiset: a repeated row counts. */
  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: Seq[_] => a.toList
      case r: Row => r.toSeq.toList
      case x => x
    }).groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** Save `frames`' index, load it back with a job count, compare every
    * frame's rows and schema; then again from the earlier layout. */
  private def roundTrip[I](save: String => Unit,
      load: String => I, frames: I => Seq[DataFrame],
      legacyParams: Option[String]): (I, I) = {
    val dir = Files.createTempDirectory("graft-index-store").toString
    save(dir)
    val (loaded, jobs) = countingJobs(load(dir))
    assert(jobs === 0, "an index load ran Spark jobs")
    legacyParams match {
      case Some(p) => Files.writeString(Paths.get(dir, "params.json"), p)
      case None => Files.delete(Paths.get(dir, "params.json"))
    }
    val legacy = load(dir)
    frames(loaded).zip(frames(legacy)).foreach { case (a, b) =>
      assert(a.schema === b.schema, "recorded schema ≠ inferred schema")
      assert(rows(a) === rows(b))
    }
    (loaded, legacy)
  }

  test("MinhashIndex round-trips; parameters restored") {
    val idx = TextOps.minhashIndex(Seq((1L, "a b c d"), (2L, "a b c d"),
      (3L, "a b c e"), (4L, null: String)).toDF("doc_id", "text"),
      "doc_id", "text", 8, 4)
    def frames(i: TextOps.MinhashIndex) = Seq(i.members, i.repToks,
      i.repBands)
    val (loaded, legacy) = roundTrip[TextOps.MinhashIndex](idx.save,
      TextOps.loadMinhashIndex(spark, _), frames,
      Some("""{"numHashes":8,"numBands":4}"""))
    frames(idx).zip(frames(loaded)).foreach { case (a, b) =>
      assert(rows(a) === rows(b)) }
    Seq(loaded, legacy).foreach(i =>
      assert((i.numHashes, i.numBands) === ((8, 4))))
    graft.engine.Caches.drain(spark)
  }

  test("DhashIndex round-trips; parameters restored") {
    val idx = ImageOps.dhashIndex(Seq(("a", 7L), ("b", 7L), ("c", -1L))
      .toDF("id", "dh"), "id", "dh", 4, 16)
    def frames(i: ImageOps.DhashIndex) = Seq(i.members, i.valueBands)
    val (loaded, legacy) = roundTrip[ImageOps.DhashIndex](idx.save,
      ImageOps.loadDhashIndex(spark, _), frames,
      Some("""{"bands":4,"bitsPerBand":16}"""))
    frames(idx).zip(frames(loaded)).foreach { case (a, b) =>
      assert(rows(a) === rows(b)) }
    Seq(loaded, legacy).foreach(i =>
      assert((i.bands, i.bitsPerBand) === ((4, 16))))
  }

  test("SrpIndex round-trips; parameters restored") {
    val idx = Similarity.srpIndex(Seq(1L -> Array(1f, 2f, 3f, 4f),
      2L -> Array(-1f, 5f, -2f, 0.5f)).toDF("id", "vec"), "id", "vec", 4, 8)
    val (loaded, legacy) = roundTrip[Similarity.SrpIndex](idx.save,
      Similarity.loadSrpIndex(spark, _), i => Seq(i.vectors),
      Some("""{"dim":4,"numPlanes":8}"""))
    assert(rows(idx.vectors) === rows(loaded.vectors))
    Seq(loaded, legacy).foreach(i =>
      assert((i.dim, i.numPlanes) === ((4, 8))))
  }

  test("IvfIndex round-trips with a bit-exact codebook") {
    val vecs = (0L until 6L).map(id => id -> Array.tabulate(3)(i =>
      java.lang.Float.intBitsToFloat(0x3f800001 + (id * 7 + i).toInt)))
    val idx = Similarity.ivfIndex(vecs.toDF("id", "vec"), "id", "vec",
      vecs.take(2).toDF("cent_id", "cvec"), "cent_id", "cvec")
    val (loaded, legacy) = roundTrip[Similarity.IvfIndex](idx.save,
      Similarity.loadIvfIndex(spark, _), i => Seq(i.assigned), None)
    assert(rows(idx.assigned) === rows(loaded.assigned))
    Seq(loaded, legacy).foreach { i =>
      assert(i.centIds.toSeq === idx.centIds.toSeq)
      assert(i.centVecs.flatten.map(java.lang.Float.floatToRawIntBits)
        .toSeq === idx.centVecs.flatten
        .map(java.lang.Float.floatToRawIntBits).toSeq)
    }
  }
}
