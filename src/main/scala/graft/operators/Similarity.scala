package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Approximate/exact nearest-neighbor search over an `array<float>`
  * embedding column. Brute-force cosine top-k is the exact baseline;
  * a signed-random-projection (SimHash-for-vectors) bucket join is
  * the scale path: candidates shuffle on the bucket key instead of
  * materializing the O(n·m) pair space.
  *
  * Dot products fold left-to-right in float64 over the float32
  * elements — deterministic and replicable in external SQL engines —
  * via the zero-allocation [[graft.functions.FloatDot]] expression
  * (value-identical to the `zip_with` + `aggregate` fold it replaced:
  * that higher-order form materialized a 768-slot product array per
  * candidate pair — the allocation driver of every pair query here).
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double, sequential fold (order-stable). */
  def dot(a: Column, b: Column): Column =
    graft.functions.functions.float_dot(a, b)

  def norm2(a: Column): Column = dot(a, a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Exact brute-force top-k by cosine: each query row is compared
    * against every candidate (queries broadcast), ranked with a
    * deterministic (score DESC, id ASC) tie-break. */
  def cosineTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // norms are per-VECTOR, not per-pair: attach them before the join
    // (same doubles in the same order — sqrt(norm2(q))·sqrt(norm2(c))
    // — so scores are bit-identical) and spread the streamed side so
    // the scoring parallelizes past the scan's single tiny split
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), sqrt(norm2(col(vecCol))).as("qn"))
    val c = Lsh.spreadBy(candidates.select(col(idCol).as("cand_id"),
      col(vecCol).as("cv"), sqrt(norm2(col(vecCol))).as("cn")),
      col("cand_id"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("cand_id"))
      .withColumn("score", dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")))
    topK(scored, k)
  }

  /** The k best `score`d candidates per query, ranked (score DESC,
    * cand_id ASC). */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window
        .partitionBy("query_id").orderBy(col("score").desc,
          col("cand_id").asc)))
      .where(col("rank") <= k)
      .select("query_id", "cand_id", "rank", "score")

  /** Near-duplicate pairs (a<b) with cosine >= threshold, brute
    * force over a broadcastable side. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(norm2(col(vecCol))).as("nrm"))
    val a = Lsh.spreadBy(base, col("id")).select(col("id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    a.crossJoin(broadcast(b))
      .where(col("id_a") < col("id_b"))
      .withColumn("score", dot(col("va"), col("vb")) /
        (col("na") * col("nb")))
      .where(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }

  /** Deterministic pseudo-random hyperplane component for
    * (plane, dim) — see [[graft.functions.SrpBucketImpl]]. */
  def planeComponent(p: Int, d: Int): Double =
    graft.functions.SrpBucketImpl.planeComponent(p, d)

  /** Signed-random-projection bucket key over `numPlanes` fixed
    * hyperplanes — the LSH scale path for cosine ANN. Vectors in the
    * same bucket are near-certain cosine neighbors; probing adjacent
    * buckets trades recall for cost. One custom-expression node: all
    * plane projections computed in a single traversal of the vector,
    * so production dims (768–1536 × 16–32 planes) stay inside
    * whole-stage codegen instead of materializing dim×planes
    * expression nodes. */
  def srpBucket(vec: Column, dim: Int, numPlanes: Int): Column =
    graft.functions.functions.srp_bucket(vec, dim, numPlanes)

  /** Persistable SRP bucket index of an embedding corpus — the
    * incremental-dedup state for the EMBEDDING modality (the
    * [[graft.operators.TextOps.minhashIndex]] analogue; no content
    * collapse needed — pair semantics are direct on vectors). The
    * projection parameters travel WITH the frame: a batch bucketed
    * under different hyperplanes would share no keys with the index
    * and silently lose every fresh-vs-corpus pair. Save `vectors`
    * bucketed by `bucket` so per-batch joins in
    * [[srpNearDupIncremental]] are shuffle-free on the corpus side. */
  final case class SrpIndex(vectors: DataFrame, dim: Int,
    numPlanes: Int) extends IndexStore.Persisted {
    /** Persist with the projection parameters ([[IndexStore]]). */
    def save(dir: String): Unit = IndexStore.save(dir,
      Seq("vectors" -> vectors), Seq("dim" -> dim, "numPlanes" -> numPlanes))
  }

  def loadSrpIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): SrpIndex = {
    val s = IndexStore.load(spark, dir, Seq("vectors"))
    SrpIndex(s.frames("vectors"), s.int("dim"), s.int("numPlanes"))
  }

  def srpIndex(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, numPlanes: Int): SrpIndex =
    SrpIndex(df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", srpBucket(col("v"), dim, numPlanes)),
      dim, numPlanes)

  /** Fold a new batch into the index: batch vectors are banded under
    * the INDEX's parameters and unioned — O(batch), nothing re-banded
    * on the corpus side. */
  def srpIndexAppend(index: SrpIndex, newDf: DataFrame,
      idCol: String, vecCol: String): SrpIndex =
    index.copy(vectors = index.vectors.unionByName(
      srpIndex(newDf, idCol, vecCol, index.dim, index.numPlanes)
        .vectors))

  /** The index after REMOVING vectors (takedowns): one broadcast
    * anti-join ([[BandedIndex.dropIds]]) — vectors are indexed per-id
    * with no shared state, so removal is exact and equals [[srpIndex]]
    * over the reduced corpus. Unknown ids are no-ops. */
  def srpIndexRemove(index: SrpIndex, removeIds: DataFrame,
      idCol: String): SrpIndex =
    index.copy(vectors = BandedIndex.dropIds(index.vectors, removeIds,
      idCol))

  /** Incremental SRP near-dedup: all cosine >= threshold pairs
    * sharing an SRP bucket that INVOLVE a batch vector, given the
    * corpus [[srpIndex]] — value-identical to [[srpNearDupPairs]]
    * over corpus ∪ batch filtered to batch-touching pairs
    * (oracle-pinned by q_srp_incr), at O(batch) banding cost: only
    * the batch is ever projected; the index is the static equi-join
    * target. Batch-batch pairs surface via the batch side joining
    * itself in the union; `distinct` folds their two orientations. */
  def srpNearDupIncremental(index: SrpIndex, newDf: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val newB = srpIndex(newDf, idCol, vecCol, index.dim,
      index.numPlanes).vectors
    val all = index.vectors.unionByName(newB)
    Lsh.spreadBy(newB, col("id"))
      .select(col("bucket"), col("id").as("id_l"), col("v").as("vl"),
        sqrt(norm2(col("v"))).as("nl"))
      .join(all.select(col("bucket"), col("id").as("id_r"),
        col("v").as("vr"), sqrt(norm2(col("v"))).as("nr")),
        Seq("bucket"))
      .where(col("id_l") =!= col("id_r"))
      .withColumn("score", dot(col("vl"), col("vr")) /
        (col("nl") * col("nr")))
      .where(col("score") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("score"))
      .distinct()
  }

  /** Bucketed ANN near-dup: candidates only within equal SRP bucket,
    * then exact cosine filter — same output columns as
    * [[cosineNearDupPairs]] but with bucket-join complexity. */
  def srpNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, numPlanes: Int, threshold: Double): DataFrame = {
    val withB = srpRows(df, idCol, vecCol, dim, numPlanes)
    val a = Lsh.spreadBy(withB, col("id")).select(col("bucket"),
      col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = withB.select(col("bucket"), col("id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    scoredPairs(a, b, "bucket", threshold)
  }

  /** Multi-probe SRP near-dup: each vector probes its exact bucket
    * PLUS every Hamming-1 neighbor (one plane bit flipped), so a pair
    * is a candidate iff its buckets differ in at most one bit. Recall
    * rises steeply over the single-probe join — a near-threshold pair
    * only needs numPlanes−1 of the hyperplanes to agree — at
    * (numPlanes+1)× candidate-row cost, still a bucket equi-join (no
    * all-pairs blowup). The probe side explodes; the build side keeps
    * exact buckets, so every ≤1-bit pair is found from one direction
    * or the other and `distinct()` dedups pairs found from both. */
  def srpNearDupPairsMultiProbe(df: DataFrame, idCol: String,
      vecCol: String, dim: Int, numPlanes: Int,
      threshold: Double): DataFrame = {
    val withB = srpRows(df, idCol, vecCol, dim, numPlanes)
    val probeKeys = array(
      (col("bucket") +:
        (0 until numPlanes).map(p =>
          col("bucket").bitwiseXOR(lit(1L << p)))): _*)
    val a = Lsh.spreadBy(withB, col("id"))
      .select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na"), explode(probeKeys).as("bucket"))
    val b = withB.select(col("bucket"), col("id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    scoredPairs(a, b, "bucket", threshold)
  }

  /** (id, v, bucket, nrm): `df`'s vectors with their SRP bucket and
    * norm. */
  private def srpRows(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, numPlanes: Int): DataFrame =
    srpIndex(df, idCol, vecCol, dim, numPlanes).vectors
      .withColumn("nrm", sqrt(norm2(col("v"))))

  /** Distinct (id_a < id_b, score) pairs of the `key` equi-join of
    * probe rows (id_a, va, na) and build rows (id_b, vb, nb) whose
    * cosine reaches `threshold`. */
  private def scoredPairs(a: DataFrame, b: DataFrame, key: String,
      threshold: Double): DataFrame =
    a.join(b, Seq(key))
      .where(col("id_a") < col("id_b"))
      .withColumn("score", dot(col("va"), col("vb")) /
        (col("na") * col("nb")))
      .where(col("score") >= threshold)
      .select("id_a", "id_b", "score").distinct()

  /** Persistable IVF index: FROZEN centroids (the trained coarse
    * quantizer travels with the index — assignment under different
    * centroids shares no lists) + per-vector list assignment.
    * [[IvfIndex.save]] writes it through [[IndexStore]]; at
    * catalog-deployment scale, bucket `assigned` by `list_id` so
    * probes equi-join the stored layout shuffle-free.
    * The serving-time shape of IVF at corpus scale: train once
    * (KMeans), assign incrementally forever.
    *
    * @param refIndex the codebook as the `ivf_nearest` node's reference
    *   object — built once and handed on by every derived index, so a
    *   plan that both assigns and probes ships one copy of it */
  final case class IvfIndex(assigned: DataFrame, centIds: Array[Long],
      centVecs: Array[Array[Float]])(
      private[operators] val refIndex: graft.functions.IvfCentroids)
      extends IndexStore.Persisted {
    /** Centroid floats persist as raw IEEE-754 bits — the quantizer
      * must round-trip EXACTLY or every future assignment is against
      * a perturbed codebook. */
    def save(dir: String): Unit = {
      val sb = new StringBuilder("{\"centroids\":[")
      centIds.indices.foreach { i =>
        if (i > 0) sb.append(',')
        sb.append(s"""{"id":${centIds(i)},"bits":[""")
        sb.append(centVecs(i).map(java.lang.Float.floatToRawIntBits)
          .mkString(",")).append("]}")
      }
      sb.append("]}")
      IndexStore.save(dir, Seq("assigned" -> assigned), Nil,
        Seq("centroids.json" -> sb.toString))
    }
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfIndex = {
    val s = IndexStore.load(spark, dir, Seq("assigned"))
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "centroids.json"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(txt).get("centroids")
    val ids = Array.newBuilder[Long]
    val vecs = Array.newBuilder[Array[Float]]
    node.forEach { c =>
      ids += c.get("id").asLong()
      val b = Array.newBuilder[Float]
      c.get("bits").forEach(x =>
        b += java.lang.Float.intBitsToFloat(x.asInt()))
      vecs += b.result()
    }
    ivfIndexOf(s.frames("assigned"), ids.result(), vecs.result())
  }

  /** Build the index: assign every vector to its nearest centroid's
    * list via the one-node `ivf_nearest` expression (same
    * assignment rule as [[ivfTopK]] — L2, ties → smaller id). */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String,
      centVecCol: String): IvfIndex = {
    val cents: Array[(Long, Array[Float])] = centroids
      .select(col(centIdCol).cast("long"), col(centVecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "centroid table is empty")
    val idx = ivfIndexOf(null, cents.map(_._1), cents.map(_._2))
    idx.copy(assigned = assignLists(idx, df, idCol, vecCol))(idx.refIndex)
  }

  private def ivfIndexOf(assigned: DataFrame, ids: Array[Long],
      vecs: Array[Array[Float]]): IvfIndex =
    IvfIndex(assigned, ids, vecs)(new graft.functions.IvfCentroids(ids, vecs))

  private def assignLists(index: IvfIndex, df: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    import graft.functions.functions.ivf_nearest
    df.select(col(idCol).as("id"), col(vecCol).as("v"),
      element_at(ivf_nearest(col(vecCol), index.refIndex, 1), 1)
        .as("list_id"))
  }

  /** Assign ONLY the batch under the frozen quantizer and union —
    * equals [[ivfIndex]] over corpus ∪ batch with the same centroids
    * (assignment is per-row; IndexRemoveSpec pins it). */
  def ivfIndexAppend(index: IvfIndex, newDf: DataFrame,
      idCol: String, vecCol: String): IvfIndex =
    index.copy(assigned = index.assigned.unionByName(
      assignLists(index, newDf, idCol, vecCol)))(index.refIndex)

  /** Takedown: per-id rows drop; lists keep their other members. */
  def ivfIndexRemove(index: IvfIndex, removeIds: DataFrame,
      idCol: String): IvfIndex =
    index.copy(assigned = BandedIndex.dropIds(index.assigned, removeIds,
      idCol))(index.refIndex)

  /** Top-k against the STORED assignment: queries probe their nProbe
    * nearest lists and equi-join the index, without re-assigning any
    * candidate ([[ivfTopK]] is this probe over a freshly built
    * index). */
  def ivfIndexTopK(index: IvfIndex, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int): DataFrame = {
    import graft.functions.functions.ivf_nearest
    val qry = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("queryv"), sqrt(norm2(col(vecCol))).as("qn"),
      explode(ivf_nearest(col(vecCol), index.refIndex, nProbe))
        .as("list_id"))
    val scored = qry.join(index.assigned
        .select(col("list_id"), col("id").as("cand_id"),
          col("v").as("candv"), sqrt(norm2(col("v"))).as("cn")),
        Seq("list_id"))
      .where(col("query_id") =!= col("cand_id"))
      .withColumn("score", dot(col("queryv"), col("candv")) /
        (col("qn") * col("cn")))
    topK(scored, k)
  }

  /** Σ (aᵢ−bᵢ)² in double, sequential fold (order-stable). */
  def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))), lit(0.0), (acc, v) => acc + v)

  /** IVF (inverted-file) top-k — the coarse-quantizer ANN family next
    * to the SRP/LSH one: every candidate is assigned to its nearest
    * centroid's list (L2, ties → smaller centroid id); a query probes
    * its `nProbe` nearest lists and runs exact cosine top-k INSIDE the
    * probed lists only. The candidate↔probe match is a `list_id`
    * equi-join — per-query cost is nProbe/K of brute force, and
    * nothing all-pairs materializes.
    *
    * Centroid ASSIGNMENT is a per-row argmin against the (collected,
    * dimension-sized) centroid table, executed by ONE custom codegen
    * node (`ivf_nearest`, [[graft.functions.IvfCentroids]]) that
    * carries the K×dim matrix as a reference object — so the
    * candidate side has NO exchange (no crossJoin blowup, no Window
    * shuffle — the scale-killer in this operator's first cut) AND the
    * plan stays one node at production list counts (K ≈ 10^4–10^5),
    * where the earlier per-centroid struct-literal array exploded
    * plan/codegen size. Tie-break: distance asc, centroid id asc.
    * (Deterministic: callers supply the centroid table; no RNG.) */
  def ivfTopK(candidates: DataFrame, queries: DataFrame,
      centroids: DataFrame, idCol: String, vecCol: String,
      centIdCol: String, centVecCol: String, k: Int,
      nProbe: Int): DataFrame =
    ivfIndexTopK(ivfIndex(candidates, idCol, vecCol, centroids, centIdCol,
      centVecCol), queries, idCol, vecCol, k, nProbe)

  /** Banded SRP (OR-amplification, the LSH band trick applied to sign
    * bits): the `numPlanes` bits split into `numBands` contiguous
    * bands; a pair is a candidate iff ANY band matches exactly. Recall
    * for a pair with per-plane agreement prob (1−θ/π) is
    * 1−(1−(1−θ/π)^k)^b — tunable to ≥0.9 by adding planes/bands while
    * staying a bucket equi-join (explode factor = numBands). */
  def srpBandedNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, numPlanes: Int, numBands: Int,
      threshold: Double): DataFrame = {
    require(numPlanes % numBands == 0, "numBands must divide numPlanes")
    val bandBits = numPlanes / numBands
    val mask = (1L << bandBits) - 1
    val withB = srpRows(df, idCol, vecCol, dim, numPlanes)
    val bandKeys = array((0 until numBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("bucket"), b * bandBits).bitwiseAND(lit(mask))
          .as("bits"))
    }: _*)
    val a = Lsh.spreadBy(withB, col("id"))
      .select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na"), explode(bandKeys).as("key"))
    val b = withB.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), explode(bandKeys).as("key"))
    scoredPairs(a, b, "key", threshold)
  }
}
