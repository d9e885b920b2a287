package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The lifecycle of a GROUPED near-dup index, written once for MinHash
  * ([[TextOps.MinhashIndex]]) and dHash ([[ImageOps.DhashIndex]]).
  *
  * A grouped index collapses exact-content duplicates before banding:
  * every member row names its group's REPRESENTATIVE in a `rep`
  * column, and only representatives carry band rows (and, for MinHash,
  * the token-set payload that verifies them). A cluster of m exact
  * copies then costs one row per band, not m² candidate rows in every
  * bucket it shares — the hot-bucket guard every LSH band join needs
  * (boilerplate pages, blank frames are the dominant duplicate class at
  * corpus scale). The modalities differ only in
  *   - the group key and representative: MinHash groups documents on
  *     their token-set key (`ckey`) and represents a group by its min
  *     member id (`rid`); dHash groups images on the hash value, which
  *     is its own representative (`dh` — value-level collapse);
  *   - the band rows (and payload) keyed by the representative;
  *   - the exact verify and the exact-duplicate score: token-set
  *     Jaccard with score 1.0, or Hamming distance over the candidate
  *     rows' two hash values with score 0.
  *
  * Steps, shared by both modalities:
  *   - collapse ([[collapse]]): exact-content groups, one representative
  *     each (dHash needs no column for it: the value is the rep);
  *   - append ([[resolve]]): batch members join the corpus group of
  *     their key, found map-only through one row per corpus group
  *     (MinHash: the rep-row filter `id == rid` — the rep is always a
  *     member; dHash: band 0 of the banded values); the batch's other
  *     groups add fresh representatives. With ids ascending across
  *     batches the grown index equals a from-scratch build; under
  *     out-of-order ids an already-indexed group keeps its
  *     representative, which changes no dedup semantics;
  *   - takedown ([[remove]]): members drop by id; a MinHash group
  *     whose representative went promotes its min surviving member,
  *     which INHERITS the group's band rows and payload (every member
  *     of a group has identical content; a dHash value is its own
  *     representative and never changes); emptied groups leave the
  *     band rows. Only the takedown's own groups are touched — O(affected),
  *     never a re-tokenize or re-band — and the result equals a
  *     from-scratch build over the reduced corpus. Unknown ids are
  *     no-ops;
  *   - incremental candidates ([[bandUniverse]], [[candidates]]): the
  *     band universe is the saved band rows ∪ the fresh
  *     representatives', the left side of its self-join is every
  *     representative the batch touches — fresh ones and the corpus
  *     representatives of groups the batch GAINED members in (a batch
  *     copy of known content inherits that group's whole neighborhood,
  *     the subtle case) — so the corpus is never re-banded;
  *   - member expansion ([[memberPairs]]): verified representative
  *     pairs expand to their groups' members, plus the intra-group
  *     exact duplicates; the incremental case keeps only pairs with a
  *     batch member, so corpus-internal pairs are never re-emitted.
  *
  * With these, an incremental dedup equals the full dedup over corpus
  * ∪ batch filtered to batch-touching pairs (the q_minhash_incr and
  * q_image_incr oracles; BandedIndexPropertySpec).
  *
  * Pairs of representatives travel as (`rep_a`, `rep_b`); member pairs
  * come out as (`id_a` < `id_b`, score). */
private[operators] object BandedIndex {

  /** (id, key) members with `rid`, their group's min member id. */
  def collapse(keyed: DataFrame, key: String): DataFrame =
    keyed.withColumn("rid", min("id").over(Window.partitionBy(key)))

  /** Batch members (id, key, rep — batch-local groups) resolved
    * against `corpusGroups` (one (key, rep) row per corpus group): a
    * member whose key has a corpus group takes that group's rep and
    * `joined_corpus`; the others keep their batch-local group. */
  def resolve(batch: DataFrame, corpusGroups: DataFrame, key: String,
      rep: String): DataFrame =
    batch.join(corpusGroups.select(col(key), col(rep).as("__crep")),
      Seq(key), "left")
      .select(batch.columns.filter(_ != rep).map(col) ++ Seq(
        coalesce(col("__crep"), col(rep)).as(rep),
        col("__crep").isNotNull.as("joined_corpus")): _*)

  /** `df` without the rows whose `id` is in `removeIds`' `idCol` — the
    * per-id takedown (the whole takedown of the SRP and IVF indexes,
    * which index each id on its own). */
  def dropIds(df: DataFrame, removeIds: DataFrame,
      idCol: String): DataFrame =
    df.join(broadcast(removeIds.select(col(idCol).as("id")).distinct()),
      Seq("id"), "left_anti")

  /** Takedown of `members` (id, …, rep): the surviving members and
    * the re-keying of a rep-keyed frame (band rows, payload), in which
    * an emptied group's rows drop and untouched rows pass through.
    * With `promote` (the rep is a member's id), a group whose rep went
    * takes the min surviving `promote` value and the old rep's rows
    * move to it. Without it (the group key is its own rep) no rep ever
    * changes, so the survivors pass as they are. */
  def remove(members: DataFrame, removeIds: DataFrame, idCol: String,
      rep: String, promote: Option[String])
      : (DataFrame, (DataFrame, String) => DataFrame) = {
    val ids = removeIds.select(col(idCol).as("id")).distinct()
    val survivors = dropIds(members, removeIds, idCol)
    val affected = members.join(broadcast(ids), Seq("id"))
      .select(rep).distinct()
    promote match {
      case None =>
        val emptied = broadcast(affected).join(survivors, Seq(rep),
          "left_anti")
        (survivors, (df, repCol) => df.join(
          broadcast(emptied.withColumnRenamed(rep, repCol)), Seq(repCol),
          "left_anti"))
      case Some(p) =>
        // a group absent here was emptied by the takedown
        val promoted = survivors.join(broadcast(affected), Seq(rep))
          .groupBy(rep).agg(min(p).as("__nrep"))
        def replacing(df: DataFrame, c: String): Seq[Column] =
          df.columns.toSeq.map(n =>
            if (n == c) coalesce(col("__nrep"), col(n)).as(n) else col(n))
        val kept = survivors.join(broadcast(promoted), Seq(rep), "left")
          .select(replacing(members, rep): _*)
        val trans = affected.join(broadcast(promoted), Seq(rep), "left")
          .withColumn("__touched", lit(true))
        (kept, (df, repCol) => df
          .join(broadcast(trans.withColumnRenamed(rep, repCol)),
            Seq(repCol), "left")
          .where(col("__touched").isNull || col("__nrep").isNotNull)
          .select(replacing(df, repCol): _*))
    }
  }

  /** Incremental band universe: the saved band rows ∪ the fresh
    * representatives', bucket-capped over the UNION (a bucket is kept
    * or dropped for both join sides alike) and spread on the band key
    * unsalted, so the candidate self-join reads it on that key without
    * another exchange. */
  def bandUniverse(indexBands: DataFrame, freshBands: DataFrame,
      band: String, maxBandFreq: Int, tag: String): DataFrame =
    Lsh.spreadBy(Lsh.capBandBuckets(indexBands.unionByName(freshBands),
      band, maxBandFreq, tag), col(band))

  /** Candidate (rep_a < rep_b) pairs of an incremental dedup: the band
    * self-join of `universe` (rows keyed by `repCol`) with its left side
    * cut to the reps of the resolved batch `newMembers` — fresh and
    * gained alike. */
  def candidates(universe: DataFrame, newMembers: DataFrame, rep: String,
      repCol: String, band: String): DataFrame = {
    val left = newMembers.select(col(rep).as(repCol)).distinct()
    universe.join(left, Seq(repCol))
      .select(col(band), col(repCol).as("__l"))
      .join(universe.select(col(band), col(repCol).as("__r")), Seq(band))
      .where(col("__l") =!= col("__r"))
      .select(least(col("__l"), col("__r")).as("rep_a"),
        greatest(col("__l"), col("__r")).as("rep_b"))
      .distinct()
  }

  /** The index members (is_new false) ∪ the resolved batch members
    * (is_new true), in the index members' columns. */
  def withBatch(members: DataFrame, newMembers: DataFrame): DataFrame =
    members.withColumn("is_new", lit(false)).unionByName(
      newMembers.select(members.columns.map(col): _*)
        .withColumn("is_new", lit(true)))

  /** Member pairs (id_a < id_b, `score`) of verified rep pairs
    * (rep_a, rep_b, `score`) over `members` (id, rep), where `isNew`
    * marks batch members (`lit(true)`: a full dedup). Cross-group pairs
    * inherit their rep pair's score (every member of a group has the
    * same content) and need a batch member on one side; intra-group
    * pairs are exact duplicates scoring `exact`, driven by the batch
    * members (never all members ⋈ all members — a corpus-sized shuffle
    * per ingest batch), each pair once: a batch member pairs with every
    * corpus member of its group and with the larger batch ids. */
  def memberPairs(repPairs: DataFrame, members: DataFrame, isNew: Column,
      rep: String, score: String, exact: Column): DataFrame = {
    val m = members.select(col("id"), col(rep), isNew.as("__new"))
    val cross = repPairs
      .join(m.select(col(rep).as("rep_a"), col("id").as("__ma"),
        col("__new").as("__na")), Seq("rep_a"))
      .join(m.select(col(rep).as("rep_b"), col("id").as("__mb"),
        col("__new").as("__nb")), Seq("rep_b"))
      .where(col("__na") || col("__nb"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col(score))
    val intra = m.where(col("__new")).select(col(rep), col("id").as("__n"))
      .join(m.select(col(rep), col("id").as("__m"), col("__new").as("__nm")),
        Seq(rep))
      .where(col("__n") =!= col("__m") &&
        (!col("__nm") || col("__n") < col("__m")))
      .select(least(col("__n"), col("__m")).as("id_a"),
        greatest(col("__n"), col("__m")).as("id_b"), exact.as(score))
    intra.unionByName(cross)
  }
}
