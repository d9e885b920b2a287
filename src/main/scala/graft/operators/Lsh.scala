package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared LSH band-join machinery. */
object Lsh {

  /** Hash-spread a banded frame over the session's spread width (see
    * [[spreadBy]]) before a band self-join. The join's work is its
    * OUTPUT (hot buckets emit freq² candidate rows), so its
    * parallelism must not be inherited from a tiny upstream layout —
    * with cached-plan AQE re-optimization on (build.sbt), a
    * dimension-sized signature cache coalesces to ONE partition and
    * the candidate explosion would run on numBands tasks (measured 3×
    * the wall of the spread join at p32).
    *
    * `saltById` (default true — r8): hash on (band_key, id), not
    * band_key alone. The self-join paths probe a BROADCAST build
    * side, so the stream side's partitioning is free — and keying it
    * by band_key alone put every hot bucket's freq² candidate
    * explosion on ONE task (the lsh band stage ran 1.1 s wall for
    * 5 CPU-s of work, one straggler task ≈ the whole stage). Adding
    * `id` spreads a hot bucket's probe rows across the spread width; a
    * corpus-scale sort-merge band join re-shuffles by band_key from
    * either layout, and ITS hot bucket lands on one reducer
    * regardless — per-bucket capping is the skew answer there, not
    * this exchange. Pass saltById=false where the spread frame is
    * CACHED and re-joined on band_key (the incremental index path):
    * there the key-clustered layout is reused by the band join
    * shuffle-free, and salting measured a net loss (an extra
    * corpus-sized exchange per ingest batch). */
  def spreadBands(banded: DataFrame,
      saltById: Boolean = true): DataFrame =
    spreadBy(banded,
      (if (saltById) Seq(col("band_key"), col("id"))
       else Seq(col("band_key"))): _*)

  /** [[spreadBands]] generalized: hash-spread any frame on the given
    * columns before an operation whose work is its OUTPUT (candidate
    * generation or all-pairs scoring probing a broadcast build side).
    * A tiny input — one scan split of a KB-sized parquet, a coalesced
    * cached frame — otherwise runs the whole explosion on ONE task
    * (the embedding-pair queries measured 3% busy on 32 cores).
    *
    * The width is derived from the cluster, not configured:
    * `min(spark.sql.shuffle.partitions, 2 × defaultParallelism)` —
    * two tasks per task slot, enough to even out skew between slots,
    * capped by the session's shuffle width. An explicit numPartitions
    * is a REPARTITION_BY_NUM, which AQE never coalesces, so pinning
    * the full shuffle width (200 by default) ran near-empty tasks by
    * the hundred on every spread stage of a small cluster; sessions
    * whose shuffle width is already at most twice the slots keep it
    * exactly. `defaultParallelism` is read when the frame is built: it
    * is `spark.default.parallelism` when set, else the cores of the
    * executors registered at that moment — under dynamic allocation
    * that can be a cold pool, so such deployments set
    * `spark.default.parallelism` to the slots they scale to. */
  def spreadBy(df: DataFrame,
      cols: org.apache.spark.sql.Column*): DataFrame = {
    val spark = df.sparkSession
    df.repartition(math.min(spark.sessionState.conf.numShufflePartitions,
      2 * spark.sparkContext.defaultParallelism), cols: _*)
  }

  /** Distinct (`a` < `b`) pairs of `member` values that share a
    * `key` row of `banded` — the plain band self-join. */
  def bandPairs(banded: DataFrame, key: String, member: String,
      a: String = "rep_a", b: String = "rep_b"): DataFrame =
    banded.select(col(key), col(member).as(a))
      .join(banded.select(col(key), col(member).as(b)), Seq(key))
      .where(col(a) < col(b))
      .select(a, b).distinct()

  /** Per-bucket frequency cap for a banded (key, member) frame — the
    * winnowing `maxDocFreq` guard generalized: adversarial inputs can
    * pile distinct contents into one band bucket even after
    * exact-duplicate collapse, and each such bucket costs freq²
    * candidate rows. Buckets holding more than `maxBandFreq` rows are
    * dropped LOUDLY (a dropped bucket is a recall decision the
    * operator must not make silently); `Int.MaxValue` disables the
    * cap with zero plan overhead. The frequency frame is persisted
    * (it feeds both the drop count and the keep join) and registered
    * with [[graft.engine.Caches]] for the caller's harness to drain. */
  def capBandBuckets(banded: DataFrame, keyCol: String,
      maxBandFreq: Int, tag: String): DataFrame = {
    if (maxBandFreq == Int.MaxValue) banded
    else {
      val freq = graft.engine.Caches.persist(
        banded.groupBy(keyCol).agg(count(lit(1)).as("__freq")))
      val nDropped = freq.where(col("__freq") > maxBandFreq).count()
      if (nDropped > 0)
        System.err.println(s"[graft] $tag LSH: dropped $nDropped " +
          s"band bucket(s) over maxBandFreq=$maxBandFreq — pairs " +
          "joined ONLY through those buckets are not reported")
      banded.join(freq.where(col("__freq") <= maxBandFreq)
        .select(keyCol), Seq(keyCol))
    }
  }
}
