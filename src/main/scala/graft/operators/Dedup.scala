package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Clustering layer of the dedup pipeline: near-dup PAIRS (from
  * MinHash-LSH, winnowing, SRP — any pair producer) are only half the
  * job; production dedup keeps ONE canonical document per connected
  * component of the similarity graph. This computes components with
  * iterative hash-min label propagation:
  *
  *   label(v) ← min(label(v), min over neighbors' labels)
  *
  * combined with POINTER JUMPING (path compression):
  *
  *   label(v) ← label(label(v))
  *
  * repeated to fixpoint — every vertex ends with the minimum vertex
  * id reachable from it, a deterministic canonical id. Neighbor
  * propagation alone needs diameter-many rounds (a pathological
  * chain = O(n)); the jumping step halves label-tree depth each round,
  * so convergence is O(log n) rounds even on chains — each round is
  * two equi-joins + an aggregation, all shuffling on vertex id.
  *
  * The driver loop materializes each round (the convergence check
  * needs a count anyway) and releases the previous round's cache
  * immediately — bounded block-manager state however many rounds run.
  */
object Dedup {

  /** Below this many nodes AND edges (after the undirected distinct),
    * components are computed with a driver-side union-find over the
    * collected edge list instead of the iterative distributed loop —
    * the same documented adaptive-mode choice as
    * `ZonalEngine.choosePercentileMode`. A bounded graph pays the
    * collects (boxed Rows — transient driver footprint on the order
    * of a few hundred MB at this bound, sized for this engine's
    * multi-GB driver; pass a smaller threshold on thin drivers)
    * instead of O(log n) rounds of Spark jobs whose fixed scheduling
    * cost dwarfs the data (measured: a 106-node graph cost 8 s in
    * round overhead). The distributed loop remains the 100 TB path
    * and is exercised by DedupSpec with the threshold forced to 0.
    *
    * The default is gated on DRIVER HEAP so a thin driver (e.g. the
    * 1 GiB spark-submit default) never OOMs on the collects: the
    * fast path's transient footprint is ~2.5 KB per collected row
    * (boxed Row + hash-set membership + union-find map entries +
    * result rows, with slack for both the node and edge collections
    * being live at once), so the cap is maxMemory/2560 bounded above
    * by 10⁶ — a 1 GiB driver gets ~420 k, a multi-GB driver the full
    * million. Callers with tighter budgets pass their own threshold
    * (plumbed through [[dedupClusters]] and
    * `TextOps.minhashDedupClusters`); see README "Driver sizing". */
  val SmallGraphThreshold: Long =
    math.min(1000000L, Runtime.getRuntime.maxMemory() / 2560)

  /** Component id (minimum reachable vertex id) for every vertex in
    * `nodes`, including isolated ones.
    *
    * @param nodes one column `id`
    * @param edges columns `id_a`, `id_b` (undirected, any direction)
    * @param maxIter hard cap on propagation rounds (distributed path
    *   only); with pointer jumping convergence needs ~log₂(longest
    *   path) rounds, so the default covers any graph that fits in a
    *   cluster. Exceeding it THROWS — partially-propagated labels
    *   would silently split components and let duplicates survive
    *   dedup.
    * @param smallGraphThreshold node/edge count at or below which the
    *   driver union-find fast path runs (long-typed ids only); pass 0
    *   to force the distributed loop */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 64,
      smallGraphThreshold: Long = SmallGraphThreshold): DataFrame = {
    val spark = nodes.sparkSession

    // ITERATIVE-DATAFRAME TRAP: building round N's frame on round
    // N-1's keeps growing one logical plan, and Catalyst re-analyzes
    // the whole chain every round — planning time explodes after a
    // few dozen iterations. Each round therefore re-roots its result
    // as a LogicalRDD over the persisted output (constant-size plan;
    // the persisted blocks bound RDD recompute).
    def reroot(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)

    // consumed once per round: cache the (possibly expensive) edge
    // producer's output — and RE-ROOT it, or every round's two joins
    // drag the producer's whole logical plan (an LSH pipeline can be
    // dozens of operators deep) back through analysis/optimization:
    // measured 6.7 s/round planning vs ~0.3 s with the LogicalRDD root.
    // Both edge directions come from ONE explode over each producer
    // row, not union(edges, edges.swapped): the union's two branches
    // each re-ran the full producer pipeline (an LSH band join + pair
    // scoring — measured 2× ~40 CPU-s on the embedding cluster query,
    // the whole candidate explosion twice), where the explode pays one
    // producer pass plus a 2-element array per row. Same rows — the
    // swap is column renaming, null ids included — so distinct() and
    // everything downstream are unchanged.
    val adj0 = graft.engine.Caches.persist(edges.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct())
    // a failing edge-producer job must not strand the partly-pinned
    // adj0 blocks until the next drain
    val edgeCount =
      try adj0.count()
      catch { case e: Throwable => adj0.unpersist(false); throw e }
    val adj = reroot(adj0)

    // by NAME, not ordinal — a nodes frame where "id" is not the
    // first column must not gate the fast path (or stamp the output
    // schema) on some other field's type/nullability
    val idField = nodes.schema("id")
    val labels0 = nodes.select(col("id"), col("id").as("comp"))
      .persist()
    // a failed initial materialization (or fast-path collect) must not
    // strand the labels0 cache in the block manager
    val nodeCount =
      try labels0.count()
      catch { case e: Throwable => labels0.unpersist(false); throw e }

    // fast path needs getLong on BOTH the node ids and the collected
    // edge endpoints — gate on every id column being long-typed
    val longIds =
      idField.dataType == org.apache.spark.sql.types.LongType &&
        adj0.schema.fields.forall(
          _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && nodeCount <= smallGraphThreshold &&
        edgeCount <= smallGraphThreshold) {
      val out =
        try smallGraphComponents(spark, labels0, adj0, idField)
        finally {
          labels0.unpersist(false)
          adj0.unpersist(false)
        }
      return out
    }

    // distributed hash-min + pointer-jumping loop. Each round persists
    // exactly ONE frame (its output); the convergence-count job
    // materializes it, after which the previous round's cache is
    // released and the new output becomes the labels cache directly —
    // no copy pass.
    var cacheOwner = labels0 // frame whose blocks back `labels`
    var pending: DataFrame = null // mid-round persist to release on failure
    var labels = reroot(labels0)
    var iter = 0
    var converged = false
    // on ANY round failure release whatever this loop pinned (the
    // initial labels0 materialization is guarded above): a failed job
    // must not strand round caches in the block manager
    try {
    while (!converged && iter < maxIter) {
      // 1. hash-min over neighbors
      val nbr = adj
        .join(labels.select(col("id").as("src"), col("comp")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min("comp").as("nbr_comp"))
      val stepped = labels.join(nbr, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp")))
            .as("comp"))
      // 2. pointer jumping: follow one hop in the label forest
      // (label(v) ← label(label(v)) — label values are vertex ids, so
      // the lookup is a self-join; comp(x) ≤ x keeps this monotone)
      val lookup = stepped.select(col("id").as("cid"),
        col("comp").as("jump"))
      val next0 = stepped
        .join(lookup, stepped("comp") === lookup("cid"), "left_outer")
        .select(stepped("id"),
          least(stepped("comp"), coalesce(col("jump"), stepped("comp")))
            .as("comp"))
        .persist()
      pending = next0
      val changed = next0
        .join(labels.withColumnRenamed("comp", "prev"), Seq("id"))
        .where(col("comp") =!= col("prev"))
        .count() // materializes `next0`; the old cache can go
      cacheOwner.unpersist(false)
      cacheOwner = next0
      pending = null
      labels = reroot(next0)
      converged = changed == 0
      iter += 1
    }
    } catch {
      case e: Throwable =>
        try cacheOwner.unpersist(false)
        catch { case scala.util.control.NonFatal(_) => () }
        if (pending ne null)
          try pending.unpersist(false)
          catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    if (!converged) {
      cacheOwner.unpersist(false)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "partially-propagated labels would silently split components")
    }
    // the result stays distributed (node-cardinality — unbounded at
    // the caller's scale choice); its cache is dropped via the
    // session registry once the caller has consumed it
    graft.engine.Caches.register(spark, {
      val last = cacheOwner
      () => { last.unpersist(false); () }
    })
    labels
  }

  /** Driver union-find over a bounded, long-id graph — semantically
    * identical to the distributed loop: every node labeled with the
    * minimum id reachable over edges whose BOTH endpoints are in the
    * node set (an edge touching an unknown vertex never propagates in
    * the distributed loop either, because that vertex has no label
    * row), isolated nodes label themselves, and null-id node rows
    * pass through as (null, null) exactly as the loop's
    * `select(id, id as comp)` would emit them. The min-root union
    * rule makes the result independent of edge order. */
  private def smallGraphComponents(
      spark: org.apache.spark.sql.SparkSession, labels0: DataFrame,
      adj0: DataFrame, idField: org.apache.spark.sql.types.StructField)
      : DataFrame = {
    val rawIds = labels0.select("id").collect()
    val nullIdRows = rawIds.count(_.isNullAt(0))
    val ids = rawIds.filter(!_.isNullAt(0)).map(_.getLong(0))
    val idSet = new java.util.HashSet[java.lang.Long](ids.length * 2)
    ids.foreach(idSet.add(_))
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def find(x0: Long): Long = { // iterative with path compression
      var r = x0
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var x = x0
      while (parent.getOrDefault(x, x) != x) {
        val nxt = parent.get(x); parent.put(x, r); x = nxt
      }
      r
    }
    adj0.where(col("src") < col("dst")) // one direction suffices
      .where(col("src").isNotNull && col("dst").isNotNull)
      .collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        if (idSet.contains(a) && idSet.contains(b)) {
          val ra = find(a); val rb = find(b)
          if (ra != rb) { // min root wins — order-independent labels
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
      }
    val rows: Seq[org.apache.spark.sql.Row] =
      ids.toIndexedSeq.map(id => org.apache.spark.sql.Row(id, find(id))) ++
        Seq.fill(nullIdRows)(org.apache.spark.sql.Row(null, null))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      idField.copy(name = "id"), idField.copy(name = "comp")))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows,
        math.max(1, ids.length / 250000)), schema)
  }

  /** Dedup clustering summary: component id per document plus the
    * canonical flag (the component's minimum id survives; the rest
    * are the removable duplicates). */
  def dedupClusters(nodes: DataFrame, pairs: DataFrame,
      maxIter: Int = 50,
      smallGraphThreshold: Long = SmallGraphThreshold): DataFrame =
    connectedComponents(nodes, pairs, maxIter, smallGraphThreshold)
      .withColumn("is_canonical", (col("id") === col("comp")))
}
