package graft.operators

import graft.functions.ImageCodec
import graft.geom._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Per-(tile, fid) partial statistics — the Spark analogue of the
  * reference's per-block accumulator update
  * (`/root/reference/runner.py:640-685`). Pre-aggregating INSIDE the
  * tile task keeps the 10^12-pixel stream out of the shuffle: only
  * (#tiles × zones-per-tile) rows shuffle, and Spark's map-side
  * partial aggregation further collapses them to (#fids × #tasks).
  *
  * `mn`/`mx` use ±Infinity sentinels when the tile contributed no
  * valid pixel (finalized to NULL later, matching the reference's
  * `None` min/max). `vals` carries the valid float32 pixel values for
  * the exact-percentile path and is empty when percentiles are off.
  */
final case class FidPartial(fid: Long, cnt: Long, nodata: Long,
    mn: Double, mx: Double, sum: Double, sumsq: Double, vals: Array[Float])

/** Pixel→zone assignment + zonal aggregation over a tile table.
  *
  * This is the Spark-native replacement for the reference's rasterize
  * join (`runner.py:463-469,596-685`): a pixel belongs to a zone iff
  * its CENTER lies in the polygon interior (= `ALL_TOUCHED=FALSE`).
  * Zones are broadcast as a [[graft.geom.ZoneIndex]] (STRtree +
  * point-in-area locators rebuilt once per executor); tiles stream
  * through a typed flatMap that emits per-(tile,fid) partials.
  *
  * Overlapping zones each receive the pixel (pair-join semantics —
  * the reference's `polygons_might_overlap=True` disjoint-set mode,
  * `runner.py:479-489`).
  */
object ZonalStats {

  /** Parse "tile_RRRR_CCCC" → (tileRow, tileCol). */
  def parseTileId(id: String): (Int, Int) = {
    val us1 = id.lastIndexOf('_')
    val us0 = id.lastIndexOf('_', us1 - 1)
    (Integer.parseInt(id.substring(us0 + 1, us1)),
      Integer.parseInt(id.substring(us1 + 1)))
  }

  def tileId(tr: Int, tc: Int): String = f"tile_${tr}%04d_${tc}%04d"

  /** Per-tile kernel: decode pixels, assign to candidate zones by
    * pixel-center PIP, emit one partial per touched zone.
    */
  // Developer note: the per-zone pixel scan is restricted to the
  // sub-window of the tile whose pixel CENTERS fall inside the zone's
  // envelope (bbox prefilter), and a whole-tile containsProperly test
  // short-circuits the PIP loop for zones that fully cover the tile —
  // the dominant case for continent-sized zones.
  def processTile(imageId: String, bytes: Array[Byte], fmt: String,
      grid: RasterGrid, idx: ZoneIndex, nodata: Option[Double],
      collectValues: Boolean): Iterator[FidPartial] = {
    val (tr, tc) = parseTileId(imageId)
    val env = grid.tileEnvelope(tr, tc)
    val cands = idx.candidates(env)
    if (cands.isEmpty) return Iterator.empty

    val px = ImageCodec.decodeTL(bytes, fmt)
    val col0 = tc * grid.tileW
    val row0 = tr * grid.tileH
    val out = new scala.collection.mutable.ArrayBuffer[FidPartial](cands.length)
    // nodata predicate hoisted out of the pixel loop: the Option unbox
    // and the tolerance term are loop-invariant (same isclose formula,
    // runner.py:644-647) — the fill loop then pays one abs+compare
    val ndDef = nodata.isDefined
    val ndVal = if (ndDef) nodata.get else 0.0
    val ndTol = 1e-8 + 1e-5 * math.abs(ndVal)

    var ci = 0
    while (ci < cands.length) {
      val zi = cands(ci)
      val zone = idx.zones(zi)
      val zenv = zone.geom.getEnvelopeInternal
      // pixel-center range inside zone-envelope ∩ tile
      val (zc0, zc1) = grid.centerColRange(zenv.getMinX, zenv.getMaxX)
      val (zr0, zr1) = grid.centerRowRange(zenv.getMinY, zenv.getMaxY)
      val gc0 = math.max(zc0, col0); val gc1 = math.min(zc1, col0 + grid.tileW - 1)
      val gr0 = math.max(zr0, row0); val gr1 = math.min(zr1, row0 + grid.tileH - 1)
      if (gc0 <= gc1 && gr0 <= gr1) {
        val fullTile = gc0 == col0 && gc1 == col0 + grid.tileW - 1 &&
          gr0 == row0 && gr1 == row0 + grid.tileH - 1
        val coversTile = fullTile && idx.coversRect(zi, env)
        // scanline rasterization (GDAL-style): per pixel row, compute
        // the polygon's x-crossings and fill whole center-intervals —
        // O(rows × edges), no per-pixel point-in-polygon
        val xbuf = if (coversTile) null else new Array[Double](idx.maxEdges(zi))

        var cnt = 0L; var nd = 0L
        var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
        var sum = 0.0; var sumsq = 0.0
        val vals = if (collectValues)
          new scala.collection.mutable.ArrayBuffer[Float](64) else null

        val x0g = grid.gt.x0; val pxw = grid.gt.px
        var gr = gr0
        while (gr <= gr1) {
          val rowBase = (gr - row0) * grid.tileW - col0

          // accumulate pixels [a..b] of this row. (A nested def over
          // captured vars, NOT a field-holding accumulator object: the
          // captured-var Refs scalarize under JIT escape analysis once
          // this def inlines, whereas an accumulator object's fields
          // measured ~40% slower — probed and reverted in r8.)
          def fill(a: Int, b: Int): Unit = {
            var gc = a
            while (gc <= b) {
              val v = px(rowBase + gc)
              cnt += 1
              val isNd = ndDef && math.abs(v.toDouble - ndVal) <= ndTol
              if (isNd) nd += 1
              else {
                val vd = v.toDouble
                if (vd < mn) mn = vd
                if (vd > mx) mx = vd
                sum += vd
                // reference squares in the block dtype (float32) and
                // accumulates float64 (`runner.py:682-685`)
                sumsq += (v * v).toDouble
                if (vals != null) vals += v
              }
              gc += 1
            }
          }

          if (coversTile) fill(gc0, gc1)
          else {
            val y = grid.gt.pixelCenterY(gr)
            val n = idx.crossings(zi, y, xbuf, grid.gt.py < 0)
            var k = 0
            while (k + 1 < n) {
              // pixel centers in [loD, hiD) in PIXEL-space x: a center
              // exactly on the interval's pixel-LEFT crossing belongs
              // to the zone, one on the pixel-RIGHT does not — the
              // raster top-left tie convention (with the pixel-space
              // half-open y rule in `crossings`)
              val xa = xbuf(k); val xb = xbuf(k + 1)
              val lo = (xa - x0g) / pxw - 0.5
              val hi = (xb - x0g) / pxw - 0.5
              val (loD, hiD) = if (pxw > 0) (lo, hi) else (hi, lo)
              val a = math.max(gc0.toDouble, math.ceil(loD)).toInt
              val b = math.min(gc1.toDouble, math.ceil(hiD) - 1).toInt
              if (a <= b) fill(a, b)
              k += 2
            }
          }
          gr += 1
        }
        if (cnt > 0) {
          out += FidPartial(zone.fid, cnt, nd, mn, mx, sum, sumsq,
            if (vals == null) Array.empty[Float] else vals.toArray)
        }
      }
      ci += 1
    }
    out.iterator
  }

  /** Per-tile kernel with LAST-BURN-WINS semantics — the reference's
    * job path (`polygons_might_overlap=False`, runner.py:483-484,960)
    * rasterizes ALL zones in ONE pass, so where zones overlap the
    * feature burned last owns the pixel. Implemented exactly like the
    * rasterizer: an owner array per tile, zones burned in input order
    * (callers order by fid to mirror CPython's small-int set
    * iteration), later burns overwrite earlier ones.
    */
  def processTileLastWins(imageId: String, bytes: Array[Byte], fmt: String,
      grid: RasterGrid, idx: ZoneIndex, nodata: Option[Double],
      collectValues: Boolean): Iterator[FidPartial] = {
    val (tr, tc) = parseTileId(imageId)
    val env = grid.tileEnvelope(tr, tc)
    val cands = idx.candidates(env) // ascending zone index = burn order
    if (cands.isEmpty) return Iterator.empty

    val col0 = tc * grid.tileW
    val row0 = tr * grid.tileH
    val nPx = grid.tileW * grid.tileH
    val owner = new Array[Int](nPx)
    java.util.Arrays.fill(owner, -1)
    val x0g = grid.gt.x0; val pxw = grid.gt.px

    var ci = 0
    while (ci < cands.length) {
      val zi = cands(ci)
      val zenv = idx.zones(zi).geom.getEnvelopeInternal
      val (zc0, zc1) = grid.centerColRange(zenv.getMinX, zenv.getMaxX)
      val (zr0, zr1) = grid.centerRowRange(zenv.getMinY, zenv.getMaxY)
      val gc0 = math.max(zc0, col0); val gc1 = math.min(zc1, col0 + grid.tileW - 1)
      val gr0 = math.max(zr0, row0); val gr1 = math.min(zr1, row0 + grid.tileH - 1)
      if (gc0 <= gc1 && gr0 <= gr1) {
        val fullTile = gc0 == col0 && gc1 == col0 + grid.tileW - 1 &&
          gr0 == row0 && gr1 == row0 + grid.tileH - 1
        val coversTile = fullTile && idx.coversRect(zi, env)
        val xbuf = if (coversTile) null else new Array[Double](idx.maxEdges(zi))
        var gr = gr0
        while (gr <= gr1) {
          val rowBase = (gr - row0) * grid.tileW - col0
          def burn(a: Int, b: Int): Unit = {
            var gc = a
            while (gc <= b) { owner(rowBase + gc) = zi; gc += 1 }
          }
          if (coversTile) burn(gc0, gc1)
          else {
            val y = grid.gt.pixelCenterY(gr)
            val n = idx.crossings(zi, y, xbuf, grid.gt.py < 0)
            var k = 0
            while (k + 1 < n) {
              // [loD, hiD) in pixel-space x — top-left tie rule (see
              // processTile)
              val lo = (xbuf(k) - x0g) / pxw - 0.5
              val hi = (xbuf(k + 1) - x0g) / pxw - 0.5
              val (loD, hiD) = if (pxw > 0) (lo, hi) else (hi, lo)
              val a = math.max(gc0.toDouble, math.ceil(loD)).toInt
              val b = math.min(gc1.toDouble, math.ceil(hiD) - 1).toInt
              if (a <= b) burn(a, b)
              k += 2
            }
          }
          gr += 1
        }
      }
      ci += 1
    }

    // single accumulation pass over the owner array (runner.py:634-685).
    // Accumulators are indexed DIRECTLY by zone index: the previous
    // HashMap<Integer, Acc> boxed an Integer per PIXEL (the JDK cache
    // stops at 127 — every high-zi lookup allocated); a flat array is
    // allocation-free and branch-cheap. Candidate count bounds the
    // array; emission iterates candidates in their (ascending-zi)
    // order, same as the HashMap was populated and drained.
    val px = ImageCodec.decodeTL(bytes, fmt)
    val accByZi = new Array[Acc](idx.zones.length)
    // loop-invariant nodata predicate (see processTile)
    val ndDef = nodata.isDefined
    val ndVal = if (ndDef) nodata.get else 0.0
    val ndTol = 1e-8 + 1e-5 * math.abs(ndVal)
    var i = 0
    while (i < nPx) {
      val zi = owner(i)
      if (zi >= 0) {
        var a = accByZi(zi)
        if (a == null) { a = new Acc(collectValues); accByZi(zi) = a }
        a.add(px(i), ndDef, ndVal, ndTol)
      }
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[FidPartial](cands.length)
    ci = 0
    while (ci < cands.length) {
      val zi = cands(ci)
      val a = accByZi(zi)
      if (a != null) {
        out += FidPartial(idx.zones(zi).fid, a.cnt, a.nd, a.mn, a.mx,
          a.sum, a.sumsq,
          if (a.vals == null) Array.empty[Float] else a.vals.toArray)
      }
      ci += 1
    }
    out.iterator
  }

  private final class Acc(collectValues: Boolean) {
    var cnt = 0L; var nd = 0L
    var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    var sum = 0.0; var sumsq = 0.0
    val vals = if (collectValues)
      new scala.collection.mutable.ArrayBuffer[Float](64) else null
    def add(v: Float, ndDef: Boolean, ndVal: Double,
        ndTol: Double): Unit = {
      cnt += 1
      if (ndDef && math.abs(v.toDouble - ndVal) <= ndTol) nd += 1
      else {
        val vd = v.toDouble
        if (vd < mn) mn = vd
        if (vd > mx) mx = vd
        sum += vd
        sumsq += (v * v).toDouble
        if (vals != null) vals += v
      }
    }
  }

  /** Tile scan → per-(tile,fid) partials. `tiles` must have columns
    * (image_id, bytes, fmt); only those three reach the generator so
    * parquet column pruning still applies. The kernel runs as a
    * codegen-able collection generator
    * ([[graft.functions.ZonalPartialsGen]]): scan → kernel → partial
    * aggregation fuse into one whole-stage-codegen stage and the scan
    * row's byte payload is copied exactly once (the r1-r7 typed
    * flatMap re-materialized every tile as a Scala tuple — a second
    * 16 KB copy plus two String decodes per tile, ~17 GB of
    * deserialization garbage per bench run). */
  def tilePartials(tiles: DataFrame, bc: Broadcast[ZoneIndex],
      grid: RasterGrid, nodata: Option[Double],
      collectValues: Boolean, lastWins: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    tiles.select(toCol(graft.functions.ZonalPartialsGen(
      toExpr(tiles("image_id")), toExpr(tiles("bytes")),
      toExpr(tiles("fmt")), grid, bc, nodata, collectValues, lastWins)))
  }

  /** Per-FID statistics (the reference's `aggregate_stats` dict,
    * `runner.py:491-500`). Algebraic — Spark's partial aggregation
    * merges map-side, so zone-size skew does not concentrate pixel
    * rows on one reducer. */
  def fidStats(partials: Dataset[_]): DataFrame = {
    partials.groupBy("fid").agg(
      sum("cnt").as("cnt"),
      sum("nodata").as("nodata"),
      min("mn").as("mn"),
      max("mx").as("mx"),
      sum("sum").as("sum"),
      sum("sumsq").as("sumsq"))
  }

  /** Merge two per-FID stat frames (the [[fidStats]] shape) — the
    * algebra is the same commutative monoid the partial aggregation
    * uses, so stats from yesterday's run and today's delta combine
    * into exactly the stats of a full recompute. Infinity sentinels
    * from all-nodata fids survive min/max merging unchanged. */
  def mergeFidStats(a: DataFrame, b: DataFrame): DataFrame =
    fidStats(a.unionByName(b))

  /** One per-FID stats row (the [[fidStats]] schema) as a plain value
    * — the driver-side carrier for dimension-sized merges. The whole
    * engine already assumes per-FID stats are zone-cardinality small
    * (broadcast joins, Checkpoints' driver merge); incremental folds
    * over them should cost driver microseconds, not Spark job rounds
    * on LocalTableScans. */
  final case class FidStatRow(fid: Long, cnt: Long, nodata: Long,
      mn: Double, mx: Double, sum: Double, sumsq: Double)

  def collectFidStats(df: DataFrame): Seq[FidStatRow] =
    df.select("fid", "cnt", "nodata", "mn", "mx", "sum", "sumsq")
      .collect().map(r => FidStatRow(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6))).toSeq

  def fidStatsFrame(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[FidStatRow]): DataFrame = {
    import spark.implicits._
    // fid-sorted for deterministic downstream plans/output
    rows.sortBy(_.fid)
      .map(r => (r.fid, r.cnt, r.nodata, r.mn, r.mx, r.sum, r.sumsq))
      .toDF("fid", "cnt", "nodata", "mn", "mx", "sum", "sumsq")
  }

  /** [[mergeFidStats]] driver-side: per fid ≤1 row each side, so the
    * fold is the same two-operand monoid the Spark agg applies
    * (IEEE addition of two operands is commutative — bit-identical
    * whichever side the union puts first). Spec-pinned equal to the
    * Spark version (TileTableChangesSpec). */
  def mergeFidStatsLocal(a: Seq[FidStatRow],
      b: Seq[FidStatRow]): Seq[FidStatRow] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Long, FidStatRow]
    a.foreach(r => m(r.fid) = r)
    b.foreach { r =>
      m(r.fid) = m.get(r.fid) match {
        case None => r
        case Some(p) => FidStatRow(r.fid, p.cnt + r.cnt,
          p.nodata + r.nodata, math.min(p.mn, r.mn),
          math.max(p.mx, r.mx), p.sum + r.sum, p.sumsq + r.sumsq)
      }
    }
    m.values.toSeq
  }

  /** [[retractFidStats]] driver-side — same formulas, same flag
    * semantics; returns (post-retraction rows with cnt>0 that are
    * SAFE, the fids that must recompute min/max from the live
    * table). Spec-pinned equal to the Spark version. */
  def retractFidStatsLocal(cur: Seq[FidStatRow],
      removed: Seq[FidStatRow]): (Seq[FidStatRow], Set[Long]) = {
    val rm = removed.map(r => r.fid -> r).toMap
    val out = Seq.newBuilder[FidStatRow]
    val unsafe = Set.newBuilder[Long]
    cur.foreach { c =>
      rm.get(c.fid) match {
        case None => out += c
        case Some(r) =>
          val cnt2 = c.cnt - r.cnt
          val nd2 = c.nodata - r.nodata
          val valid2 = cnt2 - nd2
          val rValid = r.cnt - r.nodata
          if (cnt2 > 0) {
            if (rValid > 0 && valid2 > 0 &&
                (r.mn <= c.mn || r.mx >= c.mx)) unsafe += c.fid
            else if (valid2 == 0)
              out += FidStatRow(c.fid, cnt2, nd2,
                Double.PositiveInfinity, Double.NegativeInfinity,
                0.0, 0.0)
            else
              out += FidStatRow(c.fid, cnt2, nd2, c.mn, c.mx,
                c.sum - r.sum, c.sumsq - r.sumsq)
          }
      }
    }
    (out.result(), unsafe.result())
  }

  /** Inverse fold of [[mergeFidStats]] — retract `removed` (the
    * [[fidStats]] of deleted rows) from `cur`. Counts and sums
    * subtract exactly (bit-exact for integer-valued pixels — the
    * fixture convention; within float error otherwise). Min/max are
    * NOT invertible: a retracted value that ties or beats the current
    * extreme could have been its unique witness, so such fids come
    * back FLAGGED (`needs_minmax_recompute`) for the caller to
    * recompute from the live table ([[graft.operators.ZonalEngine
    * .runIncremental]] does, via a pruned scan); a retracted value
    * strictly inside the (min, max) interval provably cannot move
    * either bound and stays unflagged. Fids whose pixel count reaches
    * zero DROP from the frame entirely — matching the shape a full
    * recompute produces (the zero-fill happens downstream). */
  def retractFidStats(cur: DataFrame, removed: DataFrame): DataFrame = {
    val r = removed.select(col("fid"),
      col("cnt").as("r_cnt"), col("nodata").as("r_nodata"),
      col("mn").as("r_mn"), col("mx").as("r_mx"),
      col("sum").as("r_sum"), col("sumsq").as("r_sumsq"))
    val j = cur.join(r, Seq("fid"), "left")
    val rc = coalesce(col("r_cnt"), lit(0L))
    val rnd = coalesce(col("r_nodata"), lit(0L))
    val rValid = rc - rnd
    val cnt2 = col("cnt") - rc
    val nd2 = col("nodata") - rnd
    val valid2 = cnt2 - nd2
    val unsafe = (rValid > 0) && (valid2 > 0) &&
      (col("r_mn") <= col("mn") || col("r_mx") >= col("mx"))
    j.select(col("fid"),
      cnt2.as("cnt"), nd2.as("nodata"),
      when(valid2 === 0, lit(Double.PositiveInfinity))
        .otherwise(col("mn")).as("mn"),
      when(valid2 === 0, lit(Double.NegativeInfinity))
        .otherwise(col("mx")).as("mx"),
      when(valid2 === 0, lit(0.0))
        .otherwise(col("sum") - coalesce(col("r_sum"), lit(0.0)))
        .as("sum"),
      when(valid2 === 0, lit(0.0))
        .otherwise(col("sumsq") - coalesce(col("r_sumsq"), lit(0.0)))
        .as("sumsq"),
      coalesce(unsafe, lit(false)).as("needs_minmax_recompute"))
      .where(col("cnt") > 0)
  }

  /** Group percentiles — the one part of the rollup that stays in
    * Spark, because it needs every raw value of a group. `chunks` is
    * the (group, vals) stream; the result maps each group with at
    * least one value to its percentile array (in `ps` order).
    *
    * The exact path hash-spreads the rows on `group` over
    * [[Lsh.spreadBy]]'s width first: an explicit-width exchange that
    * AQE does not coalesce, so the sort-heavy per-group finish runs on
    * one task per group bucket instead of being folded into a single
    * task. A group's raw values meet on one task there anyway; the
    * sketch paths keep folding map-side before their exchange.
    *
    * @param exactPercentiles true = exact numpy-parity percentiles
    *   ([[PercentileAgg]]); false = the fixed-bin `histogram` when
    *   given, else Spark's Greenwald-Khanna `percentile_approx`. */
  def groupPercentiles(chunks: DataFrame, ps: Array[Double],
      exactPercentiles: Boolean,
      histogram: Option[(Double, Double, Int)])
      : Map[Option[String], IndexedSeq[java.lang.Double]] = {
    val pcts = if (exactPercentiles) {
      val agg = udaf(new PercentileAgg(ps))
      Lsh.spreadBy(chunks, col("group"))
        .groupBy("group").agg(agg(col("vals")).as("pcts"))
    } else if (histogram.isDefined) {
      // deterministic mergeable scale path: fixed-bin histogram.
      // Pixel rows fold into (group, bin) counts map-side (hash agg
      // partials), so only bins-per-group rows shuffle; the result
      // is order-independent and exactly replicable in external SQL
      // (unlike GK, whose summary depends on merge order). Error
      // bound: |est − exact| <= binWidth (midpoint rule).
      val (lo, hi, bins) = histogram.get
      val w = (hi - lo) / bins
      import org.apache.spark.sql.expressions.Window
      val binned = chunks
        .select(col("group"), explode(col("vals")).as("v"))
        .select(col("group"),
          least(lit(bins - 1), greatest(lit(0),
            floor((col("v").cast("double") - lo) / w).cast("int")))
            .as("bin"))
        .groupBy("group", "bin").agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy("group").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("group")
      val withCum = binned
        .withColumn("cum", sum("c").over(wCum))
        .withColumn("n", sum("c").over(wAll))
      // percentile = midpoint of the bin holding the
      // ceil(p·n/100)-th valid value (1-based, clamped to >= 1)
      val aggsP = ps.toSeq.zipWithIndex.map { case (p, i) =>
        val rank = greatest(lit(1.0),
          ceil(lit(p) * col("n") / 100.0))
        min(when(col("cum") >= rank,
          lit(lo) + (col("bin") + lit(0.5)) * w)).as(s"h_$i")
      }
      withCum.groupBy("group").agg(aggsP.head, aggsP.tail: _*)
        .select(col("group"),
          array(ps.indices.map(i => col(s"h_$i")): _*).as("pcts"))
    } else {
      // scale path: explode to pixel rows; Spark's partial
      // aggregation folds them into per-partition Greenwald-Khanna
      // summaries map-side, so no group concentrates raw values on
      // one reducer
      val fractions = array(ps.toSeq.map(p => lit(p / 100.0)): _*)
      chunks.select(col("group"), explode(col("vals")).as("v"))
        .groupBy("group")
        .agg(percentile_approx(col("v").cast("double"), fractions,
          lit(10000)).as("pcts"))
    }
    pcts.collect().iterator.map { r =>
      Option(r.getString(0)) ->
        r.getSeq[java.lang.Double](1).toIndexedSeq
    }.toMap
  }

  /** FID→group rollup + finalize (`runner.py:848-917`) ON THE DRIVER —
    * the one rollup of every zonal path (direct, checkpointed,
    * incremental). Per-FID stats and the zone table are both
    * dimension-sized (the engine-wide broadcastability assumption), so
    * the rollup is driver work: in Spark it would add job rounds of
    * shuffle-width exchanges over local tables to every run.
    *
    * Semantics, in the fold order of a Spark rollup over fid-sorted
    * rows: inner fid→group join, sums fold unconditionally, min/max
    * only from fids with valid_count>0 (Spark's DoubleType ordering via
    * `java.lang.Double.compare`-style NaN-safe comparison), zero-fill
    * for every zone-table group (first-seen order), population stdev
    * with variance clamped at 0, min/max/stdev NULL at valid_count==0.
    * Equality with the Spark algebraic rollup — values, schema, row
    * order — is pinned by GroupStatsLocalSpec on randomized fractional
    * inputs.
    *
    * @param pKeys percentile column names appended after the scalar
    *   stats
    * @param pcts [[groupPercentiles]] output; groups absent from it get
    *   NULL percentiles (`runner.py:891-904`) */
  def groupStatsLocalFrame(spark: SparkSession,
      rows: Seq[FidStatRow], zones: Seq[(Long, Option[String])],
      pKeys: Seq[String] = Nil,
      pcts: Map[Option[String], IndexedSeq[java.lang.Double]] = Map.empty)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val groupOf: Map[Long, Option[String]] = zones.map(z => z._1 -> z._2).toMap
    final class GAcc {
      var count = 0L; var nodata = 0L
      var sum = 0.0; var sumsq = 0.0
      var mnSet = false; var mn = 0.0
      var mxSet = false; var mx = 0.0
    }
    val accs = scala.collection.mutable.LinkedHashMap
      .empty[Option[String], GAcc]
    rows.sortBy(_.fid).foreach { r =>
      groupOf.get(r.fid).foreach { g =>
        val a = accs.getOrElseUpdate(g, new GAcc)
        a.count += r.cnt; a.nodata += r.nodata
        a.sum += r.sum; a.sumsq += r.sumsq
        if (r.cnt - r.nodata > 0) {
          // Spark's double comparison (Utils.nanSafeCompareDoubles):
          // NaN greatest, NaN == NaN, -0.0 == 0.0 (primitive </>) —
          // ties keep the incumbent, exactly like least/greatest
          def nanSafeCmp(x: Double, y: Double): Int =
            if (x.isNaN && y.isNaN) 0 else if (x.isNaN) 1
            else if (y.isNaN) -1
            else if (x < y) -1 else if (x > y) 1 else 0
          if (!a.mnSet || nanSafeCmp(r.mn, a.mn) < 0) {
            a.mn = r.mn; a.mnSet = true
          }
          if (!a.mxSet || nanSafeCmp(r.mx, a.mx) > 0) {
            a.mx = r.mx; a.mxSet = true
          }
        }
      }
    }
    // zero-fill: every group of the zone table, first-seen order
    val groupOrder = scala.collection.mutable.LinkedHashSet
      .empty[Option[String]]
    zones.foreach(z => groupOrder += z._2)
    val noPcts = IndexedSeq.fill[java.lang.Double](pKeys.size)(null)
    val outRows: Seq[org.apache.spark.sql.Row] =
      groupOrder.iterator.map { g =>
        val a = accs.getOrElse(g, new GAcc)
        val valid = a.count - a.nodata
        val (mnO, mxO, sdO): (Any, Any, Any) =
          if (valid > 0) {
            val mean = a.sum / valid
            val variance = math.max(a.sumsq / valid - mean * mean, 0.0)
            (if (a.mnSet) Double.box(a.mn) else null,
              if (a.mxSet) Double.box(a.mx) else null,
              Double.box(math.sqrt(variance)))
          } else (null, null, null)
        org.apache.spark.sql.Row.fromSeq(Seq(g.orNull, mnO, mxO, a.count,
          a.nodata, valid, a.sum, sdO) ++ pcts.getOrElse(g, noPcts))
      }.toSeq
    // schema matches the Spark rollup's exactly (coalesce over a
    // literal default makes the counters/sum non-nullable there)
    val schema = StructType(Seq(
      StructField("group", StringType, nullable = true),
      StructField("min", DoubleType, nullable = true),
      StructField("max", DoubleType, nullable = true),
      StructField("count", LongType, nullable = false),
      StructField("nodata_count", LongType, nullable = false),
      StructField("valid_count", LongType, nullable = false),
      StructField("sum", DoubleType, nullable = false),
      StructField("stdev", DoubleType, nullable = true)) ++
      pKeys.map(StructField(_, DoubleType, nullable = true)))
    spark.createDataFrame(
      java.util.Arrays.asList(outRows: _*), schema)
  }

  /** numpy-default isclose, shared by kernel and fallback. */
  def isCloseTo(v: Double, target: Double): Boolean =
    math.abs(v - target) <= 1e-8 + 1e-5 * math.abs(target)
}
