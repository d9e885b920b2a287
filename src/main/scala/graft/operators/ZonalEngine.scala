package graft.operators

import graft.functions.ImageCodec
import graft.geom._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Per-(tile, fid, part) partial over an envelope-fallback window. */
final case class WinPartial(fid: Long, part: Int, cnt: Long, nodata: Long,
    mn: Double, mx: Double, sum: Double, sumsq: Double, vals: Array[Float])

/** End-to-end zonal statistics over a tile table — the Spark-native
  * `fast_zonal_statistics` (`/root/reference/runner.py:264-926`).
  *
  * Pipeline: bbox short-circuit → zone simplify(½px) + broadcast index
  * → tile scan with per-tile partial aggregation (rasterize join
  * replacement) → per-FID hash agg → unset-FID envelope fallback →
  * FID→group rollup with gated min/max → exact numpy percentiles →
  * finalize (population stdev, zero-fill).
  *
  * Replicated reference quirks (SURVEY.md §4): center-point
  * assignment, `np.isclose` nodata, float32 geotransform window math,
  * fallback WITHOUT point-in-polygon, last-part-wins scalar overwrite
  * for multipart fallback zones, min/max group merge gated on
  * fid valid_count>0, population stdev clamped at var>=0.
  */
object ZonalEngine {

  /** Final stat column order (reference accumulator insertion order
    * after `del sumsq`, `runner.py:849-861,917`). */
  def statFields(percentileKeys: Seq[String]): Seq[String] =
    Seq("min", "max", "count", "nodata_count", "valid_count", "sum",
      "stdev") ++ percentileKeys

  /** `p5`, `p2.5`-style keys (`runner.py:291-293`). */
  def percentileKeys(ps: Seq[Double]): Seq[String] =
    ps.map(p => if (p.isValidInt) s"p${p.toInt}" else s"p$p")

  /** Normalize a percentile op list the way the reference does
    * (`runner.py:289-290`): float-parse, dedup, sort. */
  def normalizePercentiles(ps: Seq[Double]): Seq[Double] =
    ps.distinct.sorted

  /** Tile-count threshold for the SCALE-AWARE percentile default: at
    * 128² px/tile this is ~68 Gpx — beyond it, concentrating a
    * group's raw values on one reducer (the exact numpy-parity path)
    * stops being a sane default and the mergeable Greenwald-Khanna
    * sketch takes over. Callers needing bit-parity at any size pass
    * an explicit override. */
  val ExactPercentileMaxTiles: Long = 4L * 1024 * 1024

  /** true = exact percentiles. Auto mode (None override): exact while
    * the table is small enough, sketch beyond the threshold. */
  def choosePercentileMode(tableTiles: Long,
      exactOverride: Option[Boolean] = None): Boolean =
    exactOverride.getOrElse(tableTiles <= ExactPercentileMaxTiles)

  /** Table-level entry: the manifest-pruned zonal run with the
    * percentile mode chosen from the table's size (see
    * [[choosePercentileMode]]) unless overridden. */
  def runTable(spark: SparkSession, table: graft.sources.TileTable,
      zonesRaw: Seq[Zone], percentilesRaw: Seq[Double] = Nil,
      lastWins: Boolean = false,
      exactPercentilesOverride: Option[Boolean] = None,
      band: Option[Int] = None): DataFrame = {
    // reference rasters are addressed as (path, band) (runner.py:264-265):
    // a multi-band table scanned without a band filter would mix every
    // band's rows into the same stats — fail loudly instead
    require(table.manifest.bands.isEmpty || band.isDefined,
      s"${table.root} is multi-band: pass the band to address")
    val env = Zone.totalEnvelope(zonesRaw)
    val exact = choosePercentileMode(
      table.manifest.files.map(_.rows).sum, exactPercentilesOverride)
    run(spark, table.readPruned(spark, env, band), zonesRaw, table.grid,
      table.nodataFor(band), percentilesRaw, exactPercentiles = exact,
      lastWins = lastWins,
      fallbackTiles = Some(e => table.readPruned(spark, e, band)))
  }

  /** Per-FID algebraic stats of `tiles` against `zonesRaw` — the
    * SAVABLE state of a zonal run (columns fid, cnt, nodata, mn, mx,
    * sum, sumsq). Persist the result (e.g. parquet next to the
    * table's manifest version) and feed it back into
    * [[runIncremental]] when the table grows. */
  def fidStatsFor(spark: SparkSession, tiles: DataFrame,
      zonesRaw: Seq[Zone], grid: RasterGrid, nodata: Option[Double],
      simplify: Boolean = true, lastWins: Boolean = false): DataFrame = {
    val zones =
      if (simplify)
        zonesRaw.map(z => z.copy(geom =
          Zone.simplifyHalfPixel(z.geom, grid.gt.px)))
      else zonesRaw
    val bc = spark.sparkContext.broadcast(new ZoneIndex(zones.toArray))
    // the result is lazy (callers save it to parquet), so the zone
    // index broadcast outlives this frame's materialization — parked
    // in the session registry, released at the next drain
    graft.engine.Caches.register(spark, () => bc.destroy())
    ZonalStats.fidStats(ZonalStats.tilePartials(tiles, bc, grid, nodata,
      collectValues = false, lastWins))
  }

  /** Incremental zonal update — the 100 TB growth path: instead of
    * rescanning the whole table after an append, decode ONLY the
    * delta ([[graft.sources.TileTable.readChanges]] between
    * `fromVersion` and the current head), fold its per-FID stats into
    * `prevFidStats` (yesterday's [[fidStatsFor]] output over the
    * same zones at `fromVersion`), and finalize. The per-FID algebra
    * is a commutative monoid, so the result is value-identical to a
    * full recompute at the head — which is exactly what the driver
    * oracle pins (q_zonal_incremental).
    *
    * Percentiles need raw value chunks, which saved algebraic stats
    * cannot reconstruct — deliberately not offered here; run the
    * sketch path over the full table when quantiles are required.
    *
    * `lastWins` is safe to fold additively: last-burn-wins changes
    * which ZONE a pixel is assigned to, but that assignment is a
    * pure function of (pixel, the full zone list) — rasterization
    * runs per tile against all zones, so appending tiles never
    * changes the assignment of pixels in tiles already folded, and
    * the per-tile partials stay independent (proven ≡ full recompute
    * in TileTableChangesSpec). The one shared caveat: two tiles at
    * the SAME cell both contribute their pixels — in the incremental
    * fold AND in a full recompute alike (per-tile processing) — so
    * duplicate-cell ingest is an upstream dedup concern, not a
    * divergence between the two paths.
    *
    * The unset-FID envelope fallback still consults the WHOLE table
    * (manifest-pruned to the unset slivers): a zone too thin to own a
    * pixel stays correct however many increments have run. */
  /** @param mergedStatsSink when set, receives the merged per-FID
    *   stats (the [[fidStatsFor]] shape at the head version) after
    *   materialization — callers that run incrementally every day
    *   persist them as the NEXT increment's `prevFidStats`
    *   (`ZonalJob`'s sidecar). */
  def runIncremental(spark: SparkSession, table: graft.sources.TileTable,
      zonesRaw: Seq[Zone], prevFidStats: DataFrame, fromVersion: Int,
      lastWins: Boolean = false,
      band: Option[Int] = None,
      mergedStatsSink: Option[DataFrame => Unit] = None): DataFrame = {
    require(table.manifest.bands.isEmpty || band.isDefined,
      s"${table.root} is multi-band: pass the band to address")
    // the window's upper end is the SNAPSHOT's version, not the live
    // head: a concurrent append must not leak rows into a merge whose
    // fallback scan and saved stats describe this snapshot
    val head = table.version
    val bandFilter: DataFrame => DataFrame = df => band match {
      case Some(b) => df.where(org.apache.spark.sql.functions
        .col("band") === b)
      case None => df
    }
    val (addedAll, removedOpt) = graft.sources.TileTable
      .readChangesWithRemovals(spark, table.root, fromVersion, head)
    val delta = bandFilter(addedAll)
    val nodata = table.nodataFor(band)
    val grid = table.grid
    val zones = zonesRaw.map(z => z.copy(geom =
      Zone.simplifyHalfPixel(z.geom, grid.gt.px)))
    val deltaStats = fidStatsFor(spark, delta, zonesRaw, grid, nodata,
      simplify = true, lastWins = lastWins)
    // The merge itself is DRIVER-SIDE: per-FID stats are
    // zone-cardinality small (the engine-wide broadcastability
    // assumption; Checkpoints' r3 merge sets the precedent), so the
    // only cluster work an increment pays is the delta decode — the
    // fold, retraction, and downstream rollup run over local frames
    // instead of spending Spark job rounds on LocalTableScans.
    // Spec-pinned value-identical to the Spark-side
    // mergeFidStats/retractFidStats (TileTableChangesSpec).
    val deltaLocal = ZonalStats.collectFidStats(deltaStats)
    val prevLocal = ZonalStats.collectFidStats(prevFidStats)
    val folded = ZonalStats.mergeFidStatsLocal(prevLocal, deltaLocal)
    // row-level deletes in the window retract: exact subtraction for
    // counts/sums; fids whose extreme might have been the retracted
    // value recompute whole from the live (pruned) table — the
    // recompute set is the zones the takedown actually grazed
    val afterRemovals: Seq[ZonalStats.FidStatRow] = removedOpt match {
      case None => folded
      case Some(removedAll) =>
        val removedLocal = ZonalStats.collectFidStats(
          fidStatsFor(spark, bandFilter(removedAll), zonesRaw, grid,
            nodata, simplify = true, lastWins = lastWins))
        val (safe, unsafeFids) =
          ZonalStats.retractFidStatsLocal(folded, removedLocal)
        if (unsafeFids.isEmpty) safe
        else {
          val env = new org.locationtech.jts.geom.Envelope()
          zones.filter(z => unsafeFids.contains(z.fid))
            .foreach(z =>
              env.expandToInclude(z.geom.getEnvelopeInternal))
          // ALL zones go to the kernel (lastWins burn order must see
          // every zone); only the unsafe fids' rows are kept
          val rec = ZonalStats.collectFidStats(fidStatsFor(spark,
            table.readPruned(spark, env, band), zonesRaw, grid,
            nodata, simplify = true, lastWins = lastWins))
            .filter(r => unsafeFids.contains(r.fid))
          safe ++ rec
        }
    }
    mergedStatsSink.foreach(_(ZonalStats.fidStatsFrame(spark,
      afterRemovals)))
    // percentile-free by contract; the manifest prune index proves
    // most increments need no fallback scan, so the tail is usually
    // driver-only
    finishStats(spark, afterRemovals, None, zones, grid, nodata,
      percentiles = Nil, exactPercentiles = true,
      tilesFor = e => table.readPruned(spark, e, band), histogram = None,
      tilesNonEmpty = Some(e => table.prunedFiles(e).nonEmpty))
  }

  /** @param exactPercentiles true (default) = exact numpy-parity
    *   percentiles (concatenate+sort per group — the reference's
    *   semantics, runner.py:823-904; a giant group's values land on
    *   one reducer). false = Spark's mergeable Greenwald-Khanna
    *   sketch (`percentile_approx`): map-side summaries, bounded
    *   memory, no skewed reducer — the 100 TB scale path. */
  /** @param lastWins false (default) = pair-join semantics: every
    *   overlapping zone receives the pixel (the reference's
    *   `polygons_might_overlap=True` disjoint-set mode). true =
    *   last-burn-wins: zones rasterized in ONE pass in input order,
    *   later zones overwrite earlier ones where they overlap — the
    *   reference's production job path (`polygons_might_overlap=False`,
    *   runner.py:483-484,960). */
  /** @param fallbackTiles when the caller owns a prunable source
    *   (TileTable), a function producing a scan restricted to an
    *   envelope — the unset-FID fallback pass then reads only the
    *   tiles covering the fallback windows instead of re-scanning
    *   `tiles`. At scale the windows are a sliver-sized subset of the
    *   zones, so this turns an O(table) rescan into an O(windows)
    *   read. */
  def run(spark: SparkSession, tiles: DataFrame, zonesRaw: Seq[Zone],
      grid: RasterGrid, nodata: Option[Double],
      percentilesRaw: Seq[Double] = Nil,
      simplify: Boolean = true,
      exactPercentiles: Boolean = true,
      lastWins: Boolean = false,
      fallbackTiles: Option[org.locationtech.jts.geom.Envelope => DataFrame]
        = None,
      histogram: Option[(Double, Double, Int)] = None,
      fallbackHasTiles: Option[
        org.locationtech.jts.geom.Envelope => Boolean] = None): DataFrame = {
    val percentiles = normalizePercentiles(percentilesRaw)
    val pKeys = percentileKeys(percentiles)
    val collectVals = percentiles.nonEmpty

    // VectorTranslate simplifyTolerance = pixel_width*0.5 (runner.py:349-365)
    val zones =
      if (simplify)
        zonesRaw.map(z => z.copy(geom =
          Zone.simplifyHalfPixel(z.geom, grid.gt.px)))
      else zonesRaw
    val idx = new ZoneIndex(zones.toArray)

    // bbox short-circuit (runner.py:409-450): zero stats, no tile IO
    if (!idx.totalEnvelope.intersects(grid.rasterEnvelope)) {
      return ZonalStats.groupStatsLocalFrame(spark, Nil,
        zones.map(z => (z.fid, Option(z.group))), pKeys)
    }

    val bc = spark.sparkContext.broadcast(idx)
    // The decode+PIP kernel is the dominant cost: it must run exactly
    // once. Its per-FID stats are zone-cardinality small, so they are
    // COLLECTED (one job) and every downstream consumer — fallback
    // detection, rollup — reads the driver-side rows. The raw partials
    // are cached only when the exact-percentile path needs their value
    // chunks a second time. Every persist/broadcast is released once
    // the (dimension-sized) result has materialized — a long-lived
    // session must not depend on the ContextCleaner for block-manager
    // hygiene.
    val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    releases += (() => bc.destroy())
    val partials0 = ZonalStats.tilePartials(tiles, bc, grid, nodata,
      collectVals, lastWins)
    val partials =
      if (collectVals) {
        val p = partials0.persist(StorageLevel.MEMORY_AND_DISK)
        releases += (() => { p.unpersist(false); () })
        p
      } else partials0
    val fidRows =
      try ZonalStats.collectFidStats(ZonalStats.fidStats(partials))
      catch { case e: Throwable => release(releases.toSeq); throw e }

    val mainChunks =
      if (!collectVals) None
      else Some(partials.select(col("fid"), col("vals"))
        .where(size(col("vals")) > 0))
    val tilesFor = fallbackTiles.getOrElse(
      (_: org.locationtech.jts.geom.Envelope) => tiles)
    finishStats(spark, fidRows, mainChunks, zones, grid, nodata,
      percentiles, exactPercentiles, tilesFor, histogram,
      releases.toSeq, tilesNonEmpty = fallbackHasTiles)
  }

  private def release(releases: Seq[() => Unit]): Unit =
    releases.foreach { r =>
      try r() catch { case scala.util.control.NonFatal(_) => () }
    }

  /** The tail of every zonal path — direct ([[run]]), checkpointed
    * ([[graft.engine.Checkpoints]]) and incremental
    * ([[runIncremental]]): given the kernel stage's per-FID stats as
    * DRIVER-SIDE rows (and optional percentile value chunks), run the
    * unset-FID envelope fallback, the group percentiles (the only
    * Spark work left, [[ZonalStats.groupPercentiles]]) and the
    * driver-side rollup ([[ZonalStats.groupStatsLocalFrame]]). The
    * result is a local, materialized frame.
    *
    * @param zones   the SIMPLIFIED zone set the kernel ran against
    * @param tilesFor envelope-pruned tile scan for the fallback pass
    * @param releases caller-cached intermediates (persists/broadcasts)
    *   backing `mainChunks`; released synchronously once the result
    *   has materialized, or when any step fails
    * @param tilesNonEmpty manifest-prune short-circuit: when the caller
    *   can prove (from the driver-side file index, ~ms) that NO table
    *   file intersects the unset zones' envelope, the fallback scan
    *   would read zero tiles and produce zero partials — identical to
    *   the zero-fill of the rollup — so it is skipped
    */
  private[graft] def finishStats(spark: SparkSession,
      fidRows: Seq[ZonalStats.FidStatRow], mainChunks: Option[DataFrame],
      zones: Seq[Zone], grid: RasterGrid,
      nodata: Option[Double], percentiles: Seq[Double],
      exactPercentiles: Boolean,
      tilesFor: org.locationtech.jts.geom.Envelope => DataFrame,
      histogram: Option[(Double, Double, Int)],
      releases: Seq[() => Unit] = Nil,
      tilesNonEmpty: Option[
        org.locationtech.jts.geom.Envelope => Boolean] = None): DataFrame = {
    import spark.implicits._
    val zoneGroups = zones.map(z => (z.fid, Option(z.group)))
    val fbReleases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    try {
      // ---- unset-FID envelope fallback (runner.py:697-811) ----
      val presentFids = fidRows.iterator.map(_.fid).toSet
      val unset = zones.filter(z => !presentFids.contains(z.fid))
      val (fallbackRows, fallbackChunks) =
        if (unset.isEmpty ||
            tilesNonEmpty.exists(f => !f(Zone.totalEnvelope(unset))))
          (Nil, None)
        else runFallback(spark, tilesFor(Zone.totalEnvelope(unset)),
          unset, grid, nodata, mainChunks.isDefined, fbReleases)

      val pcts = mainChunks match {
        case None => Map.empty[Option[String], IndexedSeq[java.lang.Double]]
        case Some(mc) =>
          val all = fallbackChunks.fold(mc)(mc.unionByName(_))
          ZonalStats.groupPercentiles(
            broadcast(zoneGroups.toDF("fid", "group"))
              .join(all, Seq("fid")).select("group", "vals"),
            percentiles.toArray, exactPercentiles, histogram)
      }
      ZonalStats.groupStatsLocalFrame(spark, fidRows ++ fallbackRows,
        zoneGroups, percentileKeys(percentiles), pcts)
    // every Spark action of the run is done here, so the persists and
    // broadcasts it pinned are dropped now, synchronously — also when a
    // step failed: a long-lived session must not wait on the
    // ContextCleaner (under ParallelGC + a big heap: possibly never)
    } finally release(releases ++ fbReleases)
  }

  /** Envelope-window fallback for zones that captured no pixel:
    * per PART of each multi-geometry, stats over the WHOLE clamped
    * envelope window (no PIP — a reference quirk), scalars overwritten
    * so the LAST nonempty part wins; percentile chunks accumulate
    * across parts (runner.py:700-811).
    */
  private def runFallback(spark: SparkSession, tiles: DataFrame,
      unset: Seq[Zone], grid: RasterGrid, nodata: Option[Double],
      collectVals: Boolean,
      releases: scala.collection.mutable.Buffer[() => Unit])
      : (Seq[ZonalStats.FidStatRow], Option[DataFrame]) = {
    import spark.implicits._

    val windows: Array[(Long, Int, PixelWindow)] = (for {
      z <- unset.iterator
      part <- 0 until z.geom.getNumGeometries
      env = z.geom.getGeometryN(part).getEnvelopeInternal
      win = WindowMath.envelopeToWindow(env.getMinX, env.getMaxX,
        env.getMinY, env.getMaxY, grid.gt, grid.widthPx, grid.heightPx)
      if !win.isEmpty
    } yield (z.fid, part, win)).toArray
    if (windows.isEmpty) return (Nil, None)

    // STRtree over the window pixel rects: the kernel probes the tile's
    // pixel range instead of scanning every window linearly — fallback
    // cost becomes O(tiles_touched × log windows), not O(tiles × windows)
    val tree = new org.locationtech.jts.index.strtree.STRtree()
    windows.zipWithIndex.foreach { case ((_, _, w), i) =>
      tree.insert(new org.locationtech.jts.geom.Envelope(
        w.xoff.toDouble, (w.xoff + w.wx).toDouble,
        w.yoff.toDouble, (w.yoff + w.wy).toDouble), Int.box(i))
    }
    tree.build() // immutable + thread-safe for queries after build

    val bcWin = spark.sparkContext.broadcast((windows, tree))
    val gridB = grid
    val nodataB = nodata
    val cvB = collectVals
    releases += (() => bcWin.destroy())

    val winPartials0 = tiles.select("image_id", "bytes", "fmt")
      .as[(String, Array[Byte], String)]
      .flatMap { case (id, bytes, fmt) =>
        val (ws, t) = bcWin.value
        fallbackTileKernel(id, bytes, fmt, gridB, ws, t, nodataB, cvB)
      }
    // cache only when the percentile path re-reads the value chunks —
    // the scalar-stats path consumes the kernel output exactly once
    val winPartials =
      if (collectVals) {
        val w = winPartials0.persist(StorageLevel.MEMORY_AND_DISK)
        releases += (() => { w.unpersist(false); () })
        w
      } else winPartials0

    val agg = winPartials.groupBy("fid", "part").agg(
      sum("cnt").as("cnt"), sum("nodata").as("nodata"),
      min("mn").as("mn"), max("mx").as("mx"),
      sum("sum").as("sum"), sum("sumsq").as("sumsq"))
      .collect()

    // last-part-wins merge (runner.py:783-806 uses `=`, not `+=`)
    val rows = agg.groupBy(_.getLong(0)).map { case (fid, parts) =>
      val last = parts.maxBy(_.getInt(1))
      val cnt = last.getLong(2); val nd = last.getLong(3)
      if (cnt - nd == 0)
        ZonalStats.FidStatRow(fid, cnt, nd, 0.0, 0.0, 0.0, 0.0) // runner.py:790-794
      else
        ZonalStats.FidStatRow(fid, cnt, nd, last.getDouble(4),
          last.getDouble(5), last.getDouble(6), last.getDouble(7))
    }.toSeq

    val fbChunks =
      if (!collectVals) None
      else Some(winPartials.select($"fid", $"vals")
        .where(size($"vals") > 0))
    (rows, fbChunks)
  }

  /** Per-tile kernel of the fallback pass: every pixel of the tile
    * that falls in a (fid, part) window contributes — no PIP. Windows
    * are probed through the broadcast STRtree keyed on pixel rects. */
  def fallbackTileKernel(imageId: String, bytes: Array[Byte], fmt: String,
      grid: RasterGrid, windows: Array[(Long, Int, PixelWindow)],
      tree: org.locationtech.jts.index.strtree.STRtree,
      nodata: Option[Double], collectVals: Boolean): Iterator[WinPartial] = {
    val (tr, tc) = ZonalStats.parseTileId(imageId)
    val col0 = tc * grid.tileW; val row0 = tr * grid.tileH
    val col1 = col0 + grid.tileW - 1; val row1 = row0 + grid.tileH - 1
    var px: Array[Float] = null
    val out = scala.collection.mutable.ArrayBuffer.empty[WinPartial]
    // loop-invariant nodata predicate (same isclose formula — see
    // ZonalStats.processTile)
    val ndDef = nodata.isDefined
    val ndVal = if (ndDef) nodata.get else 0.0
    val ndTol = 1e-8 + 1e-5 * math.abs(ndVal)

    val cands = tree.query(new org.locationtech.jts.geom.Envelope(
      col0.toDouble, (col1 + 1).toDouble,
      row0.toDouble, (row1 + 1).toDouble))
    var ci = 0
    while (ci < cands.size()) {
      val wi = cands.get(ci).asInstanceOf[Integer].intValue()
      val (fid, part, win) = windows(wi)
      val gc0 = math.max(col0, win.xoff)
      val gc1 = math.min(col1, win.xoff + win.wx - 1)
      val gr0 = math.max(row0, win.yoff)
      val gr1 = math.min(row1, win.yoff + win.wy - 1)
      if (gc0 <= gc1 && gr0 <= gr1) {
        if (px == null) px = ImageCodec.decodeTL(bytes, fmt)
        var cnt = 0L; var nd = 0L
        var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
        var sum = 0.0; var sumsq = 0.0
        val vals = if (collectVals)
          new scala.collection.mutable.ArrayBuffer[Float](16) else null
        var gr = gr0
        while (gr <= gr1) {
          val rowBase = (gr - row0) * grid.tileW - col0
          var gc = gc0
          while (gc <= gc1) {
            val v = px(rowBase + gc)
            cnt += 1
            val isNd = ndDef && math.abs(v.toDouble - ndVal) <= ndTol
            if (isNd) nd += 1
            else {
              val vd = v.toDouble
              if (vd < mn) mn = vd
              if (vd > mx) mx = vd
              sum += vd
              sumsq += (v * v).toDouble
              if (vals != null) vals += v
            }
            gc += 1
          }
          gr += 1
        }
        out += WinPartial(fid, part, cnt, nd, mn, mx, sum, sumsq,
          if (vals == null) Array.empty[Float] else vals.toArray)
      }
      ci += 1
    }
    out.iterator
  }
}
