package graft.operators

import graft.functions.ImageCodec
import graft.geom._
import graft.sources.TileTable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.locationtech.jts.geom.Envelope

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
  * Every zonal path — direct ([[run]], [[runTable]]), checkpointed
  * ([[graft.engine.Checkpoints]]), incremental ([[runIncremental]]) and
  * the INI job ([[graft.engine.ZonalJob]]) — shares one head and one
  * tail: a [[ZoneRun]] prepares the zones (simplify, index, broadcast)
  * and owns every cache the run pins, a [[BandScan]] resolves a tile
  * table to the one band it addresses, and [[finishStats]] runs the
  * fallback, percentiles and driver-side rollup.
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
    * sketch takes over. Callers needing bit-parity at any size call
    * [[run]] with `exactPercentiles = true`. */
  val ExactPercentileMaxTiles: Long = 4L * 1024 * 1024

  /** true = exact percentiles: exact while the table is small enough,
    * sketch beyond the threshold. */
  def choosePercentileMode(tableTiles: Long): Boolean =
    tableTiles <= ExactPercentileMaxTiles

  /** The zones of one zonal run, prepared once: ½-pixel simplified
    * (VectorTranslate `simplifyTolerance = pixel_width*0.5`,
    * runner.py:349-365) unless the caller opts out, indexed, and
    * broadcast on first use. Every cache the run pins is [[pin]]ned
    * here and dropped by [[release]]: a long-lived session must not
    * wait on the ContextCleaner (under ParallelGC + a big heap:
    * possibly never). */
  private[graft] final class ZoneRun(spark: SparkSession,
      zonesRaw: Seq[Zone], val grid: RasterGrid,
      val nodata: Option[Double], simplify: Boolean = true) {
    val zones: Seq[Zone] =
      if (simplify)
        zonesRaw.map(z => z.copy(geom =
          Zone.simplifyHalfPixel(z.geom, grid.gt.px)))
      else zonesRaw
    lazy val zoneGroups: Seq[(Long, Option[String])] =
      zones.map(z => (z.fid, Option(z.group)))

    private val releases =
      scala.collection.mutable.ArrayBuffer.empty[() => Unit]

    lazy val bc: Broadcast[ZoneIndex] = pin(
      spark.sparkContext.broadcast(new ZoneIndex(zones.toArray)))(_.destroy())

    /** Registers `free(t)` to run at [[release]]; returns `t`. */
    def pin[T](t: T)(free: T => Unit): T =
      releases.synchronized { releases += (() => free(t)); t }

    /** The kernel's per-(tile, fid) partials of `tiles` (lazy). */
    def partials(tiles: DataFrame, collectValues: Boolean,
        lastWins: Boolean): DataFrame =
      ZonalStats.tilePartials(tiles, bc, grid, nodata, collectValues,
        lastWins)

    /** Per-FID stats of `tiles` as driver-side rows (one Spark job). */
    def fidRows(tiles: DataFrame,
        lastWins: Boolean): Seq[ZonalStats.FidStatRow] =
      ZonalStats.collectFidStats(ZonalStats.fidStats(
        partials(tiles, collectValues = false, lastWins)))

    def release(): Unit = releases.synchronized {
      releases.foreach(r =>
        try r() catch { case scala.util.control.NonFatal(_) => () })
      releases.clear()
    }

    /** Runs `body` to its materialized result, then releases
      * everything pinned — also when a step failed. */
    def releasing[T](body: => T): T = try body finally release()
  }

  /** A tile table addressed as one zonal raster — reference rasters
    * are `(path, band)` (runner.py:264-265): the multi-band rule (a
    * multi-band table scanned without a band would mix every band's
    * rows into the same stats, so it fails loudly), the band's rows
    * and nodata, and the unset-FID fallback's manifest-pruned scan. */
  private[graft] final class BandScan(val table: TileTable,
      val band: Option[Int]) {
    require(table.manifest.bands.isEmpty || band.isDefined,
      s"${table.root} is multi-band: pass the band to address")

    /** A run of `zonesRaw` over the addressed band. */
    def zoneRun(spark: SparkSession, zonesRaw: Seq[Zone]): ZoneRun =
      new ZoneRun(spark, zonesRaw, table.grid,
        band.fold(table.nodata)(table.nodataFor))

    /** `df`'s rows of the addressed band (a raw-file or change scan). */
    def rows(df: DataFrame): DataFrame = TileTable.bandRows(df, band)

    def pruned(spark: SparkSession, env: Envelope): DataFrame =
      band.fold(table.readPruned(spark, env))(
        table.readPrunedBand(spark, env, _))

    /** [[finishStats]]' fallback scan: None when the manifest's file
      * index (driver-side, ~ms) proves no file intersects `env`. */
    def fallback(spark: SparkSession)(env: Envelope): Option[DataFrame] =
      if (table.prunedFiles(env).isEmpty) None else Some(pruned(spark, env))
  }

  /** Table-level entry: the manifest-pruned zonal run with the
    * percentile mode chosen from the table's size (see
    * [[choosePercentileMode]]). */
  def runTable(spark: SparkSession, table: TileTable,
      zonesRaw: Seq[Zone], percentilesRaw: Seq[Double] = Nil,
      lastWins: Boolean = false,
      band: Option[Int] = None): DataFrame = {
    val scan = new BandScan(table, band)
    direct(spark, scan.pruned(spark, Zone.totalEnvelope(zonesRaw)),
      scan.zoneRun(spark, zonesRaw), percentilesRaw,
      choosePercentileMode(table.manifest.files.map(_.rows).sum),
      lastWins, histogram = None, scan.fallback(spark))
  }

  /** Per-FID algebraic stats of `tiles` against `zonesRaw` — the
    * SAVABLE state of a zonal run (columns fid, cnt, nodata, mn, mx,
    * sum, sumsq). Persist the result (e.g. parquet next to the
    * table's manifest version) and feed it back into
    * [[runIncremental]] when the table grows. */
  def fidStatsFor(spark: SparkSession, tiles: DataFrame,
      zonesRaw: Seq[Zone], grid: RasterGrid, nodata: Option[Double],
      simplify: Boolean = true, lastWins: Boolean = false): DataFrame = {
    val zr = new ZoneRun(spark, zonesRaw, grid, nodata, simplify)
    // the result is lazy (callers save it to parquet), so the zone
    // index broadcast outlives this frame's materialization — parked
    // in the session registry, released at the next drain
    graft.engine.Caches.register(spark, () => zr.release())
    ZonalStats.fidStats(zr.partials(tiles, collectValues = false,
      lastWins))
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
    * pixel stays correct however many increments have run. The delta,
    * the retraction and any min/max recompute all run against ONE
    * zone index, released with the run.
    *
    * @param mergedStatsSink when set, receives the merged per-FID
    *   stats (the [[fidStatsFor]] shape at the head version) after
    *   materialization — callers that run incrementally every day
    *   persist them as the NEXT increment's `prevFidStats`
    *   (`ZonalJob`'s sidecar). */
  def runIncremental(spark: SparkSession, table: TileTable,
      zonesRaw: Seq[Zone], prevFidStats: DataFrame, fromVersion: Int,
      lastWins: Boolean = false,
      band: Option[Int] = None,
      mergedStatsSink: Option[DataFrame => Unit] = None): DataFrame = {
    val scan = new BandScan(table, band)
    // the window's upper end is the SNAPSHOT's version, not the live
    // head: a concurrent append must not leak rows into a merge whose
    // fallback scan and saved stats describe this snapshot
    val (addedAll, removedOpt) = TileTable.readChangesWithRemovals(spark,
      table.root, fromVersion, table.version)
    val zr = scan.zoneRun(spark, zonesRaw)
    zr.releasing {
      // The merge itself is DRIVER-SIDE: per-FID stats are
      // zone-cardinality small (the engine-wide broadcastability
      // assumption; Checkpoints' r3 merge sets the precedent), so the
      // only cluster work an increment pays is the delta decode — the
      // fold, retraction, and downstream rollup run over local frames
      // instead of spending Spark job rounds on LocalTableScans.
      // Spec-pinned value-identical to the Spark-side
      // mergeFidStats/retractFidStats (TileTableChangesSpec).
      val deltaLocal = zr.fidRows(scan.rows(addedAll), lastWins)
      val folded = ZonalStats.mergeFidStatsLocal(
        ZonalStats.collectFidStats(prevFidStats), deltaLocal)
      // row-level deletes in the window retract: exact subtraction for
      // counts/sums; fids whose extreme might have been the retracted
      // value recompute whole from the live (pruned) table — the
      // recompute set is the zones the takedown actually grazed
      val afterRemovals = removedOpt match {
        case None => folded
        case Some(removedAll) =>
          val (safe, unsafeFids) = ZonalStats.retractFidStatsLocal(folded,
            zr.fidRows(scan.rows(removedAll), lastWins))
          if (unsafeFids.isEmpty) safe
          else {
            val env = Zone.totalEnvelope(
              zr.zones.filter(z => unsafeFids.contains(z.fid)))
            // ALL zones go to the kernel (lastWins burn order must see
            // every zone); only the unsafe fids' rows are kept
            safe ++ zr.fidRows(scan.pruned(spark, env), lastWins)
              .filter(r => unsafeFids.contains(r.fid))
          }
      }
      mergedStatsSink.foreach(_(ZonalStats.fidStatsFrame(spark,
        afterRemovals)))
      // percentile-free by contract; the manifest prune index proves
      // most increments need no fallback scan, so the tail is usually
      // driver-only
      finishStats(spark, zr, afterRemovals, None, percentiles = Nil,
        exactPercentiles = true, histogram = None, scan.fallback(spark))
    }
  }

  /** The direct single-pass run over any tile frame.
    *
    * @param exactPercentiles true (default) = exact numpy-parity
    *   percentiles (concatenate+sort per group — the reference's
    *   semantics, runner.py:823-904; a giant group's values land on
    *   one reducer). false = Spark's mergeable Greenwald-Khanna
    *   sketch (`percentile_approx`): map-side summaries, bounded
    *   memory, no skewed reducer — the 100 TB scale path.
    * @param lastWins false (default) = pair-join semantics: every
    *   overlapping zone receives the pixel (the reference's
    *   `polygons_might_overlap=True` disjoint-set mode). true =
    *   last-burn-wins: zones rasterized in ONE pass in input order,
    *   later zones overwrite earlier ones where they overlap — the
    *   reference's production job path (`polygons_might_overlap=False`,
    *   runner.py:483-484,960).
    * @param fallbackTiles when the caller owns a prunable source
    *   (TileTable), a function producing a scan restricted to an
    *   envelope — the unset-FID fallback pass then reads only the
    *   tiles covering the fallback windows instead of re-scanning
    *   `tiles`. At scale the windows are a sliver-sized subset of the
    *   zones, so this turns an O(table) rescan into an O(windows)
    *   read.
    * @param fallbackHasTiles manifest-prune short-circuit: when the
    *   caller can prove that NO tile intersects the unset zones'
    *   envelope, the fallback scan would produce zero partials —
    *   identical to the rollup's zero-fill — so it is skipped. */
  def run(spark: SparkSession, tiles: DataFrame, zonesRaw: Seq[Zone],
      grid: RasterGrid, nodata: Option[Double],
      percentilesRaw: Seq[Double] = Nil,
      simplify: Boolean = true,
      exactPercentiles: Boolean = true,
      lastWins: Boolean = false,
      fallbackTiles: Option[Envelope => DataFrame] = None,
      histogram: Option[(Double, Double, Int)] = None,
      fallbackHasTiles: Option[Envelope => Boolean] = None): DataFrame =
    direct(spark, tiles, new ZoneRun(spark, zonesRaw, grid, nodata,
        simplify), percentilesRaw, exactPercentiles, lastWins, histogram,
      env => if (fallbackHasTiles.exists(f => !f(env))) None
        else Some(fallbackTiles.fold(tiles)(_(env))))

  /** The single-pass run of [[run]] and [[runTable]]. */
  private def direct(spark: SparkSession, tiles: DataFrame, zr: ZoneRun,
      percentilesRaw: Seq[Double], exactPercentiles: Boolean,
      lastWins: Boolean, histogram: Option[(Double, Double, Int)],
      fallback: Envelope => Option[DataFrame]): DataFrame =
    zr.releasing {
      val percentiles = normalizePercentiles(percentilesRaw)
      // bbox short-circuit (runner.py:409-450): zero stats, no tile IO
      if (!Zone.totalEnvelope(zr.zones).intersects(zr.grid.rasterEnvelope))
        ZonalStats.groupStatsLocalFrame(spark, Nil, zr.zoneGroups,
          percentileKeys(percentiles))
      else {
        // The decode+PIP kernel is the dominant cost: it must run
        // exactly once. Its per-FID stats are zone-cardinality small,
        // so they are COLLECTED (one job) and every downstream
        // consumer — fallback detection, rollup — reads the
        // driver-side rows. The raw partials are cached only when the
        // exact-percentile path needs their value chunks a second time.
        val collectVals = percentiles.nonEmpty
        val partials0 = zr.partials(tiles, collectVals, lastWins)
        val partials =
          if (!collectVals) partials0
          else zr.pin(partials0.persist(StorageLevel.MEMORY_AND_DISK))(
            _.unpersist(false))
        val fidRows =
          ZonalStats.collectFidStats(ZonalStats.fidStats(partials))
        finishStats(spark, zr, fidRows,
          if (collectVals) Some(valueChunks(partials)) else None,
          percentiles, exactPercentiles, histogram, fallback)
      }
    }

  /** The (fid, vals) percentile value chunks of a partials frame. */
  private[graft] def valueChunks(partials: Dataset[_]): DataFrame =
    partials.select(col("fid"), col("vals")).where(size(col("vals")) > 0)

  /** The tail of every zonal path — direct ([[run]]), checkpointed
    * ([[graft.engine.Checkpoints]]) and incremental
    * ([[runIncremental]]): given the kernel stage's per-FID stats as
    * DRIVER-SIDE rows (and optional percentile value chunks), run the
    * unset-FID envelope fallback, the group percentiles (the only
    * Spark work left, [[ZonalStats.groupPercentiles]]) and the
    * driver-side rollup ([[ZonalStats.groupStatsLocalFrame]]). The
    * result is a local, materialized frame, so the caller's
    * [[ZoneRun.releasing]] drops the run's caches right after it.
    *
    * @param zr       the run whose (simplified) zones the kernel saw;
    *   the fallback pass pins its caches there
    * @param fallback the fallback pass's tile scan for an envelope, or
    *   None when the caller proves no tile intersects it
    */
  private[graft] def finishStats(spark: SparkSession, zr: ZoneRun,
      fidRows: Seq[ZonalStats.FidStatRow], mainChunks: Option[DataFrame],
      percentiles: Seq[Double], exactPercentiles: Boolean,
      histogram: Option[(Double, Double, Int)],
      fallback: Envelope => Option[DataFrame]): DataFrame = {
    import spark.implicits._
    // ---- unset-FID envelope fallback (runner.py:697-811) ----
    val presentFids = fidRows.iterator.map(_.fid).toSet
    val unset = zr.zones.filter(z => !presentFids.contains(z.fid))
    val (fallbackRows, fallbackChunks) =
      (if (unset.isEmpty) None else fallback(Zone.totalEnvelope(unset)))
        .fold((Seq.empty[ZonalStats.FidStatRow], Option.empty[DataFrame]))(
          runFallback(spark, _, unset, zr, mainChunks.isDefined))

    val pcts = mainChunks match {
      case None => Map.empty[Option[String], IndexedSeq[java.lang.Double]]
      case Some(mc) =>
        val all = fallbackChunks.fold(mc)(mc.unionByName(_))
        ZonalStats.groupPercentiles(
          broadcast(zr.zoneGroups.toDF("fid", "group"))
            .join(all, Seq("fid")).select("group", "vals"),
          percentiles.toArray, exactPercentiles, histogram)
    }
    ZonalStats.groupStatsLocalFrame(spark, fidRows ++ fallbackRows,
      zr.zoneGroups, percentileKeys(percentiles), pcts)
  }

  /** Envelope-window fallback for zones that captured no pixel:
    * per PART of each multi-geometry, stats over the WHOLE clamped
    * envelope window (no PIP — a reference quirk), scalars overwritten
    * so the LAST nonempty part wins; percentile chunks accumulate
    * across parts (runner.py:700-811).
    */
  private def runFallback(spark: SparkSession, tiles: DataFrame,
      unset: Seq[Zone], zr: ZoneRun, collectVals: Boolean)
      : (Seq[ZonalStats.FidStatRow], Option[DataFrame]) = {
    import spark.implicits._
    val grid = zr.grid

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

    val bcWin = zr.pin(spark.sparkContext.broadcast((windows, tree)))(
      _.destroy())
    val nodata = zr.nodata // the closure below must not capture `zr`

    val winPartials0 = tiles.select("image_id", "bytes", "fmt")
      .as[(String, Array[Byte], String)]
      .flatMap { case (id, bytes, fmt) =>
        val (ws, t) = bcWin.value
        fallbackTileKernel(id, bytes, fmt, grid, ws, t, nodata, collectVals)
      }
    // cache only when the percentile path re-reads the value chunks —
    // the scalar-stats path consumes the kernel output exactly once
    val winPartials =
      if (!collectVals) winPartials0
      else zr.pin(winPartials0.persist(StorageLevel.MEMORY_AND_DISK))(
        _.unpersist(false))

    val agg = winPartials.groupBy("fid", "part")
      .agg(ZonalStats.fidAggs.head, ZonalStats.fidAggs.tail: _*).collect()

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

    (rows, if (collectVals) Some(valueChunks(winPartials)) else None)
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
