package graft.engine

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.{XXHash64, ZonalPartialsGen}
import graft.geom.{Zone, ZoneIndex}
import graft.operators.{ZonalEngine, ZonalStats}
import graft.operators.ZonalStats.FidStatRow
import graft.sources.{TileFileStat, TileManifest, TileTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Chunked, resumable zonal-stats execution — the engine's answer to
  * the reference's TaskGraph memoization (`/root/reference/
  * runner.py:1093-1098`) and the north rule's "resumable from
  * checkpoint with per-partition lineage + metrics".
  *
  * A chunk is a CONTIGUOUS GROUP of the tile table's cell-sorted
  * manifest files (not one file): with a 10^5–10^6-file manifest, one
  * Spark job per file would serialize the cluster behind driver
  * round-trips, so files are grouped into at most `maxChunks` jobs,
  * each wide enough to saturate cluster parallelism while keeping
  * checkpoint granularity.
  *
  * Every chunk is ONE Spark job — the kernel (decode + scanline
  * assign) pass — whose output lands in `<ckptDir>/chunk=<i>/`:
  *   - without percentiles, the chunk's per-FID stats, collected to
  *     the driver and written atomically as `stats.json`;
  *   - with percentiles, the raw per-(tile, fid) partials (with their
  *     value chunks), written straight from the kernel pass as
  *     `partials/` parquet — nothing is cached, and the chunk's row and
  *     pixel totals are observed on that same write.
  * A `lineage.json` written LAST records the chunk's file list, input
  * fingerprint, cell range, runId, wall time and metrics: `partialRows`
  * (kernel output rows) and `pixels` (pixels assigned to a zone), plus
  * their per-scan-partition split (`partitions`) on the stats.json
  * path, where it comes free with the collect.
  *
  * A restarted run skips every chunk whose lineage exists AND whose
  * fingerprint matches the current inputs (zone set, file stats,
  * flags) — a stale or foreign checkpoint dir, or a chunk whose output
  * landed without its lineage, is recomputed instead of silently
  * merged. The merge yields driver-side per-FID rows, which feed the
  * engine's one driver-side rollup ([[ZonalEngine.finishStats]]);
  * interrupted runs resume to identical results.
  */
object Checkpoints {
  private val mapper = new ObjectMapper()
  // Hadoop conf for fingerprint stats: prefer the Spark session's
  // (it carries spark.hadoop.* — s3a credentials/endpoints, kerberos —
  // without which remote getFileStatus fails and the size guard would
  // silently degrade); the bare-Configuration fallback is cached
  // because constructing one re-parses the default XMLs (tens of ms)
  private lazy val fallbackHadoopConf =
    new org.apache.hadoop.conf.Configuration()
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(fallbackHadoopConf)

  /** Default chunk-count cap — shared with verification code that
    * re-derives chunk indices (keep in sync by REFERENCE, not copy). */
  val DefaultMaxChunks = 64

  def chunkDir(ckptDir: String, i: Int): String = f"$ckptDir/chunk=$i%05d"

  /** Group the manifest's cell-sorted files into at most `maxChunks`
    * contiguous chunks (spatially coherent because files are
    * cell-range sorted). */
  def chunkFiles(files: Seq[TileFileStat],
      maxChunks: Int): Seq[Seq[TileFileStat]] = {
    val n = math.min(math.max(1, maxChunks), math.max(1, files.size))
    if (files.isEmpty) Seq.empty
    else {
      val per = math.ceil(files.size.toDouble / n).toInt
      files.grouped(per).toSeq
    }
  }

  /** Digest of the CHUNK-INVARIANT inputs: the simplified zone set
    * (fid, group, geometry WKB), the table's grid geo-referencing,
    * nodata, SRS and band metadata, and the collectValues flag.
    * Computed once per run (the zone hash is O(zones) — doing it per
    * chunk would rebuild a multi-MB buffer chunks× times on the
    * driver); per-chunk fingerprints mix in only the file stats.
    * File pixel CONTENT is represented by the per-file
    * (path, cellMin, cellMax, rows, byteSize) stats — see
    * [[fingerprint]]; a regenerated file virtually always changes its
    * compressed size, so in-place rewrites invalidate checkpoints
    * (byte-identical regeneration is the one remaining blind spot —
    * and is also harmless). */
  def contextDigest(zones: Seq[Zone], manifest: TileManifest,
      collectValues: Boolean): String = {
    val sb = new StringBuilder
    zones.foreach { z =>
      sb.append(z.fid).append('|').append(z.group).append('|')
        .append(XXHash64.hash(Zone.toWkb(z.geom))).append('\n')
    }
    sb.append(manifest.grid.toString).append('\n')
    sb.append(manifest.nodata).append('|')
      .append(manifest.srs).append('|')
      .append(manifest.bands.map(b => s"${b.band}:${b.nodata}")
        .mkString(",")).append('|')
    sb.append(collectValues)
    // row-level deletes change a chunk's LIVE rows without changing
    // its file list — memoized chunk stats must not survive them
    if (manifest.deletes.nonEmpty)
      sb.append('|').append(manifest.deletes
        .map(d => s"${d.path}:${d.nKeys}").mkString(","))
    f"${XXHash64.hashString(sb.toString, 42L)}%016x"
  }

  /** Per-chunk fingerprint: context digest + this chunk's file stats,
    * including each file's on-disk byte size (regenerating a table in
    * place with identical cell stats but different content then
    * invalidates the checkpoint instead of silently reusing it).
    * Recorded in lineage.json; resume recomputes on mismatch. */
  def fingerprint(ctx: String, files: Seq[TileFileStat],
      root: String): String = {
    // Hadoop FileSystem stat, so the byte-size guard works for any
    // root the table can live on (local, hdfs://, s3a://), not just
    // java.nio-visible paths
    val sb = new StringBuilder(ctx)
    files.foreach { f =>
      val size =
        try {
          val p = new org.apache.hadoop.fs.Path(s"$root/${f.path}")
          p.getFileSystem(hadoopConf).getFileStatus(p).getLen
        } catch { case _: Exception => -1L }
      sb.append(f.path).append('|').append(f.cellMin).append('|')
        .append(f.cellMax).append('|').append(f.rows).append('|')
        .append(size).append('\n')
    }
    f"${XXHash64.hashString(sb.toString, 42L)}%016x"
  }

  /** Existence-only check (lineage written atomically last). */
  def isChunkDone(ckptDir: String, i: Int): Boolean =
    Files.exists(Paths.get(chunkDir(ckptDir, i), "lineage.json"))

  /** Resume-safe check: lineage exists AND was produced from the same
    * inputs. */
  def isChunkDone(ckptDir: String, i: Int, expectedFp: String): Boolean =
    lineageField(ckptDir, i, "fingerprint").contains(expectedFp)

  /** Run the per-FID partial-stats stage chunk by chunk with
    * checkpointing; returns the merged per-FID stats as driver-side
    * rows (zone-cardinality — the engine's broadcastable-zones
    * assumption), the percentile value-chunk frame (fid, vals) when
    * `collectValues`, and the number of chunks actually (re)computed
    * this run.
    *
    * Each chunk costs exactly one Spark job (see the object doc). The
    * non-percentile path pre-aggregates per (scan partition, fid) in
    * that job and merges on the driver in a fixed order (partition,
    * fid, chunk), so resumed and fresh runs are float64-bit-identical
    * and the merge runs no Spark job at all. The percentile path
    * writes its partials parquet in that job; the merge then reads
    * every chunk's partials with their known schema (no footer
    * inference), collects the per-FID stats ONCE, and hands the value
    * chunks on for the group percentiles. Driver memory for the merge
    * is O(chunks × zones).
    *
    * @param filesOverride restrict the run to these manifest files
    *   (e.g. [[graft.sources.TileTable.prunedFiles]] of the zones'
    *   envelope) instead of the full table.
    * @param band for multi-band tables: the single band this run
    *   addresses (reference rasters are `(path, band)`,
    *   runner.py:264-265) — the chunk scan filters it and the band's
    *   own nodata applies; REQUIRED when the table is multi-band, or
    *   the scan would mix every band's rows. */
  def chunkedFidStats(spark: SparkSession, table: TileTable,
      zones: Seq[Zone], ckptDir: String, runId: String,
      collectValues: Boolean = false,
      maxChunks: Int = DefaultMaxChunks,
      lastWins: Boolean = false,
      filesOverride: Option[Seq[TileFileStat]] = None,
      band: Option[Int] = None)
      : (Seq[FidStatRow], Option[DataFrame], Int) = {
    require(table.manifest.bands.isEmpty || band.isDefined,
      s"${table.root} is multi-band: pass the band to address")
    val idx = new ZoneIndex(zones.toArray)
    val bc = spark.sparkContext.broadcast(idx)
    val grid = table.grid
    val nodata = table.nodataFor(band)
    val chunks = chunkFiles(filesOverride.getOrElse(table.manifest.files),
      maxChunks)
    val ctx = contextDigest(zones, table.manifest, collectValues) +
      (if (lastWins) "|lastWins" else "") +
      band.map(b => s"|band=$b").getOrElse("")
    val computed = new java.util.concurrent.atomic.AtomicInteger(0)

    // Chunks are independent Spark jobs; submitting them from a
    // bounded pool keeps several in flight so per-job fixed costs
    // (scheduling, parquet commit) overlap with other chunks' compute
    // instead of serializing the cluster behind the driver loop.
    val concurrency = math.min(math.max(1, chunks.size), math.max(1,
      sys.env.getOrElse("GRAFT_CKPT_CONCURRENCY", "12").toInt))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)

    def runChunk(files: Seq[TileFileStat], i: Int): Unit = {
      val fp = fingerprint(ctx, files, table.root)
      if (!isChunkDone(ckptDir, i, fp)) {
        val t0 = System.nanoTime()
        val dir = chunkDir(ckptDir, i)
        // tombstones apply per raw file-group scan — the chunked path
        // bypasses table.read(), so it must fold the deletes itself;
        // scanRaw also pins the TABLE schema (evolution defaults, no
        // per-file footer inference)
        val raw = table.applyDeletes(spark,
          table.scanRaw(spark, files.map(_.path)))
        val tiles = band.map(b => raw.where(col("band") === b))
          .getOrElse(raw)
        if (collectValues) {
          // percentile runs need the raw value chunks: the kernel pass
          // writes them directly, and the chunk totals ride on the
          // same job as observed metrics
          val obs = org.apache.spark.sql.Observation()
          ZonalStats.tilePartials(tiles, bc, grid, nodata,
              collectValues = true, lastWins)
            .observe(obs, count(lit(1)).as("rows"),
              coalesce(sum("cnt"), lit(0L)).as("pixels"))
            .write.mode("overwrite").parquet(s"$dir/partials")
          val m = obs.get
          writeLineage(dir, i, files, fp, runId,
            (System.nanoTime() - t0) / 1e6,
            m("rows").asInstanceOf[Long], m("pixels").asInstanceOf[Long],
            partitions = None)
        } else {
          // ONE Spark job per chunk: per-(partition, fid) pre-agg
          // collected to the driver (zone-cardinality × scan-partition
          // rows — a few KB), then a driver-side atomic stats file.
          // No cache, no second pass, no per-chunk parquet commit
          // protocol — the chunk's cost is the kernel, full stop.
          // The (partition, fid) ordering fixes the float64 merge
          // order, so resumed and fresh runs are bit-identical.
          val rows = ZonalStats.tilePartials(tiles, bc, grid, nodata,
              collectValues = false, lastWins)
            .toDF()
            .withColumn("_part", spark_partition_id())
            .groupBy("_part", "fid")
            .agg(count(lit(1)).as("nrows"), sum("cnt").as("cnt"),
              sum("nodata").as("nodata"), min("mn").as("mn"),
              max("mx").as("mx"), sum("sum").as("sum"),
              sum("sumsq").as("sumsq"))
            .collect()
            .sortBy(r => (r.getInt(0), r.getLong(1)))
          val metrics = rows.groupBy(_.getInt(0)).toSeq.map {
            case (part, rs) =>
              (part, rs.map(_.getLong(2)).sum, rs.map(_.getLong(3)).sum)
          }.toArray
          val byFid = scala.collection.mutable.LinkedHashMap
            .empty[Long, FidStatRow]
          rows.foreach { r =>
            val fid = r.getLong(1)
            val s = byFid.getOrElseUpdate(fid,
              FidStatRow(fid, 0L, 0L, Double.PositiveInfinity,
                Double.NegativeInfinity, 0.0, 0.0))
            byFid(fid) = FidStatRow(fid,
              s.cnt + r.getLong(3), s.nodata + r.getLong(4),
              math.min(s.mn, r.getDouble(5)), math.max(s.mx, r.getDouble(6)),
              s.sum + r.getDouble(7), s.sumsq + r.getDouble(8))
          }
          writeChunkStats(dir, byFid.values.toSeq.sortBy(_.fid))
          writeLineage(dir, i, files, fp, runId,
            (System.nanoTime() - t0) / 1e6, metrics.map(_._2).sum,
            metrics.map(_._3).sum, Some(metrics))
        }
        computed.incrementAndGet()
      }
    }

    val progress = Progress.attach(spark, s"$ckptDir/progress.jsonl")
    try {
      val futures = chunks.zipWithIndex.map { case (files, i) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = runChunk(files, i)
        })
      }
      futures.foreach(_.get()) // propagate the first failure
    } finally {
      pool.shutdownNow()
      Progress.detach(spark, progress)
      // chunk outputs live on disk (stats.json / parquet) — nothing
      // returned below references the zone broadcast, so drop it now
      // rather than waiting on the ContextCleaner
      bc.destroy()
    }

    if (chunks.isEmpty) (Nil, None, 0) // fully pruned table
    else if (collectValues) {
      val all = spark.read.schema(ZonalPartialsGen.Schema).parquet(
        chunks.indices.map(i => s"${chunkDir(ckptDir, i)}/partials"): _*)
      val vals = all.select(col("fid"), col("vals"))
        .where(size(col("vals")) > 0)
      (ZonalStats.collectFidStats(ZonalStats.fidStats(all)), Some(vals),
        computed.get())
    } else {
      // cross-chunk merge is a driver-side fold over the chunk stats
      // files in chunk order (zone-cardinality rows per chunk) —
      // deterministic float64 order, no Spark job at all
      val byFid = scala.collection.mutable.LinkedHashMap
        .empty[Long, FidStatRow]
      chunks.indices.foreach { i =>
        readChunkStats(chunkDir(ckptDir, i)).foreach { s =>
          val m = byFid.get(s.fid)
          byFid(s.fid) = m match {
            case None => s
            case Some(p) => FidStatRow(s.fid, p.cnt + s.cnt,
              p.nodata + s.nodata, math.min(p.mn, s.mn),
              math.max(p.mx, s.mx), p.sum + s.sum, p.sumsq + s.sumsq)
          }
        }
      }
      (byFid.values.toSeq.sortBy(_.fid), None, computed.get())
    }
  }

  /** Chunk stats sidecar (stats.json, written atomically BEFORE
    * lineage.json): doubles stored as raw IEEE-754 bits so ±Infinity
    * sentinels and exact values survive the JSON round-trip. */
  private def writeChunkStats(dir: String,
      stats: Seq[FidStatRow]): Unit = {
    val o = mapper.createArrayNode()
    stats.foreach { s =>
      val n = o.addObject()
      n.put("fid", s.fid); n.put("cnt", s.cnt); n.put("nodata", s.nodata)
      n.put("mn", java.lang.Double.doubleToRawLongBits(s.mn))
      n.put("mx", java.lang.Double.doubleToRawLongBits(s.mx))
      n.put("sum", java.lang.Double.doubleToRawLongBits(s.sum))
      n.put("sumsq", java.lang.Double.doubleToRawLongBits(s.sumsq))
    }
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, ".stats.json.tmp")
    Files.writeString(tmp, mapper.writeValueAsString(o))
    Files.move(tmp, Paths.get(dir, "stats.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private def readChunkStats(dir: String): Seq[FidStatRow] = {
    val p = Paths.get(dir, "stats.json")
    val arr = mapper.readTree(Files.readString(p))
    val out = scala.collection.mutable.ArrayBuffer.empty[FidStatRow]
    arr.forEach { n =>
      out += FidStatRow(n.get("fid").asLong(), n.get("cnt").asLong(),
        n.get("nodata").asLong(),
        java.lang.Double.longBitsToDouble(n.get("mn").asLong()),
        java.lang.Double.longBitsToDouble(n.get("mx").asLong()),
        java.lang.Double.longBitsToDouble(n.get("sum").asLong()),
        java.lang.Double.longBitsToDouble(n.get("sumsq").asLong()))
    }
    out.toSeq
  }

  /** Full resumable zonal run: chunked partials → merge → the shared
    * engine tail (fallback pass, rollup, exact percentiles,
    * zero-fill) — output-identical to [[ZonalEngine.run]] on the same
    * inputs, including `lastWins` (the INI job path's semantics) and
    * percentiles.
    *
    * @param keepCheckpoints false = the reference's
    *   `clean_working_dir=True` (`runner.py:921-923`): materialize the
    *   result, then delete the checkpoint dir.
    * @param fidStatsSink when set, receives the merged per-FID stats
    *   frame before the engine tail — the INI job path persists them
    *   (with the table version) so its NEXT run can fold only the CDC
    *   delta ([[ZonalJob.singleRaster]]) instead of rescanning.
    */
  def resumableZonalStats(spark: SparkSession, table: TileTable,
      zones: Seq[Zone], ckptDir: String, runId: String,
      percentiles: Seq[Double] = Nil,
      lastWins: Boolean = false,
      maxChunks: Int = DefaultMaxChunks,
      keepCheckpoints: Boolean = true,
      exactPercentiles: Boolean = true,
      band: Option[Int] = None,
      fidStatsSink: Option[DataFrame => Unit] = None): DataFrame = {
    val percs = ZonalEngine.normalizePercentiles(percentiles)
    val zonesSimpl = zones.map(z =>
      z.copy(geom = Zone.simplifyHalfPixel(z.geom, table.grid.gt.px)))
    // prune the chunk list to the zones' envelope — a job over a
    // region touches only that region's files, like the direct path
    val env = Zone.totalEnvelope(zonesSimpl)
    val (fidRows, vals, _) = chunkedFidStats(spark, table, zonesSimpl,
      ckptDir, runId, collectValues = percs.nonEmpty,
      maxChunks = maxChunks, lastWins = lastWins,
      filesOverride = Some(table.prunedFiles(env)), band = band)
    fidStatsSink.foreach(_(ZonalStats.fidStatsFrame(spark, fidRows)))
    val res = ZonalEngine.finishStats(spark, fidRows, vals, zonesSimpl,
      table.grid, table.nodataFor(band), percs, exactPercentiles,
      e => table.readPruned(spark, e, band), histogram = None,
      tilesNonEmpty = Some(e => table.prunedFiles(e).nonEmpty))
    if (keepCheckpoints) res
    else {
      // finishStats returns a MATERIALIZED local frame, so the scratch
      // dir is no longer referenced by any pending computation
      deleteRecursively(Paths.get(ckptDir))
      res
    }
  }

  /** Persist a per-FID stats frame (the `fidStats` shape) + the table
    * version it describes as an atomic JSON sidecar — doubles as raw
    * IEEE-754 bits, so ±Infinity sentinels and exact values survive
    * (the chunk-stats convention). Dimension-sized by the engine's
    * zones-are-broadcastable assumption, hence driver-side. */
  def writeFidStatsSidecar(path: String, fidStats: org.apache.spark.sql
      .DataFrame, version: Int, manifestFp: String = ""): Unit = {
    val o = mapper.createObjectNode()
    o.put("version", version)
    // identity of the manifest version the stats describe — a table
    // recreated at the same path restarts version numbers, and
    // folding a NEW table's CDC window into an OLD table's stats
    // must fail closed (readers compare this against the live chain)
    o.put("manifest_fp", manifestFp)
    val arr = o.putArray("fids")
    fidStats.select("fid", "cnt", "nodata", "mn", "mx", "sum", "sumsq")
      .collect().sortBy(_.getLong(0)).foreach { r =>
        val n = arr.addObject()
        n.put("fid", r.getLong(0)); n.put("cnt", r.getLong(1))
        n.put("nodata", r.getLong(2))
        n.put("mn", java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
        n.put("mx", java.lang.Double.doubleToRawLongBits(r.getDouble(4)))
        n.put("sum", java.lang.Double.doubleToRawLongBits(r.getDouble(5)))
        n.put("sumsq",
          java.lang.Double.doubleToRawLongBits(r.getDouble(6)))
      }
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, mapper.writeValueAsString(o))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Reload a [[writeFidStatsSidecar]] file → (stats frame, table
    * version, manifest fingerprint at write time); None when
    * absent/unreadable. */
  def readFidStatsSidecar(spark: SparkSession, path: String)
      : Option[(org.apache.spark.sql.DataFrame, Int, String)] = {
    import spark.implicits._
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else try {
      val j = mapper.readTree(Files.readString(p))
      val v = j.get("version").asInt()
      val fp = Option(j.get("manifest_fp")).map(_.asText()).getOrElse("")
      val rows = scala.collection.mutable
        .ArrayBuffer.empty[(Long, Long, Long, Double, Double, Double,
          Double)]
      j.get("fids").forEach { n =>
        rows += ((n.get("fid").asLong(), n.get("cnt").asLong(),
          n.get("nodata").asLong(),
          java.lang.Double.longBitsToDouble(n.get("mn").asLong()),
          java.lang.Double.longBitsToDouble(n.get("mx").asLong()),
          java.lang.Double.longBitsToDouble(n.get("sum").asLong()),
          java.lang.Double.longBitsToDouble(n.get("sumsq").asLong())))
      }
      Some((rows.toSeq
        .toDF("fid", "cnt", "nodata", "mn", "mx", "sum", "sumsq"), v, fp))
    } catch { case _: Exception => None }
  }

  /** Back-compat alias: resumable run without percentiles /
    * last-wins. */
  def resumableGroupStats(spark: SparkSession, table: TileTable,
      zones: Seq[Zone], ckptDir: String, runId: String,
      maxChunks: Int = DefaultMaxChunks,
      keepCheckpoints: Boolean = true): DataFrame =
    resumableZonalStats(spark, table, zones, ckptDir, runId,
      maxChunks = maxChunks, keepCheckpoints = keepCheckpoints)

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteRecursively(_)) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  private def writeLineage(dir: String, chunk: Int,
      files: Seq[TileFileStat], fp: String, runId: String, wallMs: Double,
      partialRows: Long, pixels: Long,
      partitions: Option[Array[(Int, Long, Long)]]): Unit = {
    val o = mapper.createObjectNode()
    o.put("chunk", chunk)
    val fa = o.putArray("files")
    files.foreach(f => fa.add(f.path))
    o.put("cellMin", files.map(_.cellMin).min)
    o.put("cellMax", files.map(_.cellMax).max)
    o.put("fingerprint", fp)
    o.put("runId", runId)
    o.put("wallMs", wallMs)
    o.put("partialRows", partialRows)
    o.put("pixels", pixels)
    partitions.foreach { ps =>
      val arr = o.putArray("partitions")
      ps.sortBy(_._1).foreach { case (p, rows, px) =>
        val po = arr.addObject()
        po.put("partition", p); po.put("partialRows", rows)
        po.put("pixels", px)
      }
    }
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, ".lineage.json.tmp")
    Files.writeString(tmp,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o))
    Files.move(tmp, Paths.get(dir, "lineage.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private def lineageField(ckptDir: String, i: Int,
      field: String): Option[String] = {
    val p = Paths.get(chunkDir(ckptDir, i), "lineage.json")
    if (!Files.exists(p)) None
    else Option(mapper.readTree(Files.readString(p)).get(field))
      .map(_.asText())
  }

  def lineageRunId(ckptDir: String, i: Int): Option[String] =
    lineageField(ckptDir, i, "runId")
}
