package graft.engine

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.{XXHash64, ZonalPartialsGen}
import graft.geom.Zone
import graft.operators.{ZonalEngine, ZonalStats}
import graft.operators.ZonalStats.FidStatRow
import graft.sources.{TileFileStat, TileManifest, TileTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}

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
  *
  * The run's head is the engine's too: the zones are simplified,
  * indexed and broadcast once ([[ZonalEngine.ZoneRun]], released with
  * the run's other caches), the table is addressed as one band
  * ([[ZonalEngine.BandScan]]), and both merges fold with the one
  * per-FID monoid ([[ZonalStats.foldFidRows]]).
  */
object Checkpoints {
  private val mapper = new ObjectMapper()

  /** Default chunk-count cap — shared with verification code that
    * re-derives chunk indices (keep in sync by REFERENCE, not copy). */
  val DefaultMaxChunks = 64

  /** Chunk jobs kept in flight at once. */
  private val ChunkConcurrency = 12

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
    * Recorded in lineage.json; resume recomputes on mismatch.
    *
    * @param hadoopConf the session's Hadoop conf: it carries
    *   spark.hadoop.* (s3a credentials/endpoints, kerberos), without
    *   which a remote stat fails and the size guard silently degrades */
  def fingerprint(ctx: String, files: Seq[TileFileStat], root: String,
      hadoopConf: org.apache.hadoop.conf.Configuration): String = {
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
    * checkpointing over `files`, against the zones `zr` prepared;
    * returns the merged per-FID stats as driver-side rows
    * (zone-cardinality — the engine's broadcastable-zones assumption)
    * and, when `collectValues`, the percentile value-chunk frame
    * (fid, vals).
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
    * is O(chunks × zones). */
  private def chunkedFidStats(spark: SparkSession, scan: ZonalEngine.BandScan,
      zr: ZonalEngine.ZoneRun, files: Seq[TileFileStat], ckptDir: String,
      runId: String, collectValues: Boolean, maxChunks: Int,
      lastWins: Boolean): (Seq[FidStatRow], Option[DataFrame]) = {
    val table = scan.table
    val chunks = chunkFiles(files, maxChunks)
    val ctx = contextDigest(zr.zones, table.manifest, collectValues) +
      (if (lastWins) "|lastWins" else "") +
      scan.band.map(b => s"|band=$b").getOrElse("")

    // Chunks are independent Spark jobs; submitting them from a
    // bounded pool keeps several in flight so per-job fixed costs
    // (scheduling, parquet commit) overlap with other chunks' compute
    // instead of serializing the cluster behind the driver loop.
    val concurrency = math.min(math.max(1, chunks.size), ChunkConcurrency)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)

    def runChunk(files: Seq[TileFileStat], i: Int): Unit = {
      val fp = fingerprint(ctx, files, table.root,
        spark.sparkContext.hadoopConfiguration)
      if (!isChunkDone(ckptDir, i, fp)) {
        val t0 = System.nanoTime()
        val dir = chunkDir(ckptDir, i)
        // tombstones apply per raw file-group scan — the chunked path
        // bypasses table.read(), so it must fold the deletes itself;
        // scanRaw also pins the TABLE schema (evolution defaults, no
        // per-file footer inference)
        val tiles = scan.rows(table.applyDeletes(spark,
          table.scanRaw(spark, files.map(_.path))))
        if (collectValues) {
          // percentile runs need the raw value chunks: the kernel pass
          // writes them directly, and the chunk totals ride on the
          // same job as observed metrics
          val obs = org.apache.spark.sql.Observation()
          zr.partials(tiles, collectValues = true, lastWins)
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
          val rows = zr.partials(tiles, collectValues = false, lastWins)
            .withColumn("_part", spark_partition_id())
            .groupBy("_part", "fid")
            .agg(count(lit(1)).as("nrows"), ZonalStats.fidAggs: _*)
            .collect()
            .sortBy(r => (r.getInt(0), r.getLong(1)))
          val metrics = rows.groupBy(_.getInt(0)).toSeq.map {
            case (part, rs) =>
              (part, rs.map(_.getLong(2)).sum, rs.map(_.getLong(3)).sum)
          }.toArray
          val byFid = scala.collection.mutable.LinkedHashMap
            .empty[Long, FidStatRow]
          ZonalStats.foldFidRows(byFid, rows.iterator.map(r =>
            FidStatRow(r.getLong(1), r.getLong(3), r.getLong(4),
              r.getDouble(5), r.getDouble(6), r.getDouble(7),
              r.getDouble(8))), fromZero = true)
          writeChunkStats(dir, byFid.values.toSeq.sortBy(_.fid))
          writeLineage(dir, i, files, fp, runId,
            (System.nanoTime() - t0) / 1e6, metrics.map(_._2).sum,
            metrics.map(_._3).sum, Some(metrics))
        }
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
    }

    if (chunks.isEmpty) (Nil, None) // fully pruned table
    else if (collectValues) {
      val all = spark.read.schema(ZonalPartialsGen.Schema).parquet(
        chunks.indices.map(i => s"${chunkDir(ckptDir, i)}/partials"): _*)
      (ZonalStats.collectFidStats(ZonalStats.fidStats(all)),
        Some(ZonalEngine.valueChunks(all)))
    } else {
      // cross-chunk merge is a driver-side fold over the chunk stats
      // files in chunk order (zone-cardinality rows per chunk) —
      // deterministic float64 order, no Spark job at all
      val byFid = scala.collection.mutable.LinkedHashMap
        .empty[Long, FidStatRow]
      chunks.indices.foreach(i =>
        ZonalStats.foldFidRows(byFid, readChunkStats(chunkDir(ckptDir, i))))
      (byFid.values.toSeq.sortBy(_.fid), None)
    }
  }

  /** The per-FID stat rows as a JSON array — the one row format of the
    * chunk `stats.json` and the `fidstats.json` sidecar: doubles as
    * raw IEEE-754 bits, so ±Infinity sentinels and exact values survive
    * the round-trip. */
  private def putFidRows(arr: com.fasterxml.jackson.databind.node.ArrayNode,
      rows: Seq[FidStatRow]): Unit =
    rows.foreach { s =>
      val n = arr.addObject()
      n.put("fid", s.fid); n.put("cnt", s.cnt); n.put("nodata", s.nodata)
      n.put("mn", java.lang.Double.doubleToRawLongBits(s.mn))
      n.put("mx", java.lang.Double.doubleToRawLongBits(s.mx))
      n.put("sum", java.lang.Double.doubleToRawLongBits(s.sum))
      n.put("sumsq", java.lang.Double.doubleToRawLongBits(s.sumsq))
    }

  private def fidRowsOf(
      arr: com.fasterxml.jackson.databind.JsonNode): Seq[FidStatRow] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FidStatRow]
    def bits(n: com.fasterxml.jackson.databind.JsonNode, k: String) =
      java.lang.Double.longBitsToDouble(n.get(k).asLong())
    arr.forEach { n =>
      out += FidStatRow(n.get("fid").asLong(), n.get("cnt").asLong(),
        n.get("nodata").asLong(), bits(n, "mn"), bits(n, "mx"),
        bits(n, "sum"), bits(n, "sumsq"))
    }
    out.toSeq
  }

  /** Chunk stats sidecar (stats.json, written atomically BEFORE
    * lineage.json). */
  private def writeChunkStats(dir: String,
      stats: Seq[FidStatRow]): Unit = {
    val o = mapper.createArrayNode()
    putFidRows(o, stats)
    AtomicFile.write(Paths.get(dir, "stats.json"), mapper.writeValueAsString(o))
  }

  private def readChunkStats(dir: String): Seq[FidStatRow] =
    fidRowsOf(mapper.readTree(Files.readString(Paths.get(dir, "stats.json"))))

  /** Full resumable zonal run: chunked partials → merge → the shared
    * engine tail (fallback pass, rollup, exact percentiles,
    * zero-fill) — output-identical to [[ZonalEngine.run]] on the same
    * inputs, including `lastWins` (the INI job path's semantics) and
    * percentiles.
    *
    * @param band for multi-band tables: the single band this run
    *   addresses (reference rasters are `(path, band)`,
    *   runner.py:264-265) — the chunk scan filters it and the band's
    *   own nodata applies; REQUIRED when the table is multi-band
    *   ([[ZonalEngine.BandScan]]).
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
    val scan = new ZonalEngine.BandScan(table, band)
    val zr = scan.zoneRun(spark, zones)
    val res = zr.releasing {
      // prune the chunk list to the zones' envelope — a job over a
      // region touches only that region's files, like the direct path
      val (fidRows, vals) = chunkedFidStats(spark, scan, zr,
        table.prunedFiles(Zone.totalEnvelope(zr.zones)), ckptDir, runId,
        collectValues = percs.nonEmpty, maxChunks, lastWins)
      fidStatsSink.foreach(_(ZonalStats.fidStatsFrame(spark, fidRows)))
      ZonalEngine.finishStats(spark, zr, fidRows, vals, percs,
        exactPercentiles, histogram = None, scan.fallback(spark))
    }
    // finishStats returns a MATERIALIZED local frame, so the scratch
    // dir is no longer referenced by any pending computation
    if (!keepCheckpoints) deleteRecursively(Paths.get(ckptDir))
    res
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
    putFidRows(o.putArray("fids"),
      ZonalStats.collectFidStats(fidStats).sortBy(_.fid))
    AtomicFile.write(Paths.get(path), mapper.writeValueAsString(o))
  }

  /** Reload a [[writeFidStatsSidecar]] file → (stats frame, table
    * version, manifest fingerprint at write time); None when
    * absent/unreadable. */
  def readFidStatsSidecar(spark: SparkSession, path: String)
      : Option[(org.apache.spark.sql.DataFrame, Int, String)] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else try {
      val j = mapper.readTree(Files.readString(p))
      val v = j.get("version").asInt()
      val fp = Option(j.get("manifest_fp")).map(_.asText()).getOrElse("")
      Some((ZonalStats.fidStatsFrame(spark, fidRowsOf(j.get("fids"))), v,
        fp))
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
    AtomicFile.write(Paths.get(dir, "lineage.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o))
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
