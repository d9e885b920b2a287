package graft.perfbench

import graft.geom.{RasterGrid, Zone, ZoneIndex}

/** The per-layer ledger of a traced run. BENCHMARK.json's per_layer
  * list, which run.py passes in, names the metrics and their units;
  * every workload prints all of them, and one that does not apply to a
  * workload reads 0. */
object Layers {
  /** Ledger from the ops' listener counters, the tracer and the
    * workload's probes (a probe overrides a counter of the same name). */
  def common(c: Ctx, ops: Seq[OpRec], probes: Seq[(String, Double)],
      overheadS: Double): Seq[(String, Double, String)] = {
    def med(f: OpRec => Double) = Stats.median(ops.map(f))
    val fromOps = Seq(
      "sources.scan_mb" -> med(_.spark.inputBytes / 1048576.0),
      "sources.scan_tasks" -> med(_.spark.scanTasks.toDouble),
      "functions.kernel_task_s" -> med(_.spark.scanRunMs / 1e3),
      "functions.kernel_cpu_s" -> med(_.spark.scanCpuNs / 1e9),
      "operators.shuffle_mb" -> med(_.spark.shuffleWriteBytes / 1048576.0),
      "spark.jobs_per_op" -> med(_.spark.jobs.toDouble),
      "spark.stages_per_op" -> med(_.spark.stages.toDouble),
      "spark.tasks_per_op" -> med(_.spark.tasks.toDouble),
      "spark.driver_only_s" -> med(_.driverOnlyS),
      "jvm.gc_s" -> med(_.gcS),
      "jvm.jit_ms" -> med(_.jitMs.toDouble),
      "jvm.heap_peak_mb" -> ops.map(_.heapPeakMb).max,
      "host.steal_pct" -> ops.map(_.stealPct).sum / ops.size)
    val self = c.tracer.selfPerOp.collect {
      case (l, v) if l != "op" => s"$l.self_s" -> v
    }
    val tr = Seq("trace.coverage" -> c.tracer.coverage,
      "trace.overhead_s" -> overheadS)
    val m = (fromOps ++ self ++ tr ++ probes).toMap
    val unlisted = m.keySet -- c.args.layers.map(_._1)
    require(unlisted.isEmpty, "metrics missing from BENCHMARK.json's per_layer: " +
      unlisted.toSeq.sorted.mkString(", "))
    c.args.layers.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }

  /** Median seconds of `reps` runs of body. */
  def timeS(reps: Int)(body: => Unit): Double =
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })

  /** Single-thread probes of the decode and tile-kernel layers over a
    * fixed seeded sample of tiles, and of the zone index over every
    * tile of the grid. */
  def tileProbes(grid: RasterGrid, zonesRaw: Seq[Zone], seed: Long,
      variant: Int, nodata: Option[Double], lastWins: Boolean): Seq[(String, Double)] = {
    val rnd = new java.util.Random(seed + 99)
    val sample = (0 until 64).map { _ =>
      graft.synth.Synth.makeTile(grid, rnd.nextInt(grid.tilesY),
        rnd.nextInt(grid.tilesX), "png", variant)
    }
    val zones = zonesRaw.map(z => z.copy(geom = Zone.simplifyHalfPixel(z.geom, grid.gt.px)))
    var idx: ZoneIndex = null
    val firstEnv = grid.tileEnvelope(0, 0)
    val buildMs = timeS(3) { idx = new ZoneIndex(zones.toArray); idx.candidates(firstEnv) } * 1e3
    val decodeS = timeS(5) {
      sample.foreach(t => graft.functions.ImageCodec.decodeTL(t.bytes, "png"))
    }
    val kernelS = timeS(5) {
      sample.foreach { t =>
        val it = if (lastWins) graft.operators.ZonalStats.processTileLastWins(
          t.image_id, t.bytes, "png", grid, idx, nodata, collectValues = false)
        else graft.operators.ZonalStats.processTile(
          t.image_id, t.bytes, "png", grid, idx, nodata, collectValues = false)
        it.foreach(_ => ())
      }
    }
    var cands = 0L; var covers = 0L
    val t0 = System.nanoTime()
    for (tr <- 0 until grid.tilesY; tc <- 0 until grid.tilesX)
      cands += idx.candidates(grid.tileEnvelope(tr, tc)).length
    val lookupNs = (System.nanoTime() - t0).toDouble / grid.numTiles
    for (tr <- 0 until grid.tilesY; tc <- 0 until grid.tilesX) {
      val e = grid.tileEnvelope(tr, tc)
      idx.candidates(e).foreach(i => if (idx.coversRect(i, e)) covers += 1)
    }
    Seq("geom.index_build_ms" -> buildMs,
      "geom.candidates_per_tile" -> cands.toDouble / grid.numTiles,
      "geom.cover_frac" -> (if (cands == 0) 0.0 else covers.toDouble / cands),
      "geom.lookup_ns" -> lookupNs,
      "functions.decode_us_per_tile" -> decodeS / sample.size * 1e6,
      "operators.tile_kernel_us_per_tile" -> math.max(0.0, kernelS - decodeS) / sample.size * 1e6)
  }
}
