package graft.engine

import graft.SparkSpec
import graft.oracle.RefOracle
import graft.sources.TileTable
import graft.synth.Synth

import java.nio.file.{Files, Paths}

/** End-to-end job parity: INI config → multi-raster zonal job → CSV
  * bytes compared against a CSV rendered from the single-threaded
  * reference-semantics oracle (SURVEY.md §5.4). */
class JobCsvSpec extends SparkSpec {
  private val grid = Synth.testGrid

  private def oracleCsv(rowColOrder: String, stems: Seq[String],
      variants: Seq[Int], percentiles: Seq[Double]): Seq[String] = {
    val zones = Fixtures.zonesBasic(grid)
    val pKeys = graft.operators.ZonalEngine.percentileKeys(
      percentiles.distinct.sorted)
    val stats = stems.zip(variants).map { case (stem, v) =>
      // job path = reference polygons_might_overlap=False → lastWins
      val m = RefOracle.zonalStats(grid, Synth.valueFn(v), zones,
        Some(-9999.0), percentiles, lastWins = true)
      stem -> m.map { case (g, s) =>
        g -> (Map[String, Option[Any]](
          "min" -> s.min, "max" -> s.max, "count" -> Some(s.count),
          "nodata_count" -> Some(s.nodataCount),
          "valid_count" -> Some(s.validCount), "sum" -> Some(s.sum),
          "stdev" -> s.stdev) ++ pKeys.zip(s.pcts).toMap)
      }
    }.toMap
    ZonalJob.renderCsv("grp_field", rowColOrder, stems, stats, pKeys)
  }

  test("job E2E: both pivot orientations match oracle CSV byte-for-byte") {
    val work = Files.createTempDirectory("graft-job")
    // two "rasters" = two tile tables with different pixel fields
    val stems = Seq("rasterA", "rasterB")
    Seq(0, 1).zip(stems).foreach { case (v, stem) =>
      TileTable.write(spark, Synth.tiles(spark, grid, "raw", v), grid,
        Some(-9999.0), s"$work/$stem", cellLevel = 8, numFiles = 2)
    }
    val vecDir = Files.createDirectory(work.resolve("vec"))
    ZoneStore.write(spark, Fixtures.zonesBasic(grid), "grp_field",
      s"$vecDir/zones.parquet")

    for (order <- Seq("agg_field,base_raster", "base_raster,agg_field")) {
      val job = Config.JobSpec(
        tag = "t1", aggVector = s"$vecDir/zones.parquet",
        aggLayer = "zones", aggField = "grp_field",
        rasterPaths = stems.map(s => s"$work/$s"),
        operations = Seq("avg", "stdev", "valid_count", "total_count",
          "p5", "p95"),
        rowColOrder = order, workdir = s"$work/wd",
        outputCsv = s"$work/out_${order.replace(',', '_')}.csv")
      val outPath = ZonalJob.run(spark, job, timestamp = None)
      val got = Files.readString(Paths.get(outPath))
      val exp = oracleCsv(order, stems, Seq(0, 1), job.percentiles)
        .mkString("", "\r\n", "\r\n")
      assert(got === exp, s"order=$order")
    }
  }

  test("job crash-resume: byte-identical CSV, finished chunks not redone") {
    val work = Files.createTempDirectory("graft-job-resume")
    TileTable.write(spark, Synth.tiles(spark, grid, "raw", 0), grid,
      Some(-9999.0), s"$work/rasterA", cellLevel = 8, numFiles = 4)
    val vecDir = Files.createDirectory(work.resolve("vec"))
    ZoneStore.write(spark, Fixtures.zonesBasic(grid), "grp_field",
      s"$vecDir/zones.parquet")
    val job = Config.JobSpec(
      tag = "t1", aggVector = s"$vecDir/zones.parquet",
      aggLayer = "zones", aggField = "grp_field",
      rasterPaths = Seq(s"$work/rasterA"),
      operations = Seq("avg", "p5", "p95"),
      rowColOrder = "agg_field,base_raster", workdir = s"$work/wd",
      outputCsv = s"$work/out.csv")

    val csv1 = Files.readString(Paths.get(ZonalJob.run(spark, job, None)))
    val ckpt = ZonalJob.ckptDirFor(job, s"$work/rasterA")
    val table = TileTable.open(s"$work/rasterA")
    val nChunks = Checkpoints.chunkFiles(table.manifest.files,
      Checkpoints.DefaultMaxChunks).size
    assert(nChunks >= 2)
    val run1Ids = (0 until nChunks).map(Checkpoints.lineageRunId(ckpt, _))
    assert(run1Ids.forall(_.isDefined))

    // crash-after-k-chunks state: the CSV never landed and the last
    // chunk is incomplete; finished chunks survive in the workdir
    Files.deleteIfExists(Paths.get(job.outputCsv))
    Checkpoints.deleteRecursively(
      Paths.get(Checkpoints.chunkDir(ckpt, nChunks - 1)))

    val csv2 = Files.readString(Paths.get(ZonalJob.run(spark, job, None)))
    assert(csv2 === csv1, "resumed CSV differs from the original run")
    // finished chunks kept their original lineage (not recomputed);
    // only the interrupted chunk was redone under a new run id
    (0 until nChunks - 1).foreach { i =>
      assert(Checkpoints.lineageRunId(ckpt, i) === run1Ids(i), s"chunk $i")
    }
    assert(Checkpoints.lineageRunId(ckpt, nChunks - 1) !==
      run1Ids(nChunks - 1))
  }

  /** Per-raster Spark-job ceiling for a checkpointed percentile job:
    * one kernel job per chunk, two for the per-FID merge, two for the
    * group percentiles, plus a share of the job's single vector load.
    * See CHANGES.md for how the figure was derived. */
  private val MaxJobsPerRaster = 10

  private def percentileJob(work: java.nio.file.Path, stems: Seq[String],
      numFiles: Int): Config.JobSpec = {
    Seq(0, 1).zip(stems).foreach { case (v, stem) =>
      TileTable.write(spark, Synth.tiles(spark, grid, "raw", v), grid,
        Some(-9999.0), s"$work/$stem", cellLevel = 8, numFiles = numFiles)
    }
    val vecDir = Files.createDirectory(work.resolve("vec"))
    ZoneStore.write(spark, Fixtures.zonesBasic(grid), "grp_field",
      s"$vecDir/zones.parquet")
    Config.JobSpec(
      tag = "t1", aggVector = s"$vecDir/zones.parquet",
      aggLayer = "zones", aggField = "grp_field",
      rasterPaths = stems.map(s => s"$work/$s"),
      operations = Seq("avg", "stdev", "valid_count", "total_count",
        "p5", "p50", "p95"),
      rowColOrder = "agg_field,base_raster", workdir = s"$work/wd",
      outputCsv = s"$work/out.csv")
  }

  test("checkpointed percentile job: one job per chunk, bounded jobs " +
      "per raster, no cache left behind, oracle CSV") {
    val work = Files.createTempDirectory("graft-job-jobs")
    val stems = Seq("rasterA", "rasterB")
    val job = percentileJob(work, stems, numFiles = 3)
    Caches.drain(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val o = ZonalJob.run(spark, job, timestamp = None)
      org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
      o
    } finally spark.sparkContext.removeSparkListener(listener)
    val perRaster = jobs.get.toDouble / stems.size
    assert(perRaster <= MaxJobsPerRaster,
      s"${jobs.get} Spark jobs for ${stems.size} rasters")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.map(_.name))
    assert(Caches.pending(spark) === 0)
    // every chunk recorded its totals from the write itself
    val ckpt = ZonalJob.ckptDirFor(job, s"$work/rasterA")
    val lineage = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(
        Paths.get(Checkpoints.chunkDir(ckpt, 0), "lineage.json")))
    assert(lineage.get("partialRows").asLong() > 0)
    assert(lineage.get("pixels").asLong() > 0)
    val exp = oracleCsv(job.rowColOrder, stems, Seq(0, 1), job.percentiles)
      .mkString("", "\r\n", "\r\n")
    assert(Files.readString(Paths.get(out)) === exp)
  }

  test("percentile crash-resume: a chunk whose parquet landed without " +
      "its lineage is recomputed; CSV byte-identical") {
    val work = Files.createTempDirectory("graft-job-pct-resume")
    val job = percentileJob(work, Seq("rasterA"), numFiles = 4)
    val csv1 = Files.readString(Paths.get(ZonalJob.run(spark, job, None)))
    val ckpt = ZonalJob.ckptDirFor(job, s"$work/rasterA")
    val nChunks = Checkpoints.chunkFiles(
      TileTable.open(s"$work/rasterA").manifest.files,
      Checkpoints.DefaultMaxChunks).size
    assert(nChunks >= 2)
    val run1Ids = (0 until nChunks).map(Checkpoints.lineageRunId(ckpt, _))
    // crash between the partials write and the lineage write
    val torn = nChunks - 1
    assert(Files.exists(Paths.get(Checkpoints.chunkDir(ckpt, torn),
      "partials", "_SUCCESS")))
    Files.delete(Paths.get(Checkpoints.chunkDir(ckpt, torn),
      "lineage.json"))
    Files.deleteIfExists(Paths.get(job.outputCsv))
    val csv2 = Files.readString(Paths.get(ZonalJob.run(spark, job, None)))
    assert(csv2 === csv1, "resumed CSV differs from the original run")
    (0 until torn).foreach { i =>
      assert(Checkpoints.lineageRunId(ckpt, i) === run1Ids(i), s"chunk $i")
    }
    val redone = Checkpoints.lineageRunId(ckpt, torn)
    assert(redone.isDefined && redone != run1Ids(torn),
      "the chunk without lineage was not recomputed")
  }

  test("job-level memoization: unchanged inputs skip, changed inputs rerun") {
    val work = Files.createTempDirectory("graft-job-memo")
    TileTable.write(spark, Synth.tiles(spark, grid, "raw", 0), grid,
      Some(-9999.0), s"$work/rasterA", cellLevel = 8, numFiles = 2)
    val vecDir = Files.createDirectory(work.resolve("vec"))
    ZoneStore.write(spark, Fixtures.zonesBasic(grid), "grp_field",
      s"$vecDir/zones.parquet")
    val job = Config.JobSpec(
      tag = "t1", aggVector = s"$vecDir/zones.parquet",
      aggLayer = "zones", aggField = "grp_field",
      rasterPaths = Seq(s"$work/rasterA"),
      operations = Seq("avg"),
      rowColOrder = "agg_field,base_raster", workdir = s"$work/wd",
      outputCsv = s"$work/out.csv")

    val out = ZonalJob.run(spark, job, None)
    // plant a sentinel: a MEMOIZED rerun must not touch the target
    Files.writeString(Paths.get(out), "SENTINEL")
    assert(ZonalJob.run(spark, job, None) === out)
    assert(Files.readString(Paths.get(out)) === "SENTINEL",
      "memoized job rewrote an up-to-date target")
    // changed inputs (different operations) must recompute
    val job2 = job.copy(operations = Seq("avg", "p50"))
    ZonalJob.run(spark, job2, None)
    val fresh = Files.readString(Paths.get(out))
    assert(fresh != "SENTINEL" && fresh.contains("p50"),
      "changed job was not recomputed")
    // changed TABLE CONTENT must recompute too: the fingerprint has
    // to track the versioned manifest chain, not a flat manifest.json
    // that versioned tables no longer update
    Files.writeString(Paths.get(out), "SENTINEL2")
    TileTable.appendBatch(spark, s"$work/rasterA",
      Synth.tiles(spark, grid, "raw", 0)
        .where(org.apache.spark.sql.functions.col("image_id")
          === "tile_0000_0000"),
      batchId = 1L)
    ZonalJob.run(spark, job2, None)
    assert(Files.readString(Paths.get(out)) != "SENTINEL2",
      "table content changed but the memoized job was skipped")
  }

  test("daily-append job rerun folds only the CDC delta (and a later " +
      "takedown's retraction) — byte-identical to from-scratch runs, " +
      "chunks untouched") {
    val work = Files.createTempDirectory("graft-job-incr")
    val tr = org.apache.spark.sql.functions.regexp_extract(
      org.apache.spark.sql.functions.col("image_id"),
      "tile_(\\d+)_(\\d+)", 1).cast("int")
    val all = Synth.tiles(spark, grid, "raw", 0)
    import org.apache.spark.sql.functions.lit
    TileTable.write(spark, all.where(tr < lit(grid.tilesY - 1)), grid,
      Some(-9999.0), s"$work/rasterA", cellLevel = 8, numFiles = 4)
    val vecDir = Files.createDirectory(work.resolve("vec"))
    ZoneStore.write(spark, Fixtures.zonesBasic(grid), "grp_field",
      s"$vecDir/zones.parquet")
    def mkJob(wd: String, out: String) = Config.JobSpec(
      tag = "t1", aggVector = s"$vecDir/zones.parquet",
      aggLayer = "zones", aggField = "grp_field",
      rasterPaths = Seq(s"$work/rasterA"),
      operations = Seq("avg", "stdev", "valid_count", "total_count"),
      rowColOrder = "agg_field,base_raster", workdir = s"$work/$wd",
      outputCsv = s"$work/$out")
    val job = mkJob("wd", "out.csv")
    ZonalJob.run(spark, job, None)
    val ckpt = ZonalJob.ckptDirFor(job, s"$work/rasterA")
    assert(Files.exists(Paths.get(ckpt, "fidstats.json")),
      "first run must leave the per-FID stats sidecar")
    assert(ZonalJob.incrMarker(ckpt).isEmpty,
      "first run is a full run, not incremental")
    val table0 = TileTable.open(s"$work/rasterA")
    val nChunks = Checkpoints.chunkFiles(table0.manifest.files,
      Checkpoints.DefaultMaxChunks).size
    val run1Ids = (0 until nChunks).map(Checkpoints.lineageRunId(ckpt, _))

    // day 2: a batch appends; the job reruns (fingerprint changed)
    TileTable.appendBatch(spark, s"$work/rasterA",
      all.where(tr === lit(grid.tilesY - 1)), batchId = 1L)
    val csv2 = Files.readString(Paths.get(ZonalJob.run(spark, job, None)))
    assert(ZonalJob.incrMarker(ckpt) === Some((1, 2, 1, 0)),
      s"expected incremental fold of exactly the appended file, got " +
        s"${ZonalJob.incrMarker(ckpt)}")
    // the full-path chunks were NOT recomputed — only the delta ran
    (0 until nChunks).foreach(i =>
      assert(Checkpoints.lineageRunId(ckpt, i) === run1Ids(i),
        s"chunk $i was recomputed by the incremental rerun"))
    val fresh2 = Files.readString(Paths.get(
      ZonalJob.run(spark, mkJob("wd2", "out2.csv"), None)))
    assert(csv2 === fresh2,
      "incremental rerun diverged from a from-scratch run")

    // day 3: a takedown deletes a stripe; the rerun retracts
    TileTable.deleteWhere(spark, s"$work/rasterA", tr === lit(2))
    val csv3 = Files.readString(Paths.get(ZonalJob.run(spark, job, None)))
    assert(ZonalJob.incrMarker(ckpt) === Some((2, 3, 0, 1)),
      s"expected a retraction-only window, got " +
        s"${ZonalJob.incrMarker(ckpt)}")
    val fresh3 = Files.readString(Paths.get(
      ZonalJob.run(spark, mkJob("wd3", "out3.csv"), None)))
    assert(csv3 === fresh3,
      "post-delete incremental rerun diverged from a from-scratch run")
    assert(csv3 !== csv2, "the delete must change the stats")
    graft.engine.Caches.drain(spark)
  }

  test("a raster recreated at the same path invalidates the sidecar " +
      "(manifest fingerprint gate): the rerun recomputes in full " +
      "instead of folding the old table's stats") {
    val work = Files.createTempDirectory("graft-job-recreate")
    val tr = org.apache.spark.sql.functions.regexp_extract(
      org.apache.spark.sql.functions.col("image_id"),
      "tile_(\\d+)_(\\d+)", 1).cast("int")
    import org.apache.spark.sql.functions.lit
    val vecDir = Files.createDirectory(work.resolve("vec"))
    ZoneStore.write(spark, Fixtures.zonesBasic(grid), "grp_field",
      s"$vecDir/zones.parquet")
    def mkJob(wd: String, out: String) = Config.JobSpec(
      tag = "t1", aggVector = s"$vecDir/zones.parquet",
      aggLayer = "zones", aggField = "grp_field",
      rasterPaths = Seq(s"$work/rasterR"),
      operations = Seq("avg", "valid_count"),
      rowColOrder = "agg_field,base_raster", workdir = s"$work/$wd",
      outputCsv = s"$work/$out")
    // incarnation 1: variant-0 data, run → sidecar at v1
    TileTable.write(spark, Synth.tiles(spark, grid, "raw", 0), grid,
      Some(-9999.0), s"$work/rasterR", cellLevel = 8, numFiles = 4)
    val job = mkJob("wd", "out.csv")
    ZonalJob.run(spark, job, None)
    val ckpt = ZonalJob.ckptDirFor(job, s"$work/rasterR")
    assert(Files.exists(Paths.get(ckpt, "fidstats.json")))
    // the table is deleted and REBUILT at the same path with
    // DIFFERENT pixels (variant 1) — version numbering restarts, so
    // the stale sidecar's v1 "exists" in the new chain but describes
    // the old table
    Checkpoints.deleteRecursively(Paths.get(s"$work/rasterR"))
    TileTable.write(spark, Synth.tiles(spark, grid, "raw", 1), grid,
      Some(-9999.0), s"$work/rasterR", cellLevel = 8, numFiles = 4)
    TileTable.appendBatch(spark, s"$work/rasterR",
      Synth.tiles(spark, grid, "raw", 1).limit(0), batchId = 1L)
    val csv = Files.readString(Paths.get(ZonalJob.run(spark, job, None)))
    assert(ZonalJob.incrMarker(ckpt).isEmpty,
      "recreated table must NOT fold incrementally from a stale sidecar")
    val fresh = Files.readString(Paths.get(
      ZonalJob.run(spark, mkJob("wdF", "outF.csv"), None)))
    assert(csv === fresh,
      "post-recreation run diverged from a from-scratch run")
    graft.engine.Caches.drain(spark)
  }

  test("job on a multi-band table addresses band 1 only (reference " +
      "(path, 1) semantics)") {
    val work = Files.createTempDirectory("graft-job-mb")
    // band 1 = the standard field, band 2 = a different field: the job
    // must consume exactly band 1, not a mix of both
    TileTable.write(spark,
      Synth.tilesMultiBand(spark, grid, Seq(1 -> 0, 2 -> 2)), grid,
      nodata = Some(-9999.0), s"$work/rasterMb", cellLevel = 8,
      numFiles = 2,
      bands = Seq(graft.sources.BandInfo(1, Some(-9999.0)),
        graft.sources.BandInfo(2, Some(-7777.0))))
    val vecDir = Files.createDirectory(work.resolve("vec"))
    ZoneStore.write(spark, Fixtures.zonesBasic(grid), "grp_field",
      s"$vecDir/zones.parquet")
    val job = Config.JobSpec(
      tag = "t1", aggVector = s"$vecDir/zones.parquet",
      aggLayer = "zones", aggField = "grp_field",
      rasterPaths = Seq(s"$work/rasterMb"),
      operations = Seq("avg", "p5", "p95"),
      rowColOrder = "agg_field,base_raster", workdir = s"$work/wd",
      outputCsv = s"$work/out.csv")
    val got = Files.readString(Paths.get(ZonalJob.run(spark, job, None)))
    // oracle = band 1's pixel field (variant 0), reference lastWins
    val exp = oracleCsv("agg_field,base_raster", Seq("rasterMb"),
      Seq(0), job.percentiles).mkString("", "\r\n", "\r\n")
    assert(got === exp)
  }

  test("config → job roundtrip via INI file") {
    val work = Files.createTempDirectory("graft-ini")
    TileTable.write(spark, Synth.tiles(spark, grid), grid, Some(-9999.0),
      s"$work/tablesA", cellLevel = 8, numFiles = 2)
    val vecDir = Files.createDirectory(work.resolve("vec"))
    ZoneStore.write(spark, Fixtures.zonesBasic(grid), "grp",
      s"$vecDir/zones.parquet")
    val ini = work.resolve("proj1.ini")
    Files.writeString(ini,
      s"""[project]
         |name = proj1
         |global_work_dir = $work/wd
         |global_output_dir = $work/out
         |log_level = INFO
         |
         |[job:alpha]
         |agg_vector = $vecDir/zones.parquet
         |agg_field = grp
         |operations = avg,stdev,valid_count,total_count,p5,p95
         |row_col_order=agg_field,base_raster
         |base_raster_pattern=$work/tables*
         |""".stripMargin)
    val cfg = Config.parseAndValidate(ini)
    assert(cfg.jobs.size === 1)
    assert(cfg.jobs.head.rasterPaths.nonEmpty)
    val out = ZonalJob.run(spark, cfg.jobs.head, timestamp = Some("T"))
    assert(out.endsWith("alpha_T.csv"))
    val lines = Files.readString(Paths.get(out)).split("\r\n")
    assert(lines.head.startsWith("grp,"))
    assert(lines.length === 9) // header + 8 groups
  }

  test("zone layer load runs one Spark job, the collect: its schema " +
      "comes from the footer, not an inference job") {
    val path = Files.createTempDirectory("graft-zone-load")
      .resolve("zones.parquet").toString
    val zones = Fixtures.zonesBasic(grid)
    ZoneStore.write(spark, zones, "grp_field", path)
    val (loaded, jobs) = countingJobs(ZoneStore.load(spark, path,
      "grp_field"))
    assert(jobs === 1)
    def key(zs: Seq[graft.geom.Zone]) =
      zs.map(z => (z.fid, z.group, graft.geom.Zone.toWkb(z.geom).toSeq))
    assert(key(loaded) === key(zones))
  }
}
