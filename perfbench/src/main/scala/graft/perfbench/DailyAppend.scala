package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import graft.engine.{Config, ZonalJob}
import graft.geom.Zone
import graft.operators.ZonalEngine
import graft.sources.TileTable
import graft.synth.Synth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, regexp_extract}

/** daily_append: writes beside reads in one long-lived session. Each
  * cycle appends the next row of tiles to the admin raster with
  * TileTable.appendBatch, then ZonalJob.run re-runs the admin job
  * without percentiles, which folds only the new files into the job's
  * per-FID sidecar. The cost is per-cycle overhead, not pixels. */
object DailyAppend extends InProcess {
  val grid = Gen.adminGrid
  val Ops = "avg,stdev,min,max,sum,total_count,valid_count"

  final case class S(root: String, job: Config.JobSpec, zones: Seq[Zone],
      var lastCsv: Seq[String], var incremental: Int)
  type State = S

  private var base: Path = _

  /** Tiles of tile rows [r0, r1) of the admin grid's value0 field. */
  def band(spark: SparkSession, r0: Int, r1: Int): DataFrame = {
    val tr = regexp_extract(col("image_id"), "tile_(\\d+)_(\\d+)", 1).cast("int")
    Synth.tiles(spark, grid, "png").where(tr >= lit(r0) && tr < lit(r1))
  }

  private def csvOf(out: String): Seq[String] =
    Files.readAllLines(Paths.get(out)).toArray(Array.empty[String]).toSeq

  def fixtures(c: Ctx): Unit = {
    base = c.fixture("daily", s"$grid|png|value0|rows<${Gen.dailyBaseRows}") { (s, d) =>
      TileTable.write(s, band(s, 0, Gen.dailyBaseRows), grid,
        Some(Synth.Nodata.toDouble), d.resolve("table").toString)
    }.resolve("table")
  }

  override def maxOps: Int = grid.tilesY - Gen.dailyBaseRows
  override def WarmupOps: Int = 2

  /** Restores the base version, writes the seed's admin vector and
    * runs the job once, so its sidecar describes the base version.
    * Cycles then append the remaining tile rows in order: every run
    * pays for the same rows, whatever its seed. */
  def setup(c: Ctx): S = {
    val dir = c.run.resolve("state")
    Files2.deleteTree(dir)
    val root = dir.resolve("table")
    Files.createDirectories(dir)
    Files2.copyTree(base, root)
    val (vec, zones) = AdminJob.writeVector(c, dir)
    val cfg = JobConfig.write(dir.resolve("job"), "daily", vec, s"$dir/tab*", Ops)
    val job = Config.parseAndValidate(cfg).jobs.head
    require(job.rasterPaths == Seq(root.toString), s"job rasters ${job.rasterPaths}")
    S(root.toString, job, zones, csvOf(ZonalJob.run(c.spark, job, None)), 0)
  }

  def op(c: Ctx, s: S, k: Int): Boolean = {
    val spark = c.spark
    val tr = c.tracer
    val row = Gen.dailyBaseRows + k
    val before = TileTable.currentVersion(s.root)
    tr("sources.append")(TileTable.appendBatch(spark, s.root, band(spark, row, row + 1),
      batchId = k.toLong + 1))
    val out = tr("engine.job_run")(ZonalJob.run(spark, s.job, None))
    val csv = csvOf(out)
    val ckpt = ZonalJob.ckptDirFor(s.job, s.root)
    if (ZonalJob.incrMarker(ckpt).exists(_._1 == before)) s.incremental += 1
    val changed = csv != s.lastCsv
    s.lastCsv = csv
    TileTable.currentVersion(s.root) == before + 1 && changed
  }

  /** The last cycle's CSV equals a full recompute at the head version
    * (a fresh workdir, so no sidecar exists). */
  override def verify(c: Ctx, s: S): Boolean = {
    val full = s.job.copy(workdir = c.run.resolve("verify/work").toString,
      outputCsv = c.run.resolve("verify/out/daily.csv").toString)
    val out = ZonalJob.run(c.spark, full, None)
    val want = csvOf(out)
    val ok = want == s.lastCsv
    if (!ok) System.err.println("[perfbench] daily_append: incremental CSV " +
      "differs from a full recompute at the head version")
    ok
  }

  def probes(c: Ctx, s: S, ops: Seq[OpRec]): Seq[(String, Double)] = {
    val spark = c.spark
    val v = TileTable.currentVersion(s.root)
    val table = TileTable.open(s.root)
    val simplified = s.zones.map(z => z.copy(geom = Zone.simplifyHalfPixel(z.geom, grid.gt.px)))
    val env = Zone.totalEnvelope(simplified)
    val changesS = Layers.timeS(5) {
      TileTable.changedFiles(s.root, v - 1, v)
      TileTable.readChanges(spark, s.root, v - 1, v)
    }
    var nFids = 0L
    val fidS = Layers.timeS(1) {
      nFids = ZonalEngine.fidStatsFor(spark, TileTable.readChanges(spark, s.root, v - 1, v),
        s.zones, grid, table.nodata, lastWins = true).count()
    }
    graft.engine.Caches.drain(spark)
    val unset = s.zones.size - ZonalEngine.fidStatsFor(spark, table.read(spark),
      s.zones, grid, table.nodata, lastWins = true).count()
    graft.engine.Caches.drain(spark)
    val (files, bytes) = Files2.du(Paths.get(s.job.workdir))
    Seq(
      "sources.open_ms" -> Layers.timeS(5)(TileTable.open(s.root)) * 1e3,
      "sources.append_ms" -> c.tracer.perCall("sources.append") * 1e3,
      "sources.changes_ms" -> changesS * 1e3,
      "sources.files_kept_frac" -> table.prunedFiles(env).size.toDouble / table.manifest.files.size,
      "operators.fidstats_s" -> fidS,
      "operators.finish_s" -> math.max(0.0, c.tracer.perOp("engine.job_run") - fidS),
      "operators.unset_fids" -> unset.toDouble,
      "engine.ckpt_files" -> files.toDouble,
      "engine.ckpt_mb" -> bytes / 1048576.0) ++
      Layers.tileProbes(grid, s.zones, c.args.seed, 0, table.nodata, lastWins = true)
  }

  override def extraDetail(c: Ctx, s: S, walls: Seq[Double]): Seq[(String, String)] = {
    val tail = Stats.tail(walls)
    Seq("cycles" -> walls.size.toString,
      "incremental_cycles" -> s.incremental.toString,
      "update_p50_s" -> Json.num(Stats.median(walls)),
      "update_tail" -> tail.fold("null") { case (p, v) =>
        Json.obj(Seq("percentile" -> Json.num(p), "value_s" -> Json.num(v),
          "samples" -> walls.size.toString))
      })
  }
}
