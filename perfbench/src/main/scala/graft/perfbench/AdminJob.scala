package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.engine.{Config, ZonalJob, ZoneStore}
import graft.geom.Zone
import graft.operators.ZonalEngine
import graft.sources.TileTable
import graft.synth.Synth

/** Child-JVM entry for admin_job: runs `graft.Main` unchanged, then
  * reports when it returned and the heap left after a full GC. */
object CliChild {
  def main(args: Array[String]): Unit = {
    graft.Main.main(args)
    println("PERFBENCH_CHILD_DONE")
    System.out.flush()
    println(s"PERFBENCH_CHILD_HEAP_MB ${InProcess.liveHeapMb()}")
  }
}

/** The INI job both admin_job and daily_append run, written as a user
  * would write it. */
object JobConfig {
  def write(dir: Path, name: String, vector: String, rasterPattern: String,
      ops: String): Path = {
    Files.createDirectories(dir)
    val p = dir.resolve(s"$name.ini")
    Files.writeString(p,
      s"""[project]
         |name = $name
         |log_level = WARN
         |global_work_dir = ${dir.resolve("work")}
         |global_output_dir = ${dir.resolve("out")}
         |
         |[job:admin]
         |agg_vector = $vector
         |agg_field = region
         |base_raster_pattern = $rasterPattern
         |operations = $ops
         |row_col_order = agg_field,base_raster
         |""".stripMargin)
    p
  }

  /** Parses the `agg_field,base_raster` CSV into group → cells per stem. */
  def parseCsv(lines: Seq[String]): Map[String, Map[String, String]] = {
    val header = lines.head.split(",", -1).toSeq
    lines.tail.filter(_.nonEmpty).map { l =>
      val cells = l.split(",", -1).toSeq
      cells.head -> header.tail.zip(cells.tail).toMap
    }.toMap
  }

  /** The CSV holds exactly the expected stats of every raster stem. */
  def csvMatches(lines: Seq[String], stems: Seq[String],
      want: Map[String, Map[String, GStats]], pKeys: Seq[String]): Boolean = {
    val got = parseCsv(lines)
    val fields = ZonalEngine.statFields(pKeys)
    got.keySet == want(stems.head).keySet && stems.forall { stem =>
      want(stem).forall { case (g, w) =>
        Check.same(s"$g/$stem", fields.map { f =>
          val v = got(g)(s"${f}_$stem")
          if (v.isEmpty) None else Some(v.toDouble)
        }, w)
      }
    }
  }
}

/** admin_job: the reference's user path, INI config → CSV. Each op
  * parses a fresh config (own workdir and output, so neither the job
  * memo nor chunk resume can skip work) and runs `ZonalJob.run`, the
  * call `graft.Main` makes per job, in the benchmark's long-lived
  * session: two rasters and a seeded admin-boundary vector with
  * p5/p25/p75/p95. Many candidate zones per tile, scanline rows, exact
  * percentiles and checkpoint chunk writes.
  *
  * What a CLI user waits (`graft.Main` in a fresh JVM) is measured in
  * the traced run as `jvm.start_s` and the detail line's `job_s`: on a
  * 4-core host one seed's cold-JVM wall ranged 14.0–18.0 s, a spread
  * no regression bound the benchmark may set would hold. */
object AdminJob extends InProcess {
  val grid = Gen.adminGrid
  val Percentiles = Seq(5.0, 25.0, 75.0, 95.0)
  val Ops = "avg,stdev,min,max,sum,total_count,valid_count,p5,p25,p75,p95"
  val Stems = Seq("r0", "r1")

  final case class S(vector: String, rasters: Path, zones: Seq[Zone],
      expected: Map[String, Map[String, GStats]], var child: Option[(Double, Boolean, Double)])
  type State = S

  private var rasters: Path = _
  override def WarmupOps: Int = 3

  def fixtures(c: Ctx): Unit = {
    rasters = c.fixture("admin", s"$grid|png|variants0,1") { (s, d) =>
      Stems.zipWithIndex.foreach { case (stem, v) =>
        TileTable.write(s, Synth.tiles(s, grid, "png", v), grid,
          Some(Synth.Nodata.toDouble), d.resolve("rasters").resolve(stem).toString)
      }
    }.resolve("rasters")
  }

  /** Zones of the seed written as the job's vector under `dir`. */
  def writeVector(c: Ctx, dir: Path): (String, Seq[Zone]) = {
    val zones = Gen.adminZones(grid, c.args.seed)
    val vec = dir.resolve("vec").resolve("admin.parquet").toString
    ZoneStore.write(c.spark, zones, "region", vec)
    (vec, zones)
  }

  def setup(c: Ctx): S = {
    Files2.deleteTree(c.run.resolve("vec"))
    val (vec, zones) = writeVector(c, c.run)
    val owner = Gen.ownership(grid, zones)
    val expected = Stems.zipWithIndex.map { case (stem, v) =>
      stem -> Gen.adminExpected(grid, zones, owner, v, Percentiles)
    }.toMap
    S(vec, rasters, zones, expected, None)
  }

  private def config(s: S, dir: Path, k: Int): Path =
    JobConfig.write(dir, s"admin_$k", s.vector, s"${s.rasters}/r*", Ops)

  private def pKeys = ZonalEngine.percentileKeys(Percentiles)

  private def checked(dir: Path, lines: Seq[String], s: S): Boolean = {
    val ok = chunkDirs(dir.resolve("work")) > 0 &&
      JobConfig.csvMatches(lines, Stems, s.expected, pKeys)
    if (ok) Files2.deleteTree(dir)
    ok
  }

  /** Untraced runs call ZonalJob.run itself; traced runs compose the
    * same job from the public calls ZonalJob.run makes, each inside a
    * span, one raster after the other (both traced and untraced ops of
    * a traced run take this path, so the overhead compares like with
    * like). */
  def op(c: Ctx, s: S, k: Int): Boolean = {
    val dir = c.run.resolve(s"op_$k")
    if (!c.args.trace) {
      val job = Config.parseAndValidate(config(s, dir, k)).jobs.head
      val out = ZonalJob.run(c.spark, job, None)
      checked(dir, Files.readAllLines(Paths.get(out)).asScala.toSeq, s)
    } else {
      val spark = c.spark
      val tr = c.tracer
      val job = tr("engine.config")(Config.parseAndValidate(config(s, dir, k))).jobs.head
      val stems = job.rasterPaths.map(p => Paths.get(p).getFileName.toString)
      val stats = job.rasterPaths.zip(stems).map { case (path, stem) =>
        val table = tr("sources.open")(TileTable.open(path))
        val zones = tr("engine.zone_load")(graft.geom.Crs.projectZones(
          ZoneStore.load(spark, job.aggVector, job.aggField),
          ZoneStore.srs(job.aggVector), table.manifest.srs))
        stem -> tr("operators.single_raster")(ZonalJob.singleRaster(spark, table,
          zones, job.percentiles, ckptDir = Some(ZonalJob.ckptDirFor(job, path))))
      }.toMap
      val lines = tr("engine.csv") {
        val l = ZonalJob.renderCsv(job.aggField, job.rowColOrder, stems, stats, pKeys)
        Files.createDirectories(Paths.get(job.outputCsv).getParent)
        Files.writeString(Paths.get(job.outputCsv), l.mkString("", "\r\n", "\r\n"))
        l
      }
      val (files, bytes) = Files2.du(dir.resolve("work"))
      lastCkpt = (files.toDouble, bytes / 1048576.0)
      stems == Stems && checked(dir, lines, s)
    }
  }

  private var lastCkpt = (0.0, 0.0)

  private def childCmd(c: Ctx, cfg: Path): Seq[String] = {
    val lines = Files.readAllLines(c.args.launch).asScala.toSeq
    val cp = lines.find(_.startsWith("CP ")).get.drop(3)
    val opts = lines.filter(_.startsWith("OPT ")).map(_.drop(4))
    Seq(Paths.get(sys.props("java.home"), "bin", "java").toString,
      s"-Djava.io.tmpdir=${sys.props("java.io.tmpdir")}") ++ opts ++
      Seq("-cp", cp, "graft.perfbench.CliChild", cfg.toString, "--no-timestamp")
  }

  /** `graft.Main <config.ini>` in a fresh JVM: (wall from launch to
    * Main's return, output correct, heap MB left after Main). */
  def childOp(c: Ctx, s: S): (Double, Boolean, Double) = {
    val dir = c.run.resolve("child")
    val cfg = config(s, dir, 0)
    val pb = new ProcessBuilder(childCmd(c, cfg): _*)
      .redirectError(dir.resolve("child.err").toFile)
    val t0 = System.nanoTime()
    val p = pb.start()
    var doneS = -1.0; var heap = 0.0
    val rd = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream))
    var line = rd.readLine()
    while (line != null) {
      if (line == "PERFBENCH_CHILD_DONE") doneS = (System.nanoTime() - t0) / 1e9
      if (line.startsWith("PERFBENCH_CHILD_HEAP_MB ")) heap = line.split(" ")(1).toDouble
      line = rd.readLine()
    }
    val exit = p.waitFor()
    val csv = dir.resolve("out").resolve("admin.csv")
    val ok = exit == 0 && doneS > 0 && Files.exists(csv) &&
      checked(dir, Files.readAllLines(csv).asScala.toSeq, s)
    if (!ok) System.err.println(s"[perfbench] admin child failed: exit=$exit " +
      s"done=$doneS (see ${dir.resolve("child.err")})")
    (doneS, ok, heap)
  }

  def chunkDirs(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.count(q => Files.isDirectory(q) &&
        q.getFileName.toString.startsWith("chunk=")).toLong
      finally w.close()
    }

  override def verify(c: Ctx, s: S): Boolean =
    if (!c.args.trace) true
    else { s.child = Some(childOp(c, s)); s.child.exists(_._2) }

  def probes(c: Ctx, s: S, ops: Seq[OpRec]): Seq[(String, Double)] = {
    val table = TileTable.open(s.rasters.resolve("r0").toString)
    val simplified = s.zones.map(z => z.copy(geom = Zone.simplifyHalfPixel(z.geom, grid.gt.px)))
    val env = Zone.totalEnvelope(simplified)
    var nFids = 0L
    val fidS = Layers.timeS(1) {
      nFids = ZonalEngine.fidStatsFor(c.spark, table.read(c.spark), s.zones,
        grid, table.nodata, lastWins = true).count()
    }
    graft.engine.Caches.drain(c.spark)
    val tracedWall = c.tracer.perOp("op")
    Seq(
      "sources.open_ms" -> c.tracer.perCall("sources.open") * 1e3,
      "sources.files_kept_frac" -> table.prunedFiles(env).size.toDouble / table.manifest.files.size,
      "operators.fidstats_s" -> fidS * Stems.size,
      "operators.finish_s" -> math.max(0.0,
        c.tracer.perOp("operators.single_raster") - fidS * Stems.size),
      "operators.unset_fids" -> (s.zones.size - nFids).toDouble,
      "engine.config_ms" -> c.tracer.perCall("engine.config") * 1e3,
      "engine.zone_load_ms" -> c.tracer.perCall("engine.zone_load") * 1e3,
      "engine.csv_ms" -> c.tracer.perCall("engine.csv") * 1e3,
      "engine.ckpt_files" -> lastCkpt._1,
      "engine.ckpt_mb" -> lastCkpt._2,
      "jvm.start_s" -> s.child.fold(0.0)(_._1 - tracedWall)) ++
      Layers.tileProbes(grid, s.zones, c.args.seed, 0, table.nodata, lastWins = true)
  }

  override def extraDetail(c: Ctx, s: S, walls: Seq[Double]): Seq[(String, String)] =
    Seq("zones" -> s.zones.size.toString) ++ s.child.toSeq.flatMap { case (w, _, heap) =>
      Seq("job_s" -> Json.num(w), "child_heap_mb" -> Json.num(heap))
    }
}
