package graft.engine

import graft.geom.Zone
import graft.operators.ZonalEngine
import graft.sources.TileTable
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Multi-raster zonal job + pivot + CSV sink — the Spark-native
  * `run_zonal_stats_job` (`/root/reference/runner.py:929-1025`):
  * sequential per-raster zonal stats, group-key union across rasters,
  * wide pivot in either `row_col_order` orientation, reference column
  * ordering (stat-dict insertion order), lexicographic group sort with
  * None last, `None`→empty-cell CSV rendering.
  */
object ZonalJob {

  type GroupStats = Map[Option[String], Map[String, Option[Any]]]

  /** Rasters of one job run at once. */
  private val RasterConcurrency = 2

  /** Run one raster slice → per-group stat maps keyed like the
    * reference dicts (stat-field insertion order preserved by the
    * field list, runner.py:849-861,917).
    *
    * @param ckptDir when set, the raster runs through the CHUNKED
    *   RESUMABLE path ([[Checkpoints.resumableZonalStats]]) — the
    *   TaskGraph-memoization analogue (`runner.py:1093-1098`): a
    *   re-run after a crash skips every finished chunk. When None
    *   (ad-hoc callers), the direct single-pass engine runs
    *   ([[ZonalEngine.runTable]]). */
  def singleRaster(spark: SparkSession, table: TileTable, zones: Seq[Zone],
      percentiles: Seq[Double], ckptDir: Option[String] = None): GroupStats = {
    // The reference job path hardcodes polygons_might_overlap=False
    // (runner.py:960), i.e. a single last-burn-wins rasterize pass:
    // overlap pixels belong only to the zone burned last — and
    // addresses every raster as (path, band 1), meaning the FIRST
    // band (runner.py:954): satellite-style band labels need not
    // include a literal 1, so the manifest's first declared band is
    // the one consumed, with that band's nodata.
    val band = table.manifest.bands.headOption.map(_.band)
    // Daily-append growth path: when a previous run of THIS job over
    // THIS raster left a per-FID stats sidecar (at some version v0 ≤
    // the current head) and the job needs no percentiles (retraction
    // and folding are algebraic; quantiles are not), fold only the
    // CDC window v0→head into the saved stats instead of rescanning
    // the raster. Falls back to the full path loudly when the window
    // has aged out of vacuum retention or crossed an untagged rewrite.
    val sidecar = ckptDir.filter(_ => percentiles.isEmpty)
      .map(d => s"$d/fidstats.json")
    def saveSidecar(sc: String)(m: org.apache.spark.sql.DataFrame): Unit =
      Checkpoints.writeFidStatsSidecar(sc, m, table.version,
        TileTable.manifestFingerprint(table.root, table.version)
          .getOrElse(""))
    val incremental: Option[org.apache.spark.sql.DataFrame] =
      sidecar.flatMap(sc =>
        Checkpoints.readFidStatsSidecar(spark, sc).flatMap {
          case (prev, v0, savedFp) =>
            // identity gate: version numbers restart when a table is
            // deleted and re-created at the same path, so v0 alone
            // does not prove the sidecar describes THIS table's
            // history — the manifest content at v0 must still hash to
            // what it hashed when the stats were saved
            val liveFp = graft.sources.TileTable
              .manifestFingerprint(table.root, v0)
            if (savedFp.isEmpty || !liveFp.contains(savedFp)) {
              System.err.println(s"[graft] ZonalJob: sidecar $sc " +
                s"does not match manifest v$v0 of ${table.root} " +
                "(table recreated or sidecar from another chain); " +
                "recomputing in full")
              None
            } else try {
              val cs = graft.sources.TileTable
                .changedSets(table.root, v0, table.version)
              val res = ZonalEngine.runIncremental(spark, table, zones,
                prev, fromVersion = v0, lastWins = true, band = band,
                mergedStatsSink = Some(saveSidecar(sc)))
              // job-observable lineage: what the increment scanned
              ckptDir.foreach(d => writeIncrMarker(d, v0, table.version,
                cs.added.size, cs.removals.size))
              Some(res)
            } catch {
              case e @ (_: IllegalStateException
                        | _: IllegalArgumentException
                        | _: java.nio.file.NoSuchFileException) =>
                System.err.println(s"[graft] ZonalJob: incremental " +
                  s"window $v0→${table.version} of ${table.root} not " +
                  s"foldable (${e.getMessage}); recomputing in full")
                None
            }
        })
    // a full (non-incremental) run invalidates any earlier
    // incremental lineage marker — incrMarker means "the LAST run
    // folded a CDC window", not "some run once did"
    if (incremental.isEmpty)
      ckptDir.foreach(d => Files.deleteIfExists(
        Paths.get(d, "incr-applied.json")))
    val df = incremental.getOrElse(ckptDir match {
      case Some(dir) =>
        Checkpoints.resumableZonalStats(spark, table, zones, dir,
          runId = s"job-${System.nanoTime()}", percentiles = percentiles,
          lastWins = true, band = band,
          fidStatsSink = sidecar.map(saveSidecar))
      case None => ZonalEngine.runTable(spark, table, zones, percentiles,
        lastWins = true, band = band)
    })
    val pKeys = ZonalEngine.percentileKeys(
      ZonalEngine.normalizePercentiles(percentiles))
    df.collect().map { r =>
      val g = Option(r.getAs[String]("group"))
      val m = ZonalEngine.statFields(pKeys).map { f =>
        f -> Option(r.getAs[Any](f))
      }.toMap
      g -> m
    }.toMap
  }

  /** Record that a raster ran INCREMENTALLY and what its window
    * contained — the job-level lineage a test (or an operator asking
    * "did the daily run really only scan the delta?") checks. */
  private def writeIncrMarker(ckptDir: String, fromV: Int, toV: Int,
      addedFiles: Int, removalSteps: Int): Unit = {
    AtomicFile.write(Paths.get(ckptDir, "incr-applied.json"),
      s"""{"fromVersion":$fromV,"toVersion":$toV,""" +
        s""""addedFiles":$addedFiles,"removalSteps":$removalSteps}""")
  }

  /** Parsed [[writeIncrMarker]] payload, None if the last run of the
    * raster was not incremental. */
  def incrMarker(ckptDir: String): Option[(Int, Int, Int, Int)] = {
    val p = Paths.get(ckptDir, "incr-applied.json")
    if (!Files.exists(p)) None
    else {
      val j = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(p))
      def i(k: String) = j.get(k).asInt()
      Some((i("fromVersion"), i("toVersion"), i("addedFiles"),
        i("removalSteps")))
    }
  }

  /** Per-(job, raster) checkpoint dir, keyed by raster stem + a hash
    * of the full raster path AND the job's zonal context (vector,
    * layer, field, operations): jobs run concurrently, so two jobs
    * sharing a workdir and a raster but differing in vector/field/ops
    * must not race on one chunk dir — their fingerprints differ, both
    * would recompute, and one job's chunk stats could be overwritten
    * between the other's write and merge-read (the reference avoids
    * this with a mkdtemp per invocation, runner.py:343; we stay
    * deterministic so RESUME still finds the dir). Same-basename
    * rasters in different directories split on the path hash. */
  def ckptDirFor(job: Config.JobSpec, rasterPath: String): String = {
    val stem = Paths.get(rasterPath).getFileName.toString
    val ctx = Seq(rasterPath, job.aggVector, job.aggLayer, job.aggField,
      job.operations.mkString(",")).mkString("|")
    val tag = f"${graft.functions.XXHash64.hashString(ctx, 7L)}%08x"
      .takeRight(8)
    s"${job.workdir}/ckpt_${stem}_$tag"
  }

  /** Reference group ordering: `(v is None, str(v))` — lexicographic
    * on the string form, None last (runner.py:981-983). */
  def orderedGroups(groups: Set[Option[String]]): Seq[Option[String]] =
    groups.toSeq.sortBy(g => (g.isEmpty, g.getOrElse("")))

  def groupLabel(g: Option[String]): String = g.getOrElse("")

  /** CPython `str()` rendering for CSV cells: None → "", floats in
    * repr form (shortest round-trip, '.0' for integral), ints plain.
    * (runner.py:1021-1025 via csv.DictWriter + str()). */
  def cellStr(v: Option[Any]): String = v match {
    case None => ""
    case Some(l: Long) => l.toString
    case Some(i: Int) => i.toString
    case Some(d: Double) => pyFloatRepr(d)
    case Some(f: Float) => pyFloatRepr(f.toDouble)
    case Some(other) => other.toString
  }

  /** Python repr(float): shortest round-trip decimal; exponent form
    * only for |x| >= 1e16 or < 1e-4 (with e+NN/e-NN, two-digit
    * exponent). Java's Double.toString is also shortest-round-trip
    * but formats thresholds differently — rewrite to Python rules. */
  def pyFloatRepr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val bd = new java.math.BigDecimal(java.lang.Double.toString(d))
    val abs = math.abs(d)
    if (abs >= 1e16 || abs < 1e-4) {
      // python exponent form: d.dddde±XX
      val s = String.format("%.17e", Double.box(d))
      // reduce mantissa to shortest round-trip
      var prec = 1
      var out = ""
      while ({ out = String.format(s"%.${prec}e", Double.box(d))
               out.toDouble != d && prec < 17 }) prec += 1
      val Array(mant, ex) = out.split("e")
      val exp = ex.toInt
      // python prints the shortest mantissa with no trailing ".0"
      val mantTrim =
        if (mant.contains('.'))
          mant.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
        else mant
      f"${mantTrim}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
    } else {
      val plain = bd.stripTrailingZeros.toPlainString
      if (plain.contains('.')) plain else plain + ".0"
    }
  }

  /** Pivot + render the CSV lines for a finished job
    * (runner.py:967-1025). `rasterStats` in raster order. */
  def renderCsv(aggField: String, rowColOrder: String,
      rasterStems: Seq[String], rasterStats: Map[String, GroupStats],
      percentileKeys: Seq[String]): Seq[String] = {
    val allGroups = rasterStats.values.flatMap(_.keys).toSet
    val statFields =
      if (rasterStats.values.exists(_.nonEmpty))
        ZonalEngine.statFields(percentileKeys)
      else Seq("min", "max", "count", "nodata_count", "sum")
    val parts = rowColOrder.split(",").map(_.trim).filter(_.nonEmpty).toSeq

    def csvQuote(s: String): String =
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s

    if (parts == Seq("agg_field", "base_raster")) {
      val header = aggField +: (for (stem <- rasterStems;
        f <- statFields) yield s"${f}_$stem")
      val rows = orderedGroups(allGroups).map { g =>
        groupLabel(g) +: (for (stem <- rasterStems; f <- statFields)
          yield cellStr(rasterStats(stem)(g).getOrElse(f, None)))
      }
      (header +: rows).map(_.map(csvQuote).mkString(","))
    } else if (parts == Seq("base_raster", "agg_field")) {
      val og = orderedGroups(allGroups)
      val header = "base_raster" +: (for (g <- og; f <- statFields)
        yield s"${f}_${groupLabel(g)}")
      val rows = rasterStems.map { stem =>
        stem +: (for (g <- og; f <- statFields)
          yield cellStr(rasterStats(stem)(g).getOrElse(f, None)))
      }
      (header +: rows).map(_.map(csvQuote).mkString(","))
    } else {
      throw new IllegalArgumentException(
        "row_col_order must be 'agg_field,base_raster' or 'base_raster,agg_field'")
    }
  }

  /** Job-level memoization fingerprint — the TaskGraph "skip when
    * targets exist and inputs hash-match" analogue
    * (`runner.py:1093-1098`): raster manifests (content), the zone
    * store's file names+sizes, and the job parameters that shape the
    * CSV. */
  def jobFingerprint(job: Config.JobSpec): String = {
    val sb = new StringBuilder
    sb.append(job.aggField).append('|').append(job.rowColOrder)
      .append('|').append(job.operations.mkString(",")).append('\n')
    job.rasterPaths.foreach { p =>
      sb.append(p).append('|')
      // resolve the CURRENT manifest (versioned manifest-v<N>.json,
      // falling back to a legacy flat manifest.json) — reading the
      // flat path alone would stop tracking content changes on
      // versioned tables and the memo would serve stale CSVs
      sb.append(graft.sources.TileTable.currentManifestJson(p)
        .getOrElse("?")).append('\n')
    }
    val vec = Paths.get(job.aggVector)
    val walk = Files.walk(vec, 2)
    try {
      walk.sorted().forEach { f =>
        if (Files.isRegularFile(f))
          sb.append(f.toString).append('|')
            .append(Files.size(f)).append('\n')
      }
    } finally walk.close()
    f"${graft.functions.XXHash64.hashString(sb.toString, 11L)}%016x"
  }

  /** Execute a JobSpec end-to-end: per-raster zonal stats → pivot →
    * CSV file (timestamped by the caller-provided stamp for
    * deterministic tests; runner.py:1079-1091).
    *
    * Memoized like the reference's TaskGraph (`runner.py:1093-1098`):
    * when the target CSV already exists AND the sidecar fingerprint
    * matches the current inputs, the job is skipped entirely. (With a
    * timestamp each run has a fresh target name, so — exactly like
    * the reference — timestamped runs always recompute.) */
  def run(spark: SparkSession, job: Config.JobSpec,
      timestamp: Option[String] = None): String = {
    val out = timestamp match {
      case Some(ts) =>
        val p = Paths.get(job.outputCsv)
        val name = p.getFileName.toString
        val dot = name.lastIndexOf('.')
        val stamped =
          if (dot > 0) s"${name.substring(0, dot)}_$ts${name.substring(dot)}"
          else s"${name}_$ts"
        p.getParent.resolve(stamped).toString
      case None => job.outputCsv
    }
    val fp = jobFingerprint(job)
    val meta = Paths.get(out + ".meta.json")
    if (Files.exists(Paths.get(out)) && Files.exists(meta) &&
        Files.readString(meta).contains(s""""fingerprint":"$fp"""")) {
      return out // target exists, inputs unchanged → skip (TaskGraph)
    }
    // recomputing: drop the stale certificate FIRST, so a crash
    // mid-recompute can never leave an old fingerprint beside a new
    // or partial CSV
    Files.deleteIfExists(meta)
    val percentiles = job.percentiles
    val pKeys = ZonalEngine.percentileKeys(
      ZonalEngine.normalizePercentiles(percentiles))
    val stems = job.rasterPaths.map(p =>
      Paths.get(p).getFileName.toString)
    // the vector is read and collected once per job; each raster
    // projects it into its own SRS below
    val vector = ZoneStore.load(spark, job.aggVector, job.aggField)
    val vectorSrs = ZoneStore.srs(job.aggVector)
    // Rasters are independent Spark jobs — run them from a bounded
    // pool so per-raster fixed costs overlap (Spark schedules the
    // concurrent jobs FIFO across the cluster). Each raster gets its
    // own checkpoint dir under the job workdir, so a crashed run
    // resumes at chunk granularity (clean_working_dir=False in the
    // reference job path, runner.py:962 — scratch is kept).
    val conc = math.min(math.max(1, job.rasterPaths.size), RasterConcurrency)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(conc)
    val stats: Map[String, GroupStats] =
      try {
        val futs = job.rasterPaths.zip(stems).map { case (path, stem) =>
          pool.submit(new java.util.concurrent.Callable[(String, GroupStats)] {
            override def call(): (String, GroupStats) = {
              val table = TileTable.open(path)
              // P7: reproject the vector into THIS raster's SRS iff the
              // SRS differ / vector SRS missing (runner.py:307-341) —
              // per raster, since each may carry its own projection
              val zones = graft.geom.Crs.projectZones(vector, vectorSrs,
                table.manifest.srs)
              stem -> singleRaster(spark, table, zones, percentiles,
                ckptDir = Some(ckptDirFor(job, path)))
            }
          })
        }
        futs.map(_.get()).toMap
      } finally pool.shutdownNow()
    val lines = renderCsv(job.aggField, job.rowColOrder, stems, stats, pKeys)
    Files.createDirectories(Paths.get(out).getParent)
    // atomic CSV publish (temp + move), then the certificate — a
    // reader/memo check can only ever observe (complete CSV, no meta)
    // or (complete CSV, matching meta)
    AtomicFile.write(Paths.get(out), lines.mkString("", "\r\n", "\r\n"))
    Files.writeString(meta, s"""{"fingerprint":"$fp","tag":"${job.tag}"}""")
    out
  }
}
