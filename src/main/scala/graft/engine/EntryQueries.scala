package graft.engine

import graft.operators.ZonalEngine
import graft.synth.Synth
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The driver-facing query registry: each entry is a Spark pipeline
  * over deterministic synthesized fixtures (spatial queries) or the
  * driver's parquet tables (generic operators), with a matching
  * DuckDB oracle in [[oracleSql]]. Column names/types are aligned
  * pairwise — the driver hash-compares values after sorting columns
  * by name.
  */
object EntryQueries {

  // ---------------------------------------------------------------
  // Zonal statistics over the synthesized tile table
  // ---------------------------------------------------------------

  /** Shared SQL prologue: the pixel grid + per-zone assignment, as
    * pure arithmetic over `range()` — self-contained in DuckDB.
    * `pxFilter` restricts the pixel universe (tile-level deletes in
    * the q_zonal_after_delete fixture remove whole 16-px rows). */
  private def zonalPrologue(pxFilter: String = "TRUE"): String = {
    val membership = Fixtures.zonesBasicSqlMembership.map {
      case (fid, grp, cond) =>
        val g = if (grp == null) "CAST(NULL AS VARCHAR)" else s"'$grp'"
        s"SELECT $fid AS fid, $g AS grp, v FROM px WHERE $cond"
    }.mkString("\n  UNION ALL ")
    s"""WITH px AS (
  SELECT gr, gc, ${Synth.valueSql()} AS v
  FROM range(0,128) t_r(gr), range(0,128) t_c(gc)
  WHERE $pxFilter
),
asg AS (
  $membership
),
groups(grp) AS ${Fixtures.basicGroupsSql},
g AS (
  SELECT grp,
    CAST(count(*) AS BIGINT) AS cnt,
    CAST(count(*) FILTER (WHERE v = -9999.0) AS BIGINT) AS nd,
    sum(v) FILTER (WHERE v <> -9999.0) AS sv,
    sum(v*v) FILTER (WHERE v <> -9999.0) AS svv,
    min(v) FILTER (WHERE v <> -9999.0) AS mnv,
    max(v) FILTER (WHERE v <> -9999.0) AS mxv
  FROM asg GROUP BY grp
)"""
  }

  def zonalBasic(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val tiles = Synth.tiles(spark, grid)
    val res = ZonalEngine.run(spark, tiles, Fixtures.zonesBasic(grid), grid,
      nodata = Some(-9999.0))
    res.select(
      col("group").as("grp"),
      col("count").as("cnt"),
      col("nodata_count").as("nodata_cnt"),
      col("valid_count").as("valid_cnt"),
      col("sum").as("sum_v"),
      col("min").as("min_v"),
      col("max").as("max_v"),
      when(col("valid_count") > 0, col("sum") / col("valid_count"))
        .as("mean_v"),
      col("stdev").as("stdev_v"))
  }

  val zonalBasicSql: String = s"""${zonalPrologue()}
SELECT groups.grp AS grp,
  COALESCE(g.cnt, 0) AS cnt,
  COALESCE(g.nd, 0) AS nodata_cnt,
  COALESCE(g.cnt - g.nd, 0) AS valid_cnt,
  COALESCE(g.sv, 0.0) AS sum_v,
  g.mnv AS min_v,
  g.mxv AS max_v,
  CASE WHEN g.cnt - g.nd > 0 THEN g.sv / (g.cnt - g.nd) END AS mean_v,
  CASE WHEN g.cnt - g.nd > 0 THEN
    sqrt(greatest(g.svv / (g.cnt - g.nd)
      - (g.sv / (g.cnt - g.nd)) * (g.sv / (g.cnt - g.nd)), 0.0))
  END AS stdev_v
FROM groups LEFT JOIN g ON groups.grp IS NOT DISTINCT FROM g.grp"""

  def zonalPercentile(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val tiles = Synth.tiles(spark, grid)
    val res = ZonalEngine.run(spark, tiles, Fixtures.zonesBasic(grid), grid,
      nodata = Some(-9999.0), percentilesRaw = Seq(5.0, 95.0))
    res.select(
      col("group").as("grp"),
      col("valid_count").as("valid_cnt"),
      round(col("p5"), 6).as("p5"),
      round(col("p95"), 6).as("p95"))
  }

  val zonalPercentileSql: String = s"""${zonalPrologue()}
SELECT groups.grp AS grp,
  COALESCE(g.cnt - g.nd, 0) AS valid_cnt,
  round(q.q05, 6) AS p5,
  round(q.q95, 6) AS p95
FROM groups
LEFT JOIN g ON groups.grp IS NOT DISTINCT FROM g.grp
LEFT JOIN (
  SELECT grp,
    quantile_cont(v, 0.05) FILTER (WHERE v <> -9999.0) AS q05,
    quantile_cont(v, 0.95) FILTER (WHERE v <> -9999.0) AS q95
  FROM asg GROUP BY grp
) q ON groups.grp IS NOT DISTINCT FROM q.grp"""

  /** Per-JVM cached fixture tables: the fixtures are deterministic,
    * so repeated invocations (verify reps, bench loops) reuse one
    * on-disk table instead of leaking a fresh temp table per call. */
  private val fixtureTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cachedFixtureTable(key: String)(
      write: String => Unit): graft.sources.TileTable = {
    val root = fixtureTables.computeIfAbsent(key, _ => {
      val base = java.nio.file.Files.createTempDirectory(s"graft-q-$key")
      val r = s"$base/table"
      write(r)
      r
    })
    graft.sources.TileTable.open(root)
  }

  /** The standard 4-file fixture tile table (shared by the table-level
    * and checkpointed queries). */
  private def standardTable(spark: SparkSession): graft.sources.TileTable =
    cachedFixtureTable("std") { root =>
      graft.sources.TileTable.write(spark,
        Synth.tiles(spark, Synth.testGrid), Synth.testGrid,
        Some(-9999.0), root, cellLevel = 8, numFiles = 4)
    }

  /** The table-level entry (`ZonalEngine.runTable`) under the oracle
    * gate: manifest-pruned scan + fallback pruning + the size-chosen
    * percentile mode (fixture-sized table → exact path) — the API a
    * library user calls first. */
  def zonalTable(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val table = standardTable(spark)
    ZonalEngine.runTable(spark, table, Fixtures.zonesBasic(grid),
      percentilesRaw = Seq(50.0))
      .select(col("group").as("grp"),
        col("valid_count").as("valid_cnt"),
        col("sum").as("sum_v"),
        round(col("p50"), 6).as("p50"))
  }

  val zonalTableSql: String = s"""${zonalPrologue()}
SELECT groups.grp AS grp,
  COALESCE(g.cnt - g.nd, 0) AS valid_cnt,
  COALESCE(g.sv, 0.0) AS sum_v,
  round(q.q50, 6) AS p50
FROM groups
LEFT JOIN g ON groups.grp IS NOT DISTINCT FROM g.grp
LEFT JOIN (
  SELECT grp,
    quantile_cont(v, 0.5) FILTER (WHERE v <> -9999.0) AS q50
  FROM asg GROUP BY grp
) q ON groups.grp IS NOT DISTINCT FROM q.grp"""

  /** Last-burn-wins rasterize semantics (the reference's job path,
    * polygons_might_overlap=False): overlapping pixels belong to the
    * zone burned last (here: highest fid — zones pass in fid order). */
  def zonalLastWins(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val tiles = Synth.tiles(spark, grid)
    ZonalEngine.run(spark, tiles, Fixtures.zonesBasic(grid), grid,
      nodata = Some(-9999.0), lastWins = true)
      .select(col("group").as("grp"), col("count").as("cnt"),
        col("nodata_count").as("nodata_cnt"),
        col("valid_count").as("valid_cnt"), col("sum").as("sum_v"),
        col("min").as("min_v"), col("max").as("max_v"))
  }

  val zonalLastWinsSql: String = {
    val membership = Fixtures.zonesBasicSqlMembership.map {
      case (fid, grp, cond) =>
        val g = if (grp == null) "CAST(NULL AS VARCHAR)" else s"'$grp'"
        s"SELECT $fid AS fid, $g AS grp, gr, gc, v FROM px WHERE $cond"
    }.mkString("\n  UNION ALL ")
    s"""WITH px AS (
  SELECT gr, gc, ${Synth.valueSql()} AS v
  FROM range(0,128) t_r(gr), range(0,128) t_c(gc)
),
asg AS (
  $membership
),
own AS (
  SELECT fid, grp, v FROM (
    SELECT fid, grp, v,
      row_number() OVER (PARTITION BY gr, gc ORDER BY fid DESC) AS rn
    FROM asg
  ) WHERE rn = 1
),
groups(grp) AS ${Fixtures.basicGroupsSql},
g AS (
  SELECT grp,
    CAST(count(*) AS BIGINT) AS cnt,
    CAST(count(*) FILTER (WHERE v = -9999.0) AS BIGINT) AS nd,
    sum(v) FILTER (WHERE v <> -9999.0) AS sv,
    min(v) FILTER (WHERE v <> -9999.0) AS mnv,
    max(v) FILTER (WHERE v <> -9999.0) AS mxv
  FROM own GROUP BY grp
)
SELECT groups.grp AS grp,
  COALESCE(g.cnt, 0) AS cnt,
  COALESCE(g.nd, 0) AS nodata_cnt,
  COALESCE(g.cnt - g.nd, 0) AS valid_cnt,
  COALESCE(g.sv, 0.0) AS sum_v,
  g.mnv AS min_v,
  g.mxv AS max_v
FROM groups LEFT JOIN g ON groups.grp IS NOT DISTINCT FROM g.grp"""
  }

  /** GDAL boundary tie-break (top-left rule) under the oracle gate:
    * zones whose edges pass EXACTLY through pixel centers — the case
    * grid-aligned admin boundaries hit constantly. A center on a
    * zone's pixel-space top or left edge belongs to the zone; one on
    * its bottom or right edge does not (SURVEY.md §4 quirk 1). The
    * DuckDB oracle encodes the same rule as closed-open integer
    * boxes / the triangle's hypotenuse exclusion. */
  def zonalTies(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val tiles = Synth.tiles(spark, grid)
    // simplify=false: the ½px Douglas-Peucker stage would collapse the
    // 1-px tie rect to an empty geometry (covered by the sliver
    // fixtures); here the rasterize tie rule itself is under test
    ZonalEngine.run(spark, tiles, Fixtures.zonesTies(grid), grid,
      nodata = Some(-9999.0), simplify = false)
      .select(col("group").as("grp"), col("count").as("cnt"),
        col("nodata_count").as("nodata_cnt"),
        col("valid_count").as("valid_cnt"), col("sum").as("sum_v"),
        col("min").as("min_v"), col("max").as("max_v"))
  }

  val zonalTiesSql: String = {
    val membership = Fixtures.zonesTiesSqlMembership.map {
      case (_, grp, cond) => s"SELECT '$grp' AS grp, v FROM px WHERE $cond"
    }.mkString("\n  UNION ALL ")
    s"""WITH px AS (
  SELECT gr, gc, ${Synth.valueSql()} AS v
  FROM range(0,128) t_r(gr), range(0,128) t_c(gc)
),
asg AS (
  $membership
)
SELECT grp,
  CAST(count(*) AS BIGINT) AS cnt,
  CAST(count(*) FILTER (WHERE v = -9999.0) AS BIGINT) AS nodata_cnt,
  CAST(count(*) FILTER (WHERE v <> -9999.0) AS BIGINT) AS valid_cnt,
  COALESCE(sum(v) FILTER (WHERE v <> -9999.0), 0.0) AS sum_v,
  min(v) FILTER (WHERE v <> -9999.0) AS min_v,
  max(v) FILTER (WHERE v <> -9999.0) AS max_v
FROM asg GROUP BY grp"""
  }

  /** Multi-band addressing under the oracle gate: a two-band tile
    * table (band 1 = the standard field, band 2 = its own field with
    * its OWN nodata −7777, mirroring per-band nodata in
    * `runner.py:295-296`); zonal stats over `(table, band 2)` via the
    * band-pruned scan + per-band nodata lookup. */
  def zonalBand2(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val table = cachedFixtureTable("band") { root =>
      graft.sources.TileTable.write(spark,
        Synth.tilesMultiBand(spark, grid, Seq(1 -> 0, 2 -> 2)), grid,
        nodata = Some(-9999.0), root, cellLevel = 8, numFiles = 2,
        bands = Seq(graft.sources.BandInfo(1, Some(-9999.0)),
          graft.sources.BandInfo(2, Some(-7777.0))))
    }
    val zones = Fixtures.zonesBasic(grid)
    val env = graft.geom.Zone.totalEnvelope(zones)
    val res = ZonalEngine.run(spark,
      table.readPrunedBand(spark, env, band = 2), zones, grid,
      nodata = table.nodataFor(2))
    res.select(
      col("group").as("grp"),
      col("count").as("cnt"),
      col("nodata_count").as("nodata_cnt"),
      col("valid_count").as("valid_cnt"),
      col("sum").as("sum_v"),
      col("min").as("min_v"),
      col("max").as("max_v"),
      col("stdev").as("stdev_v"))
  }

  val zonalBand2Sql: String = {
    val membership = Fixtures.zonesBasicSqlMembership.map {
      case (fid, grp, cond) =>
        val g = if (grp == null) "CAST(NULL AS VARCHAR)" else s"'$grp'"
        s"SELECT $fid AS fid, $g AS grp, v FROM px WHERE $cond"
    }.mkString("\n  UNION ALL ")
    s"""WITH px AS (
  SELECT gr, gc, ${Synth.valueB2Sql()} AS v
  FROM range(0,128) t_r(gr), range(0,128) t_c(gc)
),
asg AS (
  $membership
),
groups(grp) AS ${Fixtures.basicGroupsSql},
g AS (
  SELECT grp,
    CAST(count(*) AS BIGINT) AS cnt,
    CAST(count(*) FILTER (WHERE v = -7777.0) AS BIGINT) AS nd,
    sum(v) FILTER (WHERE v <> -7777.0) AS sv,
    sum(v*v) FILTER (WHERE v <> -7777.0) AS svv,
    min(v) FILTER (WHERE v <> -7777.0) AS mnv,
    max(v) FILTER (WHERE v <> -7777.0) AS mxv
  FROM asg GROUP BY grp
)
SELECT groups.grp AS grp,
  COALESCE(g.cnt, 0) AS cnt,
  COALESCE(g.nd, 0) AS nodata_cnt,
  COALESCE(g.cnt - g.nd, 0) AS valid_cnt,
  COALESCE(g.sv, 0.0) AS sum_v,
  g.mnv AS min_v,
  g.mxv AS max_v,
  CASE WHEN g.cnt - g.nd > 0 THEN
    sqrt(greatest(g.svv / (g.cnt - g.nd)
      - (g.sv / (g.cnt - g.nd)) * (g.sv / (g.cnt - g.nd)), 0.0))
  END AS stdev_v
FROM groups LEFT JOIN g ON groups.grp IS NOT DISTINCT FROM g.grp"""
  }

  /** Web-Mercator world grid: same 128×128 px / 16² tiling as
    * [[Synth.testGrid]], geo-referenced in EPSG:3857 meters. */
  val mercGrid: graft.geom.RasterGrid = {
    val ext = 20037508.342789244
    val px = 2.0 * ext / 128.0
    graft.geom.RasterGrid(
      graft.geom.GeoTransform(-ext, px, 0.0, ext, 0.0, -px),
      widthPx = 128, heightPx = 128, tileW = 16, tileH = 16)
  }

  /** P7 CRS reprojection under the oracle gate: the aggregate vector
    * is stored in EPSG:4326 while the raster grid is EPSG:3857, so the
    * engine must reproject the zones into the raster SRS before the
    * join (runner.py:307-341). The fixture zones are pixel-rect zones
    * on the Mercator grid round-tripped through lon/lat, so the SAME
    * pixel-membership oracle as q_zonal_basic applies. */
  def zonalReprojected(spark: SparkSession): DataFrame = {
    import graft.geom.Crs
    val grid = mercGrid
    val zonesMerc = Fixtures.zonesReproj(grid)
    // the stored vector: inverse-projected into plain lon/lat
    val zones4326 = zonesMerc.map(z => z.copy(geom =
      Crs.transformGeom(z.geom, Crs.WebMercator, Crs.LonLat)))
    // engine-side SRS decision + forward transform
    val zones = Crs.projectZones(zones4326,
      vectorSrs = Some("EPSG:4326"), rasterSrs = Some("EPSG:3857"))
    val res = ZonalEngine.run(spark, Synth.tiles(spark, grid), zones, grid,
      nodata = Some(-9999.0))
    res.select(
      col("group").as("grp"),
      col("count").as("cnt"),
      col("nodata_count").as("nodata_cnt"),
      col("valid_count").as("valid_cnt"),
      col("sum").as("sum_v"),
      col("min").as("min_v"),
      col("max").as("max_v"),
      when(col("valid_count") > 0, col("sum") / col("valid_count"))
        .as("mean_v"),
      col("stdev").as("stdev_v"))
  }

  /** Identical pixel membership → identical oracle. */
  val zonalReprojectedSql: String = zonalBasicSql

  /** The full scale machinery under the driver's correctness gate:
    * Iceberg-style tile table (cell-sorted parquet + manifest) →
    * chunked CHECKPOINTED run with per-chunk lineage → resume-capable
    * merge → rollup. Runs twice per Verify: the second invocation in
    * a session resumes from the first's checkpoints (all chunks
    * skipped), and must produce identical values — which the oracle
    * comparison then pins against DuckDB. */
  def zonalCheckpointed(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val table = standardTable(spark)
    // the ckpt dir stays per-invocation: the in-query resume assert
    // below needs a fresh first-run/second-run pair every call
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q-ckpt")
      .toString
    val zones = Fixtures.zonesBasic(grid)
    // first run computes all chunks...
    Checkpoints.resumableGroupStats(spark, table, zones,
      ckpt, runId = "verify-1").count()
    // ...second run must resume (skip every chunk) and yield the result
    val res = Checkpoints.resumableGroupStats(spark, table, zones,
      ckpt, runId = "verify-2")
    val nChunks = Checkpoints.chunkFiles(table.manifest.files, Checkpoints.DefaultMaxChunks).size
    require((0 until nChunks).forall(i =>
      Checkpoints.lineageRunId(ckpt, i).contains("verify-1")),
      "resume failed: chunks were recomputed")
    res.select(
      col("group").as("grp"),
      col("count").as("cnt"),
      col("nodata_count").as("nodata_cnt"),
      col("valid_count").as("valid_cnt"),
      col("sum").as("sum_v"),
      col("min").as("min_v"),
      col("max").as("max_v"),
      when(col("valid_count") > 0, col("sum") / col("valid_count"))
        .as("mean_v"),
      col("stdev").as("stdev_v"))
  }

  /** Same oracle as the direct pipeline — the checkpointed path must
    * be value-identical. */
  val zonalCheckpointedSql: String = zonalBasicSql

  /** The incremental growth path under the oracle gate: table created
    * with the NORTH half of the tiles (v1), south half appended as a
    * streaming batch (v2); per-FID stats saved at v1 are folded with
    * the CDC delta ([[graft.sources.TileTable.readChanges]] — only
    * the appended files, asserted in-query) and finalized. The merge
    * must equal a full recompute over the whole grid, so the SAME
    * DuckDB oracle as q_zonal_basic applies. */
  def zonalIncremental(spark: SparkSession): DataFrame = {
    import graft.sources.TileTable
    val grid = Synth.testGrid
    val table = cachedFixtureTable("incr") { root =>
      val all = Synth.tiles(spark, grid)
      val tr = regexp_extract(col("image_id"), "tile_(\\d+)_(\\d+)", 1)
        .cast("int")
      TileTable.write(spark, all.where(tr < lit(grid.tilesY / 2)), grid,
        Some(-9999.0), root, cellLevel = 8, numFiles = 2)
      TileTable.appendBatch(spark, root,
        all.where(tr >= lit(grid.tilesY / 2)), batchId = 0L)
    }
    val zones = Fixtures.zonesBasic(grid)
    val head = table.version
    // yesterday's state: per-FID stats over the v1 snapshot
    val prev = ZonalEngine.fidStatsFor(spark,
      TileTable.openAt(table.root, 1).read(spark), zones, grid,
      Some(-9999.0))
    // the CDC contract: the delta is exactly the appended batch
    val delta = TileTable.changedFiles(table.root, 1, head)
    require(delta.nonEmpty && delta.forall(_.path.startsWith("append-0-")),
      s"incremental read leaked beyond the appended batch: " +
        delta.map(_.path).mkString(", "))
    val res = ZonalEngine.runIncremental(spark, table, zones, prev,
      fromVersion = 1)
    res.select(
      col("group").as("grp"),
      col("count").as("cnt"),
      col("nodata_count").as("nodata_cnt"),
      col("valid_count").as("valid_cnt"),
      col("sum").as("sum_v"),
      col("min").as("min_v"),
      col("max").as("max_v"),
      when(col("valid_count") > 0, col("sum") / col("valid_count"))
        .as("mean_v"),
      col("stdev").as("stdev_v"))
  }

  /** Incremental merge ≡ full recompute — same oracle. */
  val zonalIncrementalSql: String = zonalBasicSql

  /** Row-level deletes under the oracle gate — the takedown path a
    * training corpus runs routinely: v1 = the grid minus the last
    * tile row, v2 = that row appended as a batch, v3 = deleteWhere
    * removing the batch (its files drop WHOLE) plus tile row 3
    * (tombstones inside surviving files). Yesterday's per-FID stats
    * (v1) fold with the window's adds AND retractions
    * ([[graft.operators.ZonalStats.retractFidStats]], min/max
    * recompute where the retracted pixels could have been the
    * extreme); the merge must equal a full recompute over the
    * surviving rows — the DuckDB oracle recomputes those stats from
    * the surviving pixel set directly. */
  def zonalAfterDelete(spark: SparkSession): DataFrame = {
    import graft.sources.TileTable
    val grid = Synth.testGrid
    val lastRow = grid.tilesY - 1
    val tr = regexp_extract(col("image_id"), "tile_(\\d+)_(\\d+)", 1)
      .cast("int")
    val table = cachedFixtureTable("del") { root =>
      val all = Synth.tiles(spark, grid)
      TileTable.write(spark, all.where(tr < lit(lastRow)), grid,
        Some(-9999.0), root, cellLevel = 8, numFiles = 2)
      TileTable.appendBatch(spark, root,
        all.where(tr === lit(lastRow)), batchId = 0L)
      TileTable.deleteWhere(spark, root,
        tr === lit(lastRow) || tr === lit(3))
    }
    val zones = Fixtures.zonesBasic(grid)
    val head = table.version
    require(head >= 3, s"expected create+append+delete, at v$head")
    // the CDC contract: the window carries both adds and removals
    val cs = TileTable.changedSets(table.root, 1, head)
    require(cs.hasRemovals && cs.added.nonEmpty,
      "expected an append AND a delete in the window")
    val prev = ZonalEngine.fidStatsFor(spark,
      TileTable.openAt(table.root, 1).read(spark), zones, grid,
      Some(-9999.0))
    val res = ZonalEngine.runIncremental(spark, table, zones, prev,
      fromVersion = 1)
    res.select(
      col("group").as("grp"),
      col("count").as("cnt"),
      col("nodata_count").as("nodata_cnt"),
      col("valid_count").as("valid_cnt"),
      col("sum").as("sum_v"),
      col("min").as("min_v"),
      col("max").as("max_v"),
      when(col("valid_count") > 0, col("sum") / col("valid_count"))
        .as("mean_v"),
      col("stdev").as("stdev_v"))
  }

  /** Schema evolution under the oracle gate: v1 = the north half
    * written BEFORE the columns existed, then addColumn(quality,
    * default 0.5) + addColumn(source, no default), then the south
    * half appended carrying both (quality alternating by tile row,
    * NULL on the last row — which the declared default fills). One
    * scan spans both file generations; the oracle recomputes the
    * group counts from the same deterministic rules. */
  def schemaEvolution(spark: SparkSession): DataFrame = {
    import graft.sources.TileTable
    val grid = Synth.testGrid
    val tr = regexp_extract(col("image_id"), "tile_(\\d+)_(\\d+)", 1)
      .cast("int")
    val table = cachedFixtureTable("evo") { root =>
      val all = Synth.tiles(spark, grid)
      TileTable.write(spark, all.where(tr < lit(grid.tilesY / 2)), grid,
        Some(-9999.0), root, cellLevel = 8, numFiles = 2)
      TileTable.addColumn(root, "quality", "double", Some("0.5"))
      TileTable.addColumn(root, "source", "string")
      val batch = all.where(tr >= lit(grid.tilesY / 2))
        .withColumn("quality",
          when(tr === lit(grid.tilesY - 1), lit(null).cast("double"))
            .otherwise(lit(0.25) + (tr % 2).cast("double") / 4))
        .withColumn("source", lit("web"))
      TileTable.appendBatch(spark, root, batch, batchId = 0L)
    }
    table.read(spark)
      .groupBy(col("quality").as("quality"), col("source").as("src"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("sum_h"))
      .select("quality", "src", "n", "sum_h")
  }

  /** Tile rows 0..3 predate the columns (quality→0.5 default, src
    * NULL); rows 4..7 carry quality 0.25+((tr%2)/4) except row 7's
    * NULL → default. tileH=16 ⇒ sum_h = 16·n. */
  val schemaEvolutionSql: String = s"""
WITH tiles AS (
  SELECT tr, tc,
    CASE WHEN tr < 4 THEN CAST(0.5 AS DOUBLE)
         WHEN tr = 7 THEN CAST(0.5 AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE) + CAST(tr % 2 AS DOUBLE) / 4
         END AS quality,
    CASE WHEN tr < 4 THEN NULL ELSE 'web' END AS src
  FROM range(0,8) a(tr), range(0,8) b(tc))
SELECT quality, src, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(16) AS BIGINT) AS sum_h
FROM tiles GROUP BY quality, src"""

  /** Surviving pixel set: everything except tile rows 3 and 7
    * (16-px-tall tile rows → gr bands [48,64) and [112,128)). */
  val zonalAfterDeleteSql: String =
    s"""${zonalPrologue(
      "gr < 112 AND NOT (gr BETWEEN 48 AND 63)")}
SELECT groups.grp AS grp,
  COALESCE(g.cnt, 0) AS cnt,
  COALESCE(g.nd, 0) AS nodata_cnt,
  COALESCE(g.cnt - g.nd, 0) AS valid_cnt,
  COALESCE(g.sv, 0.0) AS sum_v,
  g.mnv AS min_v,
  g.mxv AS max_v,
  CASE WHEN g.cnt - g.nd > 0 THEN g.sv / (g.cnt - g.nd) END AS mean_v,
  CASE WHEN g.cnt - g.nd > 0 THEN
    sqrt(greatest(g.svv / (g.cnt - g.nd)
      - (g.sv / (g.cnt - g.nd)) * (g.sv / (g.cnt - g.nd)), 0.0))
  END AS stdev_v
FROM groups LEFT JOIN g ON groups.grp IS NOT DISTINCT FROM g.grp"""

  /** Histogram bounds for the approx-percentile query: value range
    * [0, 97) and a power-of-two bin count so binWidth 97/32 = 3.03125
    * is an exact dyadic — every midpoint computes bit-identically in
    * Spark and DuckDB. */
  private val HistLo = 0.0
  private val HistHi = 97.0
  private val HistBins = 32

  /** Scale-path percentiles under the oracle gate: the deterministic
    * mergeable fixed-bin histogram sketch (map-side (group, bin)
    * partials; order-independent, unlike GK whose summary depends on
    * merge order). GK (`percentile_approx`) remains the alternative
    * scale path behind exactPercentiles=false without a histogram,
    * bounded by a ScalaTest against the exact path. */
  def zonalApproxPercentile(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val tiles = Synth.tiles(spark, grid)
    ZonalEngine.run(spark, tiles, Fixtures.zonesBasic(grid), grid,
      nodata = Some(-9999.0), percentilesRaw = Seq(5.0, 95.0),
      exactPercentiles = false,
      histogram = Some((HistLo, HistHi, HistBins)))
      .select(col("group").as("grp"), col("valid_count").as("valid_cnt"),
        col("p5"), col("p95"))
  }

  /** Greenwald-Khanna percentile branch (the third percentile mode —
    * `percentile_approx`, the default beyond
    * [[graft.operators.ZonalEngine.ExactPercentileMaxTiles]]) under a
    * BOUNDS-CHECK oracle: GK summaries are merge-order dependent, so
    * the value itself cannot hash-match a static oracle — instead the
    * query emits the exact percentiles at p±1 (the tolerance window,
    * computed by the engine's already-oracle-verified exact path) and
    * a boolean that the GK estimate falls inside. DuckDB recomputes
    * the same window from raw pixel-space SQL and asserts `true`: the
    * hash compare then verifies the window VALUES agree AND the GK
    * branch landed inside. Window validity: 1 percentile point ≥ 2
    * ranks at the fixture's smallest group (n=245) vs a GK rank error
    * ≤ n/accuracy + 1 ≈ 1 rank at accuracy 10⁴. */
  def zonalGkPercentile(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val tiles = Synth.tiles(spark, grid)
    val gk = ZonalEngine.run(spark, tiles, Fixtures.zonesBasic(grid),
      grid, nodata = Some(-9999.0), percentilesRaw = Seq(25.0, 75.0),
      exactPercentiles = false) // no histogram → the GK sketch path
      .select(col("group"), col("valid_count"),
        col("p25").as("gk25"), col("p75").as("gk75"))
    val bounds = ZonalEngine.run(spark, tiles, Fixtures.zonesBasic(grid),
      grid, nodata = Some(-9999.0),
      percentilesRaw = Seq(24.0, 26.0, 74.0, 76.0))
      .select(col("group").as("b_group"),
        col("p24"), col("p26"), col("p74"), col("p76"))
    gk.join(bounds, col("group") <=> col("b_group"))
      .select(col("group").as("grp"),
        col("valid_count").as("valid_cnt"),
        round(col("p24"), 6).as("lo25"), round(col("p26"), 6).as("hi25"),
        round(col("p74"), 6).as("lo75"), round(col("p76"), 6).as("hi75"),
        ((col("gk25").isNull && col("p24").isNull) ||
          col("gk25").between(col("p24"), col("p26")))
          .as("p25_in_bounds"),
        ((col("gk75").isNull && col("p74").isNull) ||
          col("gk75").between(col("p74"), col("p76")))
          .as("p75_in_bounds"))
  }

  val zonalGkPercentileSql: String = s"""${zonalPrologue()}
SELECT groups.grp AS grp,
  COALESCE(g.cnt - g.nd, 0) AS valid_cnt,
  round(q.q24, 6) AS lo25, round(q.q26, 6) AS hi25,
  round(q.q74, 6) AS lo75, round(q.q76, 6) AS hi75,
  true AS p25_in_bounds, true AS p75_in_bounds
FROM groups
LEFT JOIN g ON groups.grp IS NOT DISTINCT FROM g.grp
LEFT JOIN (
  SELECT grp,
    quantile_cont(v, 0.24) FILTER (WHERE v <> -9999.0) AS q24,
    quantile_cont(v, 0.26) FILTER (WHERE v <> -9999.0) AS q26,
    quantile_cont(v, 0.74) FILTER (WHERE v <> -9999.0) AS q74,
    quantile_cont(v, 0.76) FILTER (WHERE v <> -9999.0) AS q76
  FROM asg GROUP BY grp
) q ON groups.grp IS NOT DISTINCT FROM q.grp"""

  val zonalApproxPercentileSql: String = {
    val w = (HistHi - HistLo) / HistBins
    def pctExpr(p: Int, name: String) =
      s"""min(CASE WHEN cum >= greatest(1.0, ceil($p.0 * n / 100.0))
      THEN $HistLo + (bin + 0.5) * $w END) AS $name"""
    s"""${zonalPrologue()},
hb AS (
  SELECT grp,
    LEAST(${HistBins - 1}, GREATEST(0,
      CAST(floor((v - $HistLo) / $w) AS INT))) AS bin,
    count(*) AS c
  FROM asg WHERE v <> -9999.0 GROUP BY 1, 2
),
hc AS (
  SELECT grp, bin, c,
    sum(c) OVER (PARTITION BY grp ORDER BY bin) AS cum,
    sum(c) OVER (PARTITION BY grp) AS n
  FROM hb
),
hp AS (
  SELECT grp, ${pctExpr(5, "p5")}, ${pctExpr(95, "p95")}
  FROM hc GROUP BY grp
)
SELECT groups.grp AS grp,
  COALESCE(g.cnt - g.nd, 0) AS valid_cnt,
  hp.p5 AS p5, hp.p95 AS p95
FROM groups
LEFT JOIN g ON groups.grp IS NOT DISTINCT FROM g.grp
LEFT JOIN hp ON groups.grp IS NOT DISTINCT FROM hp.grp"""
  }

  /** Envelope-fallback path: sub-pixel slivers; the multipart zone's
    * LAST part supplies scalars, percentile chunks accumulate over
    * all parts (runner.py:783-811). Windows (precomputed from the
    * fixture coordinates): s1→pixel (10,5); multi→(50,20) then
    * (90,77). */
  def zonalFallback(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val tiles = Synth.tiles(spark, grid)
    val res = ZonalEngine.run(spark, tiles, Fixtures.zonesFallback(grid),
      grid, nodata = Some(-9999.0), percentilesRaw = Seq(50.0),
      simplify = false)
    res.select(
      col("group").as("grp"),
      col("count").as("cnt"),
      col("nodata_count").as("nodata_cnt"),
      col("valid_count").as("valid_cnt"),
      col("sum").as("sum_v"),
      col("min").as("min_v"),
      col("max").as("max_v"),
      col("stdev").as("stdev_v"),
      round(col("p50"), 6).as("p50"))
  }

  val zonalFallbackSql: String = s"""WITH cells(grp, gr, gc, is_scalar) AS (
  VALUES ('s1', 10, 5, 1), ('multi', 50, 20, 0), ('multi', 90, 77, 1)
),
cv AS (
  SELECT grp, is_scalar, ${Synth.valueSql()} AS v FROM cells
),
scal AS (
  SELECT grp,
    CAST(count(*) AS BIGINT) AS cnt,
    CAST(count(*) FILTER (WHERE v = -9999.0) AS BIGINT) AS nd,
    COALESCE(sum(v) FILTER (WHERE v <> -9999.0), 0.0) AS sv,
    COALESCE(sum(v*v) FILTER (WHERE v <> -9999.0), 0.0) AS svv,
    min(v) FILTER (WHERE v <> -9999.0) AS mnv,
    max(v) FILTER (WHERE v <> -9999.0) AS mxv
  FROM cv WHERE is_scalar = 1 GROUP BY grp
),
q AS (
  SELECT grp, quantile_cont(v, 0.5) FILTER (WHERE v <> -9999.0) AS q50
  FROM cv GROUP BY grp
)
SELECT scal.grp AS grp, scal.cnt AS cnt, scal.nd AS nodata_cnt,
  scal.cnt - scal.nd AS valid_cnt, scal.sv AS sum_v,
  scal.mnv AS min_v, scal.mxv AS max_v,
  CASE WHEN scal.cnt - scal.nd > 0 THEN
    sqrt(greatest(scal.svv / (scal.cnt - scal.nd)
      - (scal.sv / (scal.cnt - scal.nd)) * (scal.sv / (scal.cnt - scal.nd)),
      0.0))
  END AS stdev_v,
  round(q.q50, 6) AS p50
FROM scal JOIN q ON scal.grp = q.grp"""

  // ---------------------------------------------------------------
  // Polygon-polygon overlap area (north-star analysis op)
  // ---------------------------------------------------------------

  /** Rect zone set B: the A rects shifted by (+5, +5) pixels. */
  private val overlapARects = Seq( // (fid, c0, r0, c1, r1)
    (1L, 2, 2, 20, 12), (2L, 40, 30, 60, 44), (3L, 10, 8, 30, 26),
    (4L, 70, 70, 100, 100), (5L, 0, 100, 30, 120))
  private val overlapBRects = overlapARects.map { case (f, c0, r0, c1, r1) =>
    (f + 100, c0 + 5, r0 + 5, c1 + 5, r1 + 5)
  }

  def overlapArea(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val grid = Synth.testGrid
    def mk(rs: Seq[(Long, Int, Int, Int, Int)]) = rs.map {
      case (f, c0, r0, c1, r1) => Synth.rectPx(grid, f, s"z$f", c0, r0, c1, r1)
    }
    val zonesA = mk(overlapARects)
    val zonesB = mk(overlapBRects)
    val aDf = zonesA.map(z => (z.fid, graft.geom.Zone.toWkb(z.geom)))
      .toDF("fid", "geom_wkb")
    val bc = spark.sparkContext.broadcast(
      new graft.geom.ZoneIndex(zonesB.toArray))
    graft.operators.OverlapKnn.overlapPairs(spark, aDf, bc)
  }

  val overlapAreaSql: String = {
    val grid = Synth.testGrid
    def vals(rs: Seq[(Long, Int, Int, Int, Int)]) = rs.map {
      case (f, c0, r0, c1, r1) =>
        s"($f, ${grid.gt.cornerX(c0)}, ${grid.gt.cornerY(r1)}, " +
          s"${grid.gt.cornerX(c1)}, ${grid.gt.cornerY(r0)})"
    }.mkString(", ")
    s"""
WITH za(fid, x0, y0, x1, y1) AS (VALUES ${vals(overlapARects)}),
zb(fid, x0, y0, x1, y1) AS (VALUES ${vals(overlapBRects)})
SELECT * FROM (
  SELECT za.fid AS fid_a, zb.fid AS fid_b,
    greatest(least(za.x1, zb.x1) - greatest(za.x0, zb.x0), 0.0) *
    greatest(least(za.y1, zb.y1) - greatest(za.y0, zb.y0), 0.0)
      AS overlap_area
  FROM za, zb
) WHERE overlap_area > 0.0"""
  }

  // ---------------------------------------------------------------
  // kNN lookup: points → nearest zone centroids
  // ---------------------------------------------------------------

  def knnZones(spark: SparkSession, sf: String): DataFrame = {
    val grid = Synth.testGrid
    val zones = Fixtures.zonesBasic(grid)
    val n = spark.read.parquet(s"$sf/nation.parquet")
    val points = n.select(
      org.apache.spark.sql.functions.col("n_nationkey").cast("long").as("id"),
      (org.apache.spark.sql.functions.col("n_nationkey").cast("double") * 13.0
        % 360.0 - 180.0 + 0.25).as("x"),
      (org.apache.spark.sql.functions.col("n_nationkey").cast("double") * 7.0
        % 180.0 - 90.0 + 0.25).as("y"))
    graft.operators.OverlapKnn.nearestZones(spark, points, zones, k = 2)
      .withColumn("dist", org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.col("dist"), 6))
  }

  val knnZonesSql: String = {
    val grid = Synth.testGrid
    // embed the JTS-computed centroids so the oracle shares the exact
    // centroid doubles with the engine
    val cents = Fixtures.zonesBasic(grid).map { z =>
      val c = z.geom.getCentroid
      s"(${z.fid}, ${fmtD(c.getX)}, ${fmtD(c.getY)})"
    }.mkString(", ")
    s"""
WITH cents(fid, cx, cy) AS (VALUES $cents),
pts AS (
  SELECT CAST(n_nationkey AS BIGINT) AS id,
    CAST(n_nationkey AS DOUBLE) * 13.0 % 360.0 - 180.0 + 0.25 AS x,
    CAST(n_nationkey AS DOUBLE) * 7.0 % 180.0 - 90.0 + 0.25 AS y
  FROM nation
)
SELECT id, fid, CAST(rank AS INT) AS rank, round(dist, 6) AS dist FROM (
  SELECT p.id, c.fid,
    sqrt((p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)) AS dist,
    row_number() OVER (PARTITION BY p.id ORDER BY
      sqrt((p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)) ASC,
      c.fid ASC) AS rank
  FROM pts p, cents c
) WHERE rank <= 2"""
  }

  private def fmtD(d: Double): String = {
    val s = java.lang.Double.toString(d)
    if (s.contains("E")) new java.math.BigDecimal(d).toPlainString else s
  }

  // ---------------------------------------------------------------
  // Tile decode + per-tile stats (S4 scan + decode expression)
  // ---------------------------------------------------------------

  def tileStats(spark: SparkSession): DataFrame = {
    val tiles = Synth.tiles(spark, Synth.testGrid)
    graft.operators.ImageOps.tileStats(tiles, -9999.0)
  }

  val tileStatsSql: String = s"""
WITH px AS (
  SELECT gr, gc, ${Synth.valueSql()} AS v
  FROM range(0,128) t_r(gr), range(0,128) t_c(gc)
)
SELECT printf('tile_%04d_%04d', gr // 16, gc // 16) AS image_id,
  CAST(COUNT(*) FILTER (WHERE v = -9999.0) AS BIGINT) AS nodata_px,
  CAST(COUNT(*) AS BIGINT) AS total_px,
  COALESCE(SUM(v) FILTER (WHERE v <> -9999.0), 0.0) AS sum_px,
  CAST(MIN(v) FILTER (WHERE v <> -9999.0) AS DOUBLE) AS min_px,
  CAST(MAX(v) FILTER (WHERE v <> -9999.0) AS DOUBLE) AS max_px
FROM px GROUP BY 1"""

  // ---------------------------------------------------------------
  // Image resize (multimodal op; nearest-neighbor 2× downsample)
  // ---------------------------------------------------------------

  def imageResize(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val tiles = Synth.tiles(spark, grid)
    val px = graft.operators.ImageOps.pixels(col("bytes"), col("fmt"))
    val small = graft.operators.ImageOps.resizeNearest(px, grid.tileW,
      grid.tileH, 2)
    tiles.select(col("image_id"),
      size(small).cast("long").as("n_px"),
      graft.operators.ImageOps.pxSum(small).as("sum_px"))
  }

  val imageResizeSql: String = s"""
WITH px AS (
  SELECT gr, gc, ${Synth.valueSql()} AS v
  FROM range(0,128) t_r(gr), range(0,128) t_c(gc)
)
SELECT printf('tile_%04d_%04d', gr // 16, gc // 16) AS image_id,
  CAST(COUNT(*) AS BIGINT) AS n_px,
  SUM(v) AS sum_px
FROM px WHERE gr % 2 = 0 AND gc % 2 = 0 GROUP BY 1"""

  // ---------------------------------------------------------------
  // Lossy (JPEG) decode contract — oracle-adjacent PSNR gate
  // ---------------------------------------------------------------

  /** The input_hint's lossy-decode invariant ("decoded pixels
    * allclose at PSNR ≥ 40 dB for lossy formats") as a DRIVER query,
    * not just a CodecSpec assertion: each fixture row carries the
    * ground-truth raw encoding AND the JPEG encoding of the same
    * smooth gradient field; the engine decodes BOTH through the
    * production decode expression and emits the SQL-replicable truth
    * stats plus a `psnr_ge_40` boolean (mse ≤ 255²/10⁴ ⟺
    * PSNR ≥ 40 dB at peak 255 — no log needed, exact threshold).
    * DuckDB recomputes the truth columns from the pixel formula and
    * asserts the boolean literally TRUE — a broken or drifting JPEG
    * decode flips the boolean and the hash compare goes red (the
    * bounds-check oracle pattern of q_zonal_gk_pct /
    * q_approx_distinct). CodecSpec proves the gate discriminates
    * (a wrong pixel field scores far below 40 dB). */
  def jpegPsnr(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val tiles = Synth.lossyTiles(spark, grid)
    val staged = tiles.select(col("image_id"),
      graft.operators.ImageOps.pixels(col("raw_bytes"), lit("raw"))
        .as("a"),
      graft.operators.ImageOps.pixels(col("jpg_bytes"), lit("jpg"))
        .as("b"))
    val mse = aggregate(
      zip_with(col("a"), col("b"), (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x) / size(col("a")).cast("double")
    staged.select(col("image_id"),
      size(col("a")).cast("long").as("n_px"),
      graft.operators.ImageOps.pxSum(col("a")).as("truth_sum"),
      (mse <= lit(255.0 * 255.0 / 1e4)).as("psnr_ge_40"))
  }

  val jpegPsnrSql: String = """
WITH px AS (
  SELECT gr, gc, CAST(gr + gc AS DOUBLE) AS v
  FROM range(0,128) t_r(gr), range(0,128) t_c(gc)
)
SELECT printf('tile_%04d_%04d', gr // 16, gc // 16) AS image_id,
  CAST(COUNT(*) AS BIGINT) AS n_px,
  SUM(v) AS truth_sum,
  TRUE AS psnr_ge_40
FROM px GROUP BY 1"""

  /** 56-bit perceptual dHash per tile (decode → 8×8 downsample →
    * horizontal-gradient sign bits) — the image-dedup primitive,
    * computed entirely inside each tile's row. The oracle recomputes
    * every bit from the pixel formula with integer shifts. */
  def imageDhash(spark: SparkSession): DataFrame = {
    val grid = Synth.testGrid
    val tiles = Synth.tiles(spark, grid)
    val px = graft.operators.ImageOps.pixels(col("bytes"), col("fmt"))
    tiles.select(col("image_id"),
      graft.operators.ImageOps.dHash(px, grid.tileW, grid.tileH, 2)
        .as("dhash"))
  }

  /** Shared dhash CTE: per-tile hash from the pixel formula. Bit i
    * (row-major over the 8×7 neighbor pairs, MSB first) compares
    * small(r,c) < small(r,c+1) on the 2×-downsampled tile. */
  private val dhashCte: String = s"""
WITH px AS (
  SELECT gr, gc, ${Synth.valueSql()} AS v
  FROM range(0,128) t_r(gr), range(0,128) t_c(gc)
),
small AS (
  SELECT gr // 16 AS tr, gc // 16 AS tc,
    (gr % 16) // 2 AS r, (gc % 16) // 2 AS c, v
  FROM px WHERE gr % 2 = 0 AND gc % 2 = 0
),
bits AS (
  SELECT l.tr, l.tc, l.r, l.c,
    CASE WHEN l.v < rr.v THEN 1 ELSE 0 END AS bit
  FROM small l JOIN small rr
    ON rr.tr = l.tr AND rr.tc = l.tc AND rr.r = l.r AND rr.c = l.c + 1
  WHERE l.c < 7
),
dh AS (
  SELECT printf('tile_%04d_%04d', tr, tc) AS image_id,
    CAST(SUM(CAST(bit AS BIGINT) << (55 - (r * 7 + c))) AS BIGINT)
      AS dhash
  FROM bits GROUP BY 1
)"""

  val imageDhashSql: String = s"""$dhashCte
SELECT image_id, dhash FROM dh"""

  /** Image near-dup pairs by dHash Hamming distance through the LSH
    * band join: the tile set is doubled with exact copies (`~dup`
    * ids), so every tile must find its duplicate (Hamming 0) plus any
    * true formula collisions; the oracle brute-forces all pairs —
    * agreement also certifies the band join's ≤ bands−1 Hamming
    * guarantee at this threshold. */
  /** dHash per tile with an exact `~dup` copy of every tile — the
    * ONE fixture shared by the image near-dup and cluster queries
    * (hash-once-persist: dhash feeds several plan branches). */
  private def persistedDhash(spark: SparkSession): DataFrame =
    graft.engine.Caches.persist(imageDhash(spark))

  private def dupDoubledDhash(spark: SparkSession): DataFrame = {
    val withDh = persistedDhash(spark)
    withDh.unionByName(withDh.select(
      concat(col("image_id"), lit("~dup")).as("image_id"), col("dhash")))
  }

  /** The ONE band-join parameterization every image-dedup query uses
    * (4 × 14-bit bands, Hamming ≤ 2 — pigeonhole-complete). */
  private val DhashBands = 4
  private val DhashBits = 14
  private val DhashMaxHamming = 2

  private def dhashPairs(all: DataFrame): DataFrame =
    graft.operators.ImageOps.dhashNearDupPairs(all, "image_id", "dhash",
      DhashBands, DhashBits, DhashMaxHamming)

  def imageNearDup(spark: SparkSession): DataFrame =
    dhashPairs(dupDoubledDhash(spark))
      .select(col("id_a"), col("id_b"), col("hamming").cast("long")
        .as("hamming"))

  val imageNearDupSql: String = s"""$dhashCte,
all_ids AS (
  SELECT image_id, dhash FROM dh
  UNION ALL SELECT image_id || '~dup', dhash FROM dh
)
SELECT a.image_id AS id_a, b.image_id AS id_b,
  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
FROM all_ids a JOIN all_ids b ON a.image_id < b.image_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 2"""

  /** Incremental image dedup: corpus = the NORTH half's tiles (rows
    * 0–3); the ingest batch = the south half PLUS exact `~dup` copies
    * of the north tiles — so every batch population is exercised:
    * fresh hash values (south tiles), values the batch GAINED members
    * in (the dup copies, which must inherit their value's Hamming
    * neighborhood), and batch-batch pairs. Must equal the FULL
    * corpus∪batch near-dup set filtered to batch-touching pairs —
    * which is exactly what the oracle computes (the q_image_neardup
    * brute-force SQL + the batch predicate). */
  def imageIncr(spark: SparkSession): DataFrame = {
    val withDh = persistedDhash(spark)
    val half = Synth.testGrid.tilesY / 2
    val tr = regexp_extract(col("image_id"), "tile_(\\d+)_(\\d+)", 1)
      .cast("int")
    val corpus = withDh.where(tr < half)
    val batch = withDh.where(tr >= half).unionByName(
      withDh.where(tr < half).select(
        concat(col("image_id"), lit("~dup")).as("image_id"),
        col("dhash")))
    val idx = graft.operators.ImageOps.dhashIndex(corpus, "image_id",
      "dhash", DhashBands, DhashBits)
    graft.operators.ImageOps.dhashNearDupIncremental(idx, batch,
      "image_id", "dhash", DhashMaxHamming)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("long").as("hamming"))
  }

  val imageIncrSql: String = s"""$dhashCte,
all_ids AS (
  SELECT image_id, dhash FROM dh
  UNION ALL
  SELECT image_id || '~dup', dhash FROM dh
    WHERE substr(image_id, 6, 4) < '0004'
)
SELECT * FROM (
  SELECT a.image_id AS id_a, b.image_id AS id_b,
    CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
  FROM all_ids a JOIN all_ids b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
)
WHERE NOT (
  (id_a NOT LIKE '%~dup' AND substr(id_a, 6, 4) < '0004') AND
  (id_b NOT LIKE '%~dup' AND substr(id_b, 6, 4) < '0004'))"""

  /** Image takedown (the q_minhash_takedown pattern on the dHash
    * modality): the below-half corpus is indexed, its tile-row-0001
    * images are removed from the INDEX
    * ([[graft.operators.ImageOps.dhashIndexRemove]] — a hash VALUE
    * retires only with its last member), then the imageIncr batch
    * dedups against the reduced index; the oracle recomputes
    * brute-force Hamming pairs over the reduced population filtered
    * to batch-touching pairs. */
  def imageTakedown(spark: SparkSession): DataFrame = {
    val withDh = persistedDhash(spark)
    val half = Synth.testGrid.tilesY / 2
    val tr = regexp_extract(col("image_id"), "tile_(\\d+)_(\\d+)", 1)
      .cast("int")
    val corpus = withDh.where(tr < half)
    val batch = withDh.where(tr >= half).unionByName(
      withDh.where(tr < half).select(
        concat(col("image_id"), lit("~dup")).as("image_id"),
        col("dhash")))
    val idx = graft.operators.ImageOps.dhashIndexRemove(
      graft.operators.ImageOps.dhashIndex(corpus, "image_id", "dhash",
        DhashBands, DhashBits),
      corpus.where(tr === 1).select("image_id"), "image_id")
    graft.operators.ImageOps.dhashNearDupIncremental(idx, batch,
      "image_id", "dhash", DhashMaxHamming)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("long").as("hamming"))
  }

  val imageTakedownSql: String = s"""$dhashCte,
all_ids AS (
  SELECT image_id, dhash FROM dh
    WHERE NOT (substr(image_id, 6, 4) = '0001')
  UNION ALL
  SELECT image_id || '~dup', dhash FROM dh
    WHERE substr(image_id, 6, 4) < '0004'
)
SELECT * FROM (
  SELECT a.image_id AS id_a, b.image_id AS id_b,
    CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
  FROM all_ids a JOIN all_ids b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
)
WHERE NOT (
  (id_a NOT LIKE '%~dup' AND substr(id_a, 6, 4) < '0004') AND
  (id_b NOT LIKE '%~dup' AND substr(id_b, 6, 4) < '0004'))"""

  /** Image dedup CLUSTERS: the dHash near-dup pairs feed connected
    * components — one canonical tile per perceptual-duplicate group
    * (comp = the group's minimum image_id). The oracle recomputes the
    * pair set brute-force (the band join's pigeonhole completeness is
    * already certified by q_image_neardup) and clusters it with the
    * shared recursive reachability CTE. */
  def imageClusters(spark: SparkSession): DataFrame = {
    val all = dupDoubledDhash(spark)
    graft.operators.Dedup.dedupClusters(
      all.select(col("image_id").as("id")),
      dhashPairs(all).select("id_a", "id_b"))
      .select(col("id").as("image_id"), col("comp"),
        col("is_canonical"))
  }

  val imageClustersSql: String =
    s"""${dhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
all_ids AS (
  SELECT image_id, dhash FROM dh
  UNION ALL SELECT image_id || '~dup', dhash FROM dh
),
pairs AS (
  SELECT a.image_id AS id_a, b.image_id AS id_b
  FROM all_ids a JOIN all_ids b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
),
nodes AS (SELECT image_id AS id FROM all_ids)""" +
      graft.engine.OracleSql.ccSuffix("image_id")
}
