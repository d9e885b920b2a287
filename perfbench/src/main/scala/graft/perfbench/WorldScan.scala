package graft.perfbench

import graft.geom.{Zone, ZoneIndex}
import graft.operators.{OverlapKnn, ZonalEngine}
import graft.sources.TileTable
import graft.synth.Synth
import org.apache.spark.sql.Row

/** world_scan: ZonalEngine.runTable over the world PNG tile table with
  * the benchZones mix (no percentiles), then OverlapKnn.overlapPairs of
  * the zones against themselves shifted. Few candidate zones per tile,
  * mostly whole-tile covers: decode and the kernel dominate. */
object WorldScan extends InProcess {
  val grid = Gen.worldGrid
  val Shift = (0.3, 0.2)

  final case class S(root: String, zones: Seq[Zone],
      expected: Map[String, GStats], expectedPairs: Long)
  type State = S

  private var root: String = _
  override def WarmupOps: Int = 7

  def fixtures(c: Ctx): Unit = {
    root = c.fixture("world", s"$grid|png|value0") { (s, d) =>
      TileTable.write(s, Synth.tiles(s, grid, "png"), grid,
        Some(Synth.Nodata.toDouble), d.resolve("table").toString)
    }.resolve("table").toString
  }

  def setup(c: Ctx): S = {
    require(TileTable.exists(root), s"missing world table $root")
    val rects = Gen.worldRects(grid, c.args.seed)
    val zones = Gen.rectZones(grid, rects)
    S(root, zones, Gen.worldExpected(rects),
      Gen.overlapCount(zones, Shift._1, Shift._2))
  }

  def op(c: Ctx, s: S, k: Int): Boolean = {
    val spark = c.spark
    val tr = c.tracer
    import spark.implicits._
    val table = tr("sources.open")(TileTable.open(s.root))
    val rows = tr("operators.run_table")(
      ZonalEngine.runTable(spark, table, s.zones).collect())
    val shifted = s.zones.map { z =>
      val g = new org.locationtech.jts.geom.util.AffineTransformation()
        .translate(Shift._1, Shift._2).transform(z.geom)
      Zone(z.fid + 10000, z.group, g)
    }
    val aDf = s.zones.map(z => (z.fid, Zone.toWkb(z.geom))).toDF("fid", "geom_wkb")
    val idx = tr("geom.index_build")(new ZoneIndex(shifted.toArray))
    val bc = spark.sparkContext.broadcast(idx)
    val pairs = tr("operators.overlap")(OverlapKnn.overlapPairs(spark, aDf, bc).count())
    bc.destroy()
    pairs == s.expectedPairs && Check.groupRows(rows, s.expected, Nil)
  }

  def probes(c: Ctx, s: S, ops: Seq[OpRec]): Seq[(String, Double)] = {
    val spark = c.spark
    val table = TileTable.open(s.root)
    val env = Zone.totalEnvelope(s.zones)
    var fids: Array[Row] = null
    val fidS = Layers.timeS(1) {
      fids = ZonalEngine.fidStatsFor(spark, table.readPruned(spark, env),
        s.zones, grid, table.nodata).select("fid").collect()
    }
    graft.engine.Caches.drain(spark)
    Seq(
      "sources.open_ms" -> Layers.timeS(5)(TileTable.open(s.root)) * 1e3,
      "sources.files_kept_frac" ->
        table.prunedFiles(env).size.toDouble / table.manifest.files.size,
      "operators.fidstats_s" -> fidS,
      "operators.finish_s" -> math.max(0.0, c.tracer.perOp("operators.run_table") - fidS),
      "operators.unset_fids" -> (s.zones.size - fids.length).toDouble) ++
      Layers.tileProbes(grid, s.zones, c.args.seed, 0, table.nodata, lastWins = false)
  }

  override def extraDetail(c: Ctx, s: S, walls: Seq[Double]): Seq[(String, String)] =
    Seq("tiles" -> grid.numTiles.toString,
      "tiles_per_s" -> Json.num(grid.numTiles / Stats.median(walls)))
}

/** Output comparison against expected group statistics. */
object Check {
  private def num(r: Row, f: String): Option[Double] = {
    val v = r.getAs[Any](f)
    if (v == null) None else Some(v.asInstanceOf[Number].doubleValue)
  }

  def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 + 1e-9 * math.abs(y)
    case _ => false
  }

  def same(g: String, got: Seq[Option[Double]], want: GStats): Boolean = {
    val w = Seq(want.min, want.max, Some(want.count.toDouble),
      Some(want.nodata.toDouble), Some(want.valid.toDouble), Some(want.sum),
      want.stdev) ++ want.pcts
    val ok = got.size == w.size && got.zip(w).forall { case (a, b) => close(a, b) }
    if (!ok) System.err.println(s"[perfbench] mismatch in group $g: got $got want $w")
    ok
  }

  /** Engine rows (group + reference stat fields) equal the expectation. */
  def groupRows(rows: Seq[Row], want: Map[String, GStats], pKeys: Seq[String]): Boolean = {
    val fields = ZonalEngine.statFields(pKeys)
    val got = rows.map(r => r.getAs[String]("group") -> fields.map(num(r, _))).toMap
    got.keySet == want.keySet && want.forall { case (g, w) => same(g, got(g), w) }
  }
}
