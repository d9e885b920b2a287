package graft.operators

import graft.SparkSpec
import graft.engine.Fixtures
import graft.oracle.RefOracle
import graft.synth.Synth
import org.apache.spark.sql.DataFrame

/** Engine ⟷ reference-semantics-oracle parity (SURVEY.md §5.1): the
  * Spark pipeline must reproduce the single-threaded oracle exactly —
  * doubles compared with `==` (the fixtures are integer-valued so
  * every implementation agrees bit-for-bit). */
class ZonalParitySpec extends SparkSpec {
  private val grid = Synth.testGrid

  private def collectStats(df: DataFrame, pKeys: Seq[String])
      : Map[Option[String], (Option[Double], Option[Double], Long, Long,
        Long, Double, Option[Double], Seq[Option[Double]])] =
    df.collect().map { r =>
      val g = Option(r.getAs[String]("group"))
      def d(c: String) = Option(r.getAs[Any](c)).map(_.asInstanceOf[Double])
      g -> ((d("min"), d("max"), r.getAs[Long]("count"),
        r.getAs[Long]("nodata_count"), r.getAs[Long]("valid_count"),
        r.getAs[Double]("sum"), d("stdev"), pKeys.map(d)))
    }.toMap

  private def oracleStats(zones: Seq[graft.geom.Zone], ps: Seq[Double],
      simplify: Boolean) =
    RefOracle.zonalStats(grid, Synth.value, zones, Some(-9999.0), ps,
      simplify).map { case (g, s) =>
      g -> ((s.min, s.max, s.count, s.nodataCount, s.validCount, s.sum,
        s.stdev, s.pcts))
    }

  private def check(zones: Seq[graft.geom.Zone], ps: Seq[Double],
      simplify: Boolean = true, fmt: String = "raw"): Unit = {
    val tiles = Synth.tiles(spark, grid, fmt)
    val res = ZonalEngine.run(spark, tiles, zones, grid, Some(-9999.0),
      ps, simplify)
    val pKeys = ZonalEngine.percentileKeys(
      ZonalEngine.normalizePercentiles(ps))
    val got = collectStats(res, pKeys)
    val exp = oracleStats(zones, ps, simplify)
    assert(got.keySet === exp.keySet)
    for (g <- exp.keySet) assert(got(g) === exp(g), s"group=$g")
  }

  test("basic zones match oracle (raw)") {
    check(Fixtures.zonesBasic(grid), Nil)
  }

  test("basic zones match oracle (png decode path)") {
    check(Fixtures.zonesBasic(grid), Nil, fmt = "png")
  }

  test("basic zones with percentiles match oracle") {
    check(Fixtures.zonesBasic(grid), Seq(5.0, 95.0, 25.0))
  }

  test("fallback slivers match oracle (incl. last-part-wins)") {
    check(Fixtures.zonesFallback(grid), Seq(50.0), simplify = false)
  }

  test("fallback + basic mixed") {
    check(Fixtures.zonesBasic(grid) ++
      Fixtures.zonesFallback(grid).map(z =>
        z.copy(fid = z.fid + 100)), Seq(5.0, 95.0), simplify = false)
  }

  test("boundary ties: top-left rule matches oracle and exact counts") {
    val zones = Fixtures.zonesTies(grid)
    // simplify=false: ½px DP would collapse the 1-px tie rect; the
    // rasterize tie rule is what's under test here
    check(zones, Nil, simplify = false)
    // exact membership under the top-left rule: the rect keeps its
    // half-open box (30×30), the triangle rows 60..79 keep cols
    // [60, 140-gr) (Σ 20..1 = 210), the 1-px center rect keeps exactly
    // its top-left pixel
    val res = ZonalEngine.run(spark, Synth.tiles(spark, grid), zones,
      grid, Some(-9999.0), simplify = false)
    val counts = res.collect()
      .map(r => r.getAs[String]("group") -> r.getAs[Long]("count")).toMap
    assert(counts("tl_rect") === 900L)
    assert(counts("tl_tri") === 210L)
    assert(counts("tl_1px") === 1L)
  }

  test("boundary ties: 45° diagonals through centers, both orientations") {
    // centers (g, g) lie exactly ON each hypotenuse; tri1's interior
    // is on the col>row side (diagonal = pixel-LEFT crossing →
    // included), tri2's on the col<row side (pixel-RIGHT crossing →
    // excluded) — the case where a naive (+δ, +δ) oracle nudge is
    // collinear with the edge and silently disagrees
    def pt(c: Int, r: Int) = new org.locationtech.jts.geom.Coordinate(
      grid.gt.pixelCenterX(c), grid.gt.pixelCenterY(r))
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val zones = Seq(
      graft.geom.Zone(1, "diag_right", gf.createPolygon(Array(
        pt(60, 60), pt(80, 80), pt(80, 60), pt(60, 60)))),
      graft.geom.Zone(2, "diag_left", gf.createPolygon(Array(
        pt(20, 20), pt(40, 40), pt(20, 40), pt(20, 20)))))
    check(zones, Nil, simplify = false)
    val res = ZonalEngine.run(spark, Synth.tiles(spark, grid), zones,
      grid, Some(-9999.0), simplify = false)
    val counts = res.collect()
      .map(r => r.getAs[String]("group") -> r.getAs[Long]("count")).toMap
    // diag_right: row 60 → cols [60,80); rows 61..79 → cols [gr,80):
    // 20 + Σ_{k=1..19} k = 210 (diagonal centers INCLUDED)
    assert(counts("diag_right") === 210L)
    // diag_left: rows 21..39 → cols [20, gr): Σ_{k=1..19} k = 190
    // (diagonal centers EXCLUDED; top row 20 is the apex → 0 cols)
    assert(counts("diag_left") === 190L)
  }

  test("boundary ties: last-wins kernel applies the same rule") {
    // two adjacent center rects sharing the tie edge at col 40: the
    // left rect owns the boundary centers' column under [c0, c1) for
    // BOTH kernels, so burning order cannot matter here
    val zones = Seq(
      Fixtures.centerRectPx(grid, 1, "left", 10, 20, 40, 50),
      Fixtures.centerRectPx(grid, 2, "right", 40, 20, 70, 50))
    val pair = ZonalEngine.run(spark, Synth.tiles(spark, grid), zones,
      grid, Some(-9999.0))
    val lw = ZonalEngine.run(spark, Synth.tiles(spark, grid), zones,
      grid, Some(-9999.0), lastWins = true)
    def cnts(df: DataFrame) = df.collect()
      .map(r => r.getAs[String]("group") -> r.getAs[Long]("count")).toMap
    assert(cnts(pair) === Map("left" -> 900L, "right" -> 900L))
    assert(cnts(pair) === cnts(lw))
  }

  test("no-intersection short-circuit returns zero stats for all groups") {
    val zones = Seq(
      graft.geom.Zone.rect(1, "a", 200.0, 10.0, 210.0, 20.0),
      graft.geom.Zone.rect(2, "b", 220.0, 10.0, 230.0, 20.0))
    check(zones, Seq(5.0))
  }

  test("scale-aware percentile default: exact small, sketch past threshold") {
    assert(ZonalEngine.choosePercentileMode(1000L))
    assert(!ZonalEngine.choosePercentileMode(
      ZonalEngine.ExactPercentileMaxTiles + 1))

    // a fixture-sized table picks the exact path: runTable output is
    // value-identical to the explicit exact run
    val base = java.nio.file.Files.createTempDirectory("graft-pctmode")
    val root = s"$base/table"
    graft.sources.TileTable.write(spark, Synth.tiles(spark, grid), grid,
      Some(-9999.0), root, cellLevel = 8, numFiles = 4)
    val table = graft.sources.TileTable.open(root)
    val zones = Fixtures.zonesBasic(grid)
    val auto = ZonalEngine.runTable(spark, table, zones, Seq(50.0))
      .collect().map(r => (r.getAs[String]("group"),
        r.getAs[Any]("p50"))).toMap
    val exact = ZonalEngine.run(spark, Synth.tiles(spark, grid), zones,
      grid, Some(-9999.0), Seq(50.0))
      .collect().map(r => (r.getAs[String]("group"),
        r.getAs[Any]("p50"))).toMap
    assert(auto === exact)
  }

  test("partition-count invariance") {
    val zones = Fixtures.zonesBasic(grid)
    val t1 = Synth.tiles(spark, grid).repartition(1)
    val t13 = Synth.tiles(spark, grid).repartition(13)
    val pKeys = ZonalEngine.percentileKeys(Seq(5.0, 95.0))
    val a = collectStats(ZonalEngine.run(spark, t1, zones, grid,
      Some(-9999.0), Seq(5.0, 95.0)), pKeys)
    val b = collectStats(ZonalEngine.run(spark, t13, zones, grid,
      Some(-9999.0), Seq(5.0, 95.0)), pKeys)
    assert(a === b)
  }
}

class NumpyPercentileSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def p(vals: Array[Float], ps: Array[Double]): Seq[Double] = {
    val s = vals.clone(); java.util.Arrays.sort(s)
    NumpyPercentile.compute(s, ps).toSeq
  }

  test("golden values from numpy 1.26.4") {
    assert(p(Array(1, 2, 3, 4, 5), Array(5, 50, 95)) ===
      Seq(1.2, 3.0, 4.8))
    assert(p(Array(3.5f, -2.25f, 7.125f, 0.1f, 9.9f, 4.4f),
      Array(5, 25, 50, 75, 95)) ===
      Seq(-1.662500023841858, 0.950000025331974, 3.950000047683716,
        6.443750023841858, 9.206249713897705))
    assert(p(Array(42.0f), Array(5, 50, 95)) === Seq(42.0, 42.0, 42.0))
    assert(p(Array.fill(7)(Array(0f, 96f, 1f, 95f, 2f, 94f, 47f, 48f))
      .flatten, Array(5, 95)) === Seq(0.0, 96.0))
    assert(p(Array(0.1f, 0.2f, 0.30000001f, 0.7f, 123456.78f, -99999.5f,
      17.0f), Array(10, 33, 66, 90)) ===
      Seq(-39999.7406249985, 0.1980000029504299, 0.6839999890327454,
        49392.91250000004))
  }
}

class ApproxPercentileSpec extends graft.SparkSpec {
  test("sketch percentiles track exact percentiles within rank tolerance") {
    val grid = graft.synth.Synth.testGrid
    val zones = graft.engine.Fixtures.zonesBasic(grid)
    val tiles = graft.synth.Synth.tiles(spark, grid)
    def collectP(exact: Boolean) =
      graft.operators.ZonalEngine.run(spark, tiles, zones, grid,
        Some(-9999.0), Seq(5.0, 95.0), exactPercentiles = exact)
        .collect().map { r =>
          Option(r.getAs[String]("group")) ->
            (Option(r.getAs[Any]("p5")), Option(r.getAs[Any]("p95")))
        }.toMap
    val ex = collectP(true)
    val ap = collectP(false)
    assert(ex.keySet === ap.keySet)
    for (g <- ex.keySet) {
      (ex(g), ap(g)) match {
        case ((Some(e5), Some(e95)), (Some(a5), Some(a95))) =>
          // pixel values are 0..96; GK at accuracy 10000 over ≤1k
          // values is effectively an exact order statistic — allow
          // one interpolation step of slack
          assert(math.abs(e5.asInstanceOf[Double] - a5.asInstanceOf[Double]) <= 2.0, s"$g p5")
          assert(math.abs(e95.asInstanceOf[Double] - a95.asInstanceOf[Double]) <= 2.0, s"$g p95")
        case ((None, None), (None, None)) => // empty group both ways
        case other => fail(s"$g: mismatched nullness $other")
      }
    }
  }

  test("histogram sketch percentiles within one bin width of exact") {
    val grid = graft.synth.Synth.testGrid
    val zones = graft.engine.Fixtures.zonesBasic(grid)
    val tiles = graft.synth.Synth.tiles(spark, grid)
    val (lo, hi, bins) = (0.0, 97.0, 32)
    val w = (hi - lo) / bins
    def collectP(hist: Boolean) =
      graft.operators.ZonalEngine.run(spark, tiles, zones, grid,
        Some(-9999.0), Seq(5.0, 95.0), exactPercentiles = !hist,
        histogram = if (hist) Some((lo, hi, bins)) else None)
        .collect().map { r =>
          Option(r.getAs[String]("group")) ->
            (Option(r.getAs[Any]("p5")), Option(r.getAs[Any]("p95")))
        }.toMap
    val ex = collectP(false)
    val hg = collectP(true)
    assert(ex.keySet === hg.keySet)
    for (g <- ex.keySet) {
      (ex(g), hg(g)) match {
        case ((Some(e5), Some(e95)), (Some(h5), Some(h95))) =>
          // bin midpoint vs interpolated order statistic: error ≤ w
          assert(math.abs(e5.asInstanceOf[Double]
            - h5.asInstanceOf[Double]) <= w, s"$g p5")
          assert(math.abs(e95.asInstanceOf[Double]
            - h95.asInstanceOf[Double]) <= w, s"$g p95")
        case ((None, None), (None, None)) =>
        case other => fail(s"$g: mismatched nullness $other")
      }
    }
  }
}

class LastWinsSpec extends graft.SparkSpec {
  test("last-burn-wins matches oracle and differs from pair mode on overlaps") {
    val grid = graft.synth.Synth.testGrid
    val zones = graft.engine.Fixtures.zonesBasic(grid)
    val tiles = graft.synth.Synth.tiles(spark, grid)
    def stats(lastWins: Boolean) =
      graft.operators.ZonalEngine.run(spark, tiles, zones, grid,
        Some(-9999.0), lastWins = lastWins)
        .collect().map(r => Option(r.getAs[String]("group")) ->
          (r.getAs[Long]("count"), r.getAs[Double]("sum"))).toMap
    val lw = stats(lastWins = true)
    val pair = stats(lastWins = false)
    val exp = graft.oracle.RefOracle.zonalStats(grid,
      graft.synth.Synth.value, zones, Some(-9999.0), lastWins = true)
    for ((g, s) <- exp) assert(lw(g) === ((s.count, s.sum)), s"group $g")
    // alpha (fid 1) loses its overlap with beta (fid 3) in lastWins
    assert(lw(Some("alpha"))._1 < pair(Some("alpha"))._1)
    assert(lw(Some("beta")) === pair(Some("beta")))
    // total assigned pixels in lastWins = union (each pixel once)
    val lwTotal = lw.values.map(_._1).sum
    val pairTotal = pair.values.map(_._1).sum
    assert(lwTotal < pairTotal)
  }
}
