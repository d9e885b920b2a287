package graft.geom

import org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator
import org.locationtech.jts.geom._
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.io.{WKBReader, WKBWriter}
import org.locationtech.jts.simplify.DouglasPeuckerSimplifier

/** A zone feature: the projection the reference extracts from its
  * GPKG layer (`/root/reference/runner.py:391-401`) — integer FID,
  * grouping value (nullable), geometry. */
final case class Zone(fid: Long, group: String, geom: Geometry)
    extends Serializable

object Zone {
  private val gf = new GeometryFactory()

  def rect(fid: Long, group: String, x0: Double, y0: Double, x1: Double,
      y1: Double): Zone = {
    val sh = gf.createPolygon(Array(
      new Coordinate(x0, y0), new Coordinate(x1, y0),
      new Coordinate(x1, y1), new Coordinate(x0, y1),
      new Coordinate(x0, y0)))
    Zone(fid, group, sh)
  }

  def toWkb(g: Geometry): Array[Byte] = new WKBWriter().write(g)
  def fromWkb(b: Array[Byte]): Geometry = new WKBReader(gf).read(b)

  /** Douglas-Peucker simplification at half-pixel tolerance — the
    * reference's `VectorTranslate simplifyTolerance = pixel_width*0.5`
    * (`runner.py:297-298,349-365`). Applied before the join, so it
    * changes which pixels match; parity requires the same step. */
  def simplifyHalfPixel(g: Geometry, pixelWidth: Double): Geometry =
    DouglasPeuckerSimplifier.simplify(g, math.abs(pixelWidth) * 0.5)

  /** Union envelope of a zone set (the vector extent of
    * `runner.py:417-422`) — THE definition shared by the bbox
    * short-circuit, chunk-list pruning, fallback scans and the job
    * path, so they can never silently disagree. */
  def totalEnvelope(zones: Seq[Zone]): Envelope = {
    val e = new Envelope()
    zones.foreach(z => e.expandToInclude(z.geom.getEnvelopeInternal))
    e
  }
}

/** Broadcastable zone index: serializes the zone list; the STRtree,
  * point locators and scanline rings are rebuilt lazily once per
  * executor JVM (JTS indexes are not serializable). This is the Spark
  * replacement for the reference's rasterize join
  * (`runner.py:463-469,596-606`): candidate lookup by envelope, then
  * per-pixel-center containment refinement (= ALL_TOUCHED=FALSE).
  */
final class ZoneIndex(val zones: Array[Zone]) extends Serializable {

  @transient private var _tree: STRtree = _
  @transient private var _locators: Array[IndexedPointInAreaLocator] = _
  // per zone: all rings (shells + holes across parts) as flat
  // [x0,y0, x1,y1, ...] closed coordinate arrays — the scanline
  // rasterizer's input
  @transient private var _rings: Array[Array[Array[Double]]] = _
  @transient private var _maxEdges: Array[Int] = _
  // per zone: STRtree over its boundary EDGES (item = Array(ring,
  // offset) into _rings) — the whole-tile-coverage probe's index. An
  // interior tile's envelope probes NOTHING here, so the hot path is
  // one empty tree descent instead of a prepared-geometry call.
  @transient private var _edgeTrees: Array[STRtree] = _
  // volatile publication flag: the hot path does ONE volatile read
  // instead of taking a monitor (32 executor threads hammering a
  // shared lock per tile serializes the scan stage)
  @transient @volatile private var _ready: Boolean = false

  // Prepared geometries are built on demand, per thread: the zonal
  // kernels never use one (coversRect + the locators replace them),
  // and JTS PreparedPolygon's getPointLocator/getIntersectionFinder
  // are `synchronized` per instance, so a SHARED prepared geometry (a
  // continent polygon hit by every task) becomes a contended monitor.
  @transient private lazy val _prepared
      : ThreadLocal[Array[PreparedGeometry]] =
    ThreadLocal.withInitial(() => new Array[PreparedGeometry](zones.length))

  private def ensure(): Unit = {
    if (_ready) return
    buildSync()
  }

  // Build once per JVM. IndexedPointInAreaLocator builds its interval
  // index lazily on first locate() and that first touch is guarded by
  // an internal synchronized + volatile, so priming here makes all
  // later concurrent locate() calls lock-free reads.
  private def buildSync(): Unit = synchronized {
    if (!_ready) {
      val t = new STRtree()
      val locs = new Array[IndexedPointInAreaLocator](zones.length)
      var i = 0
      while (i < zones.length) {
        val g = zones(i).geom
        t.insert(g.getEnvelopeInternal, Integer.valueOf(i))
        locs(i) = new IndexedPointInAreaLocator(g)
        // half-pixel simplification can collapse sub-pixel slivers to
        // EMPTY geometries (null-envelope centre) — skip priming those
        val c = g.getEnvelopeInternal.centre()
        if (c != null) locs(i).locate(c) // prime locator index
        i += 1
      }
      t.build()
      val rings = new Array[Array[Array[Double]]](zones.length)
      val maxE = new Array[Int](zones.length)
      val etrees = new Array[STRtree](zones.length)
      i = 0
      while (i < zones.length) {
        rings(i) = extractRings(zones(i).geom)
        maxE(i) = rings(i).map(r => r.length / 2 - 1).sum
        val et = new STRtree()
        val rs = rings(i)
        var r = 0
        while (r < rs.length) {
          val ring = rs(r)
          var j = 0
          val m = ring.length - 2
          while (j < m) {
            et.insert(new Envelope(ring(j), ring(j + 2),
              ring(j + 1), ring(j + 3)), Array(r, j))
            j += 2
          }
          r += 1
        }
        et.build()
        etrees(i) = et
        i += 1
      }
      _tree = t
      _locators = locs
      _rings = rings
      _maxEdges = maxE
      _edgeTrees = etrees
      _ready = true
    }
  }

  private def extractRings(g: Geometry): Array[Array[Double]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    def ringOf(r: LineString): Array[Double] = {
      val cs = r.getCoordinateSequence
      val a = new Array[Double](cs.size * 2)
      var k = 0
      while (k < cs.size) { a(2 * k) = cs.getX(k); a(2 * k + 1) = cs.getY(k); k += 1 }
      a
    }
    def visit(geom: Geometry): Unit = geom match {
      case p: Polygon =>
        out += ringOf(p.getExteriorRing)
        for (h <- 0 until p.getNumInteriorRing) out += ringOf(p.getInteriorRingN(h))
      case gc: GeometryCollection =>
        for (k <- 0 until gc.getNumGeometries) visit(gc.getGeometryN(k))
      case _ => // points/lines contribute no area
    }
    visit(g)
    out.toArray
  }

  /** Max boundary-edge count of zone i (crossing-buffer sizing). */
  def maxEdges(i: Int): Int = { ensure(); _maxEdges(i) }

  /** Scanline crossings of zone i's boundary with the horizontal line
    * at `y`, written sorted into `buf`; returns the count (always
    * even for valid polygons). Half-open edge rule, equivalent to an
    * even-odd interior test for any point not ON the boundary (the
    * GDAL `ALL_TOUCHED=FALSE` center rule the reference relies on,
    * runner.py:466).
    *
    * For scanlines passing EXACTLY through an edge endpoint the
    * half-openness decides the tie, and its orientation must be
    * half-open in PIXEL-space y to realize the raster top-left
    * convention (a center on a zone's pixel-space TOP edge belongs to
    * the zone, one on the BOTTOM edge does not):
    * `maxInclusive = true` (north-up rasters, py < 0 — pixel rows
    * grow as geo y falls) counts an edge when
    * `min(ya,yb) < y <= max(ya,yb)`; `false` (py > 0) counts
    * `min <= y < max`. */
  def crossings(i: Int, y: Double, buf: Array[Double],
      maxInclusive: Boolean): Int = {
    ensure()
    val rings = _rings(i)
    var n = 0
    var r = 0
    while (r < rings.length) {
      val ring = rings(r)
      var j = 0
      val m = ring.length - 2
      while (j < m) {
        val ya = ring(j + 1); val yb = ring(j + 3)
        val hit =
          if (maxInclusive) (ya >= y && yb < y) || (yb >= y && ya < y)
          else (ya <= y && yb > y) || (yb <= y && ya > y)
        if (hit) {
          val xa = ring(j); val xb = ring(j + 2)
          buf(n) = xa + (y - ya) * (xb - xa) / (yb - ya)
          n += 1
        }
        j += 2
      }
      r += 1
    }
    java.util.Arrays.sort(buf, 0, n)
    n
  }

  /** Indices of zones whose envelope intersects `env`, ascending (so
    * downstream iteration order is deterministic). */
  def candidates(env: Envelope): Array[Int] = {
    ensure()
    val raw = _tree.query(env)
    val out = new Array[Int](raw.size())
    var i = 0
    while (i < out.length) {
      out(i) = raw.get(i).asInstanceOf[Integer].intValue(); i += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  /** Zone i's prepared geometry, built on first use by the calling
    * thread (see the `_prepared` note). */
  def prepared(i: Int): PreparedGeometry = {
    val a = _prepared.get()
    if (a(i) == null) a(i) = PreparedGeometryFactory.prepare(zones(i).geom)
    a(i)
  }

  /** Point-in-area locator for per-pixel-center containment tests. */
  def locator(i: Int): IndexedPointInAreaLocator = { ensure(); _locators(i) }

  /** Does zone i PROPERLY contain the closed axis-aligned rectangle
    * `env` (strictly in the interior, no boundary contact)? The
    * whole-tile fast-path test of the kernels, replacing
    * `prepared(i).containsProperly(toGeometry(env))`: the prepared
    * call wrapped the rectangle into segment strings + intersection
    * detectors per (tile, zone) — ~µs and ~KB of garbage each at
    * 10⁶ tiles, ~20% of the kernel stage's CPU in stack samples —
    * where this is two shared lock-free index probes and no
    * allocation on the fully-interior path.
    *
    * Equivalence (convexity/SAT argument): a closed connected
    * rectangle lies strictly inside the interior iff NO boundary edge
    * intersects the closed rectangle (edge STRtree probe — interior
    * tiles probe nothing; per-edge test is exact separating-axis) AND
    * one rectangle point (the center) is strictly interior (shared
    * `IndexedPointInAreaLocator`). Floating-point rounding can differ
    * from JTS robust predicates only on sub-ulp boundary grazings;
    * both failure directions are output-safe: a false NEGATIVE routes
    * the tile through the exact scanline path, and a sliver that
    * shallow (≪ half a pixel) contains no pixel center, so a false
    * POSITIVE fills exactly the centers the scanline would. */
  def coversRect(i: Int, env: Envelope): Boolean = {
    ensure()
    val hits = _edgeTrees(i).query(env)
    if (!hits.isEmpty) {
      val rings = _rings(i)
      var k = 0
      val n = hits.size()
      while (k < n) {
        val it = hits.get(k).asInstanceOf[Array[Int]]
        val ring = rings(it(0))
        val j = it(1)
        if (segIntersectsRect(ring(j), ring(j + 1), ring(j + 2),
            ring(j + 3), env)) return false
        k += 1
      }
    }
    _locators(i).locate(new Coordinate(
      (env.getMinX + env.getMaxX) / 2,
      (env.getMinY + env.getMaxY) / 2)) == Location.INTERIOR
  }

  /** Closed segment vs closed axis-aligned rectangle, exact by
    * separating axes: the rect's x/y axes (both-endpoints-beyond-one-
    * side rejections) and the segment's own normal (all four corners
    * strictly one side). Degenerate zero-length edges report
    * `true` (conservative — the caller falls back to the exact
    * scanline path). */
  private def segIntersectsRect(x1: Double, y1: Double, x2: Double,
      y2: Double, env: Envelope): Boolean = {
    val minX = env.getMinX; val maxX = env.getMaxX
    val minY = env.getMinY; val maxY = env.getMaxY
    if (x1 >= minX && x1 <= maxX && y1 >= minY && y1 <= maxY) return true
    if (x2 >= minX && x2 <= maxX && y2 >= minY && y2 <= maxY) return true
    if (x1 < minX && x2 < minX) return false
    if (x1 > maxX && x2 > maxX) return false
    if (y1 < minY && y2 < minY) return false
    if (y1 > maxY && y2 > maxY) return false
    val dx = x2 - x1; val dy = y2 - y1
    val s1 = dx * (minY - y1) - dy * (minX - x1)
    val s2 = dx * (minY - y1) - dy * (maxX - x1)
    val s3 = dx * (maxY - y1) - dy * (maxX - x1)
    val s4 = dx * (maxY - y1) - dy * (minX - x1)
    !((s1 > 0 && s2 > 0 && s3 > 0 && s4 > 0) ||
      (s1 < 0 && s2 < 0 && s3 < 0 && s4 < 0))
  }
}
