package graft.perfbench

import graft.geom.{GeoTransform, RasterGrid, Zone}
import graft.synth.Synth
import org.locationtech.jts.geom._
import org.locationtech.jts.densify.Densifier
import org.locationtech.jts.simplify.DouglasPeuckerSimplifier
import org.locationtech.jts.triangulate.VoronoiDiagramBuilder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Group statistics as the reference reports them. */
final case class GStats(min: Option[Double], max: Option[Double],
    count: Long, nodata: Long, valid: Long, sum: Double,
    stdev: Option[Double], pcts: Seq[Option[Double]])

/** Seeded inputs and the expected outputs, computed by paths that share
  * no code with the engine's kernels. Every generator works in Long
  * pixel arithmetic and asserts which zones own pixels. */
object Gen {
  private val gf = new GeometryFactory()

  /** World grid: 12288 × 6144 px in 128² tiles (4608 tiles). */
  val worldGrid: RasterGrid = RasterGrid(
    GeoTransform(-180.0, 360.0 / 12288, 0.0, 90.0, 0.0, -180.0 / 6144),
    widthPx = 12288, heightPx = 6144, tileW = 128, tileH = 128)

  /** Admin region: a 15° × 20° sub-world window, 1536 × 2048 px in
    * 64² tiles (24 × 32 tiles). */
  val adminGrid: RasterGrid = RasterGrid(
    GeoTransform(0.0, 15.0 / 1536, 0.0, 60.0, 0.0, -20.0 / 2048),
    widthPx = 1536, heightPx = 2048, tileW = 64, tileH = 64)

  /** Tile rows of the admin grid present in daily_append's base
    * version; each cycle appends the next row of tiles. */
  val dailyBaseRows: Int = 8

  final case class PixRect(c0: Long, r0: Long, c1: Long, r1: Long)

  /** The Bench.benchZones proportions with seeded positions: 4
    * continents (quadrants split at a jittered point), 32 country
    * squares of w/8 and 160 small squares of w/40. */
  def worldRects(grid: RasterGrid, seed: Long): Seq[(Long, String, PixRect)] = {
    val rnd = new java.util.Random(seed)
    val w = grid.widthPx.toLong; val h = grid.heightPx.toLong
    def pick(lo: Long, hi: Long): Long = lo + (rnd.nextDouble() * (hi - lo)).toLong
    val sc = pick(w * 3 / 8, w * 5 / 8); val sr = pick(h * 3 / 8, h * 5 / 8)
    val out = ArrayBuffer.empty[(Long, String, PixRect)]
    var fid = 1L
    for (qx <- 0 until 2; qy <- 0 until 2) {
      out += ((fid, s"continent_${qx}_$qy", PixRect(
        if (qx == 0) 0 else sc, if (qy == 0) 0 else sr,
        if (qx == 0) sc else w, if (qy == 0) sr else h)))
      fid += 1
    }
    val cw = w / 8
    for (i <- 0 until 32) {
      val c0 = pick(0, w - cw); val r0 = pick(0, h - cw)
      out += ((fid, s"country_${i % 8}", PixRect(c0, r0, c0 + cw, r0 + cw)))
      fid += 1
    }
    val sw = w / 40
    for (i <- 0 until 160) {
      val c0 = pick(0, w - sw); val r0 = pick(0, h - sw)
      out += ((fid, s"zone_${i % 40}", PixRect(c0, r0, c0 + sw, r0 + sw)))
      fid += 1
    }
    out.foreach { case (f, _, r) =>
      require(r.c0 >= 0 && r.r0 >= 0 && r.c1 <= w && r.r1 <= h &&
        r.c1 > r.c0 && r.r1 > r.r0, s"world zone $f owns no pixel: $r")
    }
    out.toSeq
  }

  def rectZones(grid: RasterGrid, rects: Seq[(Long, String, PixRect)]): Seq[Zone] =
    rects.map { case (fid, g, r) =>
      Synth.rectPx(grid, fid, g, r.c0.toInt, r.r0.toInt, r.c1.toInt, r.r1.toInt)
    }

  /** Per-pixel accumulator over one zone or group. */
  final class Acc {
    var count, nodata = 0L
    var sum, sumsq = 0.0
    var min = Double.PositiveInfinity; var max = Double.NegativeInfinity
    val vals = new java.io.ByteArrayOutputStream()
    var keepVals = false
    def add(v: Float): Unit = {
      count += 1
      if (graft.operators.ZonalStats.isCloseTo(v.toDouble, Synth.Nodata)) nodata += 1
      else {
        val d = v.toDouble
        sum += d; sumsq += (v * v).toDouble
        if (d < min) min = d
        if (d > max) max = d
        if (keepVals) {
          val b = java.lang.Float.floatToRawIntBits(v)
          vals.write(b >>> 24); vals.write(b >>> 16); vals.write(b >>> 8); vals.write(b)
        }
      }
    }
    def merge(o: Acc): Unit = {
      count += o.count; nodata += o.nodata; sum += o.sum; sumsq += o.sumsq
      if (o.count > o.nodata) { min = math.min(min, o.min); max = math.max(max, o.max) }
      if (keepVals) o.vals.writeTo(vals)
    }
    def floats: Array[Float] = {
      val bb = java.nio.ByteBuffer.wrap(vals.toByteArray)
      Array.fill(bb.remaining / 4)(bb.getFloat)
    }
    def stats(percentiles: Seq[Double]): GStats = {
      val valid = count - nodata
      val stdev = if (valid > 0) {
        val mean = sum / valid
        Some(math.sqrt(math.max(sumsq / valid - mean * mean, 0.0)))
      } else None
      val pcts = if (percentiles.isEmpty || valid == 0) percentiles.map(_ => None)
      else {
        val a = floats; java.util.Arrays.sort(a)
        graft.operators.NumpyPercentile.compute(a, percentiles.toArray).toSeq.map(Some(_))
      }
      GStats(if (valid > 0) Some(min) else None, if (valid > 0) Some(max) else None,
        count, nodata, valid, sum, stdev, pcts)
    }
  }

  /** Runs f(i) for i in [0, n) on all cores. */
  def parFor(n: Int)(f: Int => Unit): Unit =
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => f(i))

  /** Expected world_scan group stats: each rectangle counts its own
    * pixels (no burn order), summed per group. */
  def worldExpected(rects: Seq[(Long, String, PixRect)]): Map[String, GStats] = {
    val accs = Array.fill(rects.size)(new Acc)
    parFor(rects.size) { i =>
      val r = rects(i)._3; val a = accs(i)
      var gr = r.r0.toInt
      while (gr < r.r1) {
        var gc = r.c0.toInt
        while (gc < r.c1) { a.add(Synth.value(gr, gc)); gc += 1 }
        gr += 1
      }
    }
    rects.indices.groupBy(i => rects(i)._2).map { case (g, is) =>
      val t = new Acc; is.foreach(i => t.merge(accs(i))); g -> t.stats(Nil)
    }
  }

  /** Positive-area overlaps between world rectangles and the same
    * rectangles shifted by (dx, dy) degrees. */
  def overlapCount(zones: Seq[Zone], dx: Double, dy: Double): Long = {
    val es = zones.map(_.geom.getEnvelopeInternal)
    var n = 0L
    for (a <- es; b <- es)
      if (a.getMinX < b.getMaxX + dx && b.getMinX + dx < a.getMaxX &&
          a.getMinY < b.getMaxY + dy && b.getMinY + dy < a.getMaxY) n += 1
    n
  }

  /** Seeded admin-boundary vector over the admin grid: densified
    * Voronoi cells clipped to the region (a few merged into
    * multipolygons) in ~100 groups, plus sub-pixel sliver rectangles
    * in the base rows that own no pixel center. Cells that own no
    * pixel after simplification are dropped, then the ownership rule
    * is asserted. Returns the zones in burn (fid) order. */
  def adminZones(grid: RasterGrid, seed: Long, nCells: Int = 1200,
      nSlivers: Int = 24): Seq[Zone] = {
    val rnd = new java.util.Random(seed ^ 0x5DEECE66DL)
    val env = grid.rasterEnvelope
    val sites = (0 until nCells).map(_ => new Coordinate(
      env.getMinX + rnd.nextDouble() * env.getWidth,
      env.getMinY + rnd.nextDouble() * env.getHeight))
    val vb = new VoronoiDiagramBuilder()
    vb.setSites(sites.asJava)
    vb.setClipEnvelope(env)
    val diagram = vb.getDiagram(gf)
    val region = gf.toGeometry(env)
    val px = grid.gt.px
    val cells = (0 until diagram.getNumGeometries).map { i =>
      Densifier.densify(diagram.getGeometryN(i).intersection(region), 2 * px)
    }.filter(g => !g.isEmpty && g.getArea > 0)
      .sortBy(g => (g.getCentroid.getY, g.getCentroid.getX))
    // every 40th cell joins a far-away cell into one multipolygon zone
    val used = Array.fill(cells.size)(false)
    val geoms = ArrayBuffer.empty[Geometry]
    for (i <- cells.indices if !used(i)) {
      used(i) = true
      val j = cells.size - 1 - i
      if (i % 40 == 0 && j > i + 100 && !used(j) &&
          cells(i).getEnvelopeInternal.distance(cells(j).getEnvelopeInternal) > 0) {
        used(j) = true
        geoms += gf.createMultiPolygon(Array(cells(i), cells(j))
          .collect { case p: Polygon => p })
      } else geoms += cells(i)
    }
    val groupOf = (0 until geoms.size).map(_ => f"admin_${rnd.nextInt(100)}%02d")
    val slivers = (0 until nSlivers).map { k =>
      val c = rnd.nextInt(grid.widthPx)
      val r = rnd.nextInt(dailyBaseRows * grid.tileH)
      val x0 = grid.gt.cornerX(c) + px * 0.55
      val y1 = grid.gt.cornerY(r) + grid.gt.py * 0.55
      (s"sliver_${k % 4}", gf.toGeometry(new Envelope(
        x0, x0 + px * 0.3, y1 + grid.gt.py * 0.3, y1)))
    }
    val raw = geoms.zip(groupOf).map { case (g, grp) => (grp, g) } ++ slivers
    val zones0 = raw.zipWithIndex.map { case ((grp, g), i) => Zone(i + 1L, grp, g) }.toSeq
    val own = ownedPixels(grid, zones0)
    val isSliver = zones0.map(_.group.startsWith("sliver"))
    val kept = zones0.indices.filter(i => isSliver(i) || own(i) > 0)
      .map(i => zones0(i)).zipWithIndex.map { case (z, i) => z.copy(fid = i + 1L) }
    val own2 = ownedPixels(grid, kept)
    kept.indices.foreach { i =>
      if (kept(i).group.startsWith("sliver"))
        require(own2(i) == 0, s"sliver ${kept(i).fid} owns pixels")
      else require(own2(i) > 0, s"admin zone ${kept(i).fid} owns no pixel")
    }
    kept
  }

  private def ownedPixels(grid: RasterGrid, zones: Seq[Zone]): Array[Long] = {
    val owner = ownership(grid, zones)
    val n = new Array[Long](zones.size)
    owner.foreach(o => if (o >= 0) n(o) += 1)
    n
  }

  /** Last-burn-wins owner (zone index, -1 = none) of every pixel,
    * by an even-odd scanline over each half-pixel-simplified zone's
    * rings at pixel-center rows. */
  def ownership(grid: RasterGrid, zones: Seq[Zone]): Array[Int] = {
    val w = grid.widthPx; val h = grid.heightPx; val gt = grid.gt
    val owner = Array.fill(w * h)(-1)
    zones.zipWithIndex.foreach { case (z, zi) =>
      val g = DouglasPeuckerSimplifier.simplify(z.geom, math.abs(gt.px) * 0.5)
      val rings = ArrayBuffer.empty[Array[Coordinate]]
      for (p <- 0 until g.getNumGeometries) g.getGeometryN(p) match {
        case poly: Polygon =>
          rings += poly.getExteriorRing.getCoordinates
          for (k <- 0 until poly.getNumInteriorRing)
            rings += poly.getInteriorRingN(k).getCoordinates
        case _ =>
      }
      val e = g.getEnvelopeInternal
      val (r0, r1) = grid.centerRowRange(e.getMinY, e.getMaxY)
      val xs = new Array[Double](rings.map(_.length).sum)
      var r = r0
      while (r <= r1) {
        val y = gt.pixelCenterY(r)
        var n = 0
        rings.foreach { ring =>
          var k = 0
          while (k + 1 < ring.length) {
            val a = ring(k); val b = ring(k + 1)
            if ((a.y > y) != (b.y > y)) {
              xs(n) = a.x + (y - a.y) * (b.x - a.x) / (b.y - a.y); n += 1
            }
            k += 1
          }
        }
        java.util.Arrays.sort(xs, 0, n)
        var k = 0
        while (k + 1 < n) {
          // columns whose centers lie strictly inside (xs(k), xs(k+1))
          var c = math.max(0, math.floor((xs(k) - gt.x0) / gt.px - 0.5).toInt)
          val cEnd = math.min(w - 1, math.ceil((xs(k + 1) - gt.x0) / gt.px - 0.5).toInt)
          while (c <= cEnd) {
            val cx = gt.pixelCenterX(c)
            if (cx > xs(k) && cx < xs(k + 1)) owner(r * w + c) = zi
            c += 1
          }
          k += 2
        }
        r += 1
      }
    }
    owner
  }

  /** Expected per-group stats of a last-burn-wins job over `zones` on
    * the first `rows` pixel rows of `grid` with pixel field `variant`.
    * Zones owning no pixel take the reference's envelope fallback,
    * computed by RefOracle over those zones alone. */
  def adminExpected(grid: RasterGrid, zones: Seq[Zone], owner: Array[Int],
      variant: Int, percentiles: Seq[Double]): Map[String, GStats] = {
    val f = Synth.valueFn(variant)
    val groups = zones.map(_.group).distinct.sorted
    val gIdx = groups.zipWithIndex.toMap
    val zg = zones.map(z => gIdx(z.group)).toArray
    val w = grid.widthPx
    // rows are split into bands accumulated in parallel, then merged
    val bands = 16
    val parts = Array.fill(bands, groups.size) {
      val a = new Acc; a.keepVals = percentiles.nonEmpty; a
    }
    parFor(bands) { b =>
      var r = b * grid.heightPx / bands
      val rEnd = (b + 1) * grid.heightPx / bands
      while (r < rEnd) {
        var c = 0
        while (c < w) {
          val o = owner(r * w + c)
          if (o >= 0) parts(b)(zg(o)).add(f(r, c))
          c += 1
        }
        r += 1
      }
    }
    val owned = owner.filter(_ >= 0).toSet
    val unset = zones.indices.filterNot(owned).map(zones)
    val fallback = if (unset.isEmpty) Map.empty[Option[String], graft.oracle.RefOracle.GroupStats]
      else graft.oracle.RefOracle.zonalStats(grid, f, unset,
        Some(Synth.Nodata.toDouble), percentiles, simplify = true, lastWins = true)
    groups.map { g =>
      val t = new Acc; t.keepVals = percentiles.nonEmpty
      parts.foreach(p => t.merge(p(gIdx(g))))
      g -> (fallback.get(Some(g)) match {
        case Some(fb) if t.count == 0 =>
          GStats(fb.min, fb.max, fb.count, fb.nodataCount, fb.validCount,
            fb.sum, fb.stdev, fb.pcts)
        case Some(_) => throw new IllegalStateException(
          s"group $g mixes owned and fallback zones")
        case None => t.stats(percentiles)
      })
    }.toMap
  }

  /** Expected near-dup pairs (a < b, Jaccard) over `docs` by MinHash
    * LSH as TextOps defines it, computed without Spark: token sets are
    * the distinct whitespace tokens, hashed as the first 15 hex digits
    * of their md5; documents sharing a band key (numHashes / numBands
    * signature values) with token-set Jaccard >= minJaccard pair up,
    * and documents with equal token sets always do (Jaccard 1). */
  def dedupExpected(docs: Seq[(Long, String)], numHashes: Int, numBands: Int,
      minJaccard: Double, keep: ((Long, Long)) => Boolean): Set[(Long, Long, Double)] = {
    val P = 2147483647L
    val md = java.security.MessageDigest.getInstance("MD5")
    val memo = scala.collection.mutable.HashMap.empty[String, Long]
    def h60(t: String): Long = memo.getOrElseUpdate(t, {
      val hex = md.digest(t.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    })
    val sets = docs.map { case (id, text) =>
      id -> text.trim.split("\\s+").distinct.map(h60).sorted
    }
    val rows = numHashes / numBands
    val bandsOf = sets.map { case (id, hs) =>
      val sig = (0 until numHashes).map { k =>
        val a = 1103L + 29L * k; val b = 12345L + 7L * k
        hs.map(x => ((x % P) * a + b) % P).min
      }
      id -> (0 until numBands).map(bd => (bd, sig.slice(bd * rows, (bd + 1) * rows)))
    }
    val cand = scala.collection.mutable.HashSet.empty[(Long, Long)]
    bandsOf.flatMap { case (id, ks) => ks.map(_ -> id) }.groupBy(_._1).values
      .foreach { grp =>
        val ids = grp.map(_._2).sorted
        for (i <- ids.indices; j <- i + 1 until ids.size) cand += ((ids(i), ids(j)))
      }
    val setOf = sets.toMap
    cand.iterator.filter(keep).flatMap { case (a, b) =>
      val x = setOf(a); val y = setOf(b)
      var i = 0; var j = 0; var inter = 0
      while (i < x.length && j < y.length) {
        if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
        else if (x(i) < y(j)) i += 1 else j += 1
      }
      val jac = inter.toDouble / (x.length + y.length - inter).toDouble
      if (jac >= minJaccard) Some((a, b, math.rint(jac * 1e9) / 1e9)) else None
    }.toSet
  }

  /** The 30 words of the sf0.1 `documents` table (each 3.3% of its
    * tokens) and the marker its near-copies end with. */
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big",
    "column", "customer", "data", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  val DupMarker = "dup"

  /** Seeded corpus shaped like the sf0.1 `documents` table, as profiled
    * by perfbench/profile_corpus.py (see perfbench/README.md): 5% of the
    * documents are near-copies, the text of a random other document
    * plus the word "dup"; the rest hold 10 to 100 words (uniform) drawn
    * uniformly from [[Vocab]]. Two near-copies of one document are exact
    * duplicates of each other. Returns (doc_id, text). */
  def corpus(seed: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new java.util.Random(seed * 31 + 7)
    val isCopy = Array.fill(n)(rnd.nextDouble() < 0.05)
    val docs = Array.tabulate(n) { i =>
      if (isCopy(i)) null
      else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    }
    val originals = docs.indices.filterNot(isCopy)
    for (i <- docs.indices if isCopy(i))
      docs(i) = docs(originals(rnd.nextInt(originals.size))) + " " + DupMarker
    docs.indices.map(i => (i.toLong, docs(i)))
  }

  /** The shape figures perfbench/profile_corpus.py reports for a
    * documents table, here of a generated corpus. */
  def corpusProfile(docs: Seq[(Long, String)]): Seq[(String, String)] = {
    val words = docs.map(_._2.trim.split("\\s+"))
    val lens = words.map(_.length.toDouble)
    val distinct = words.map(_.distinct.length.toDouble)
    def qs(xs: Seq[Double]) = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
      .map(q => Json.num(Stats.quantile(xs, q))).mkString("[", ",", "]")
    val texts = docs.groupBy(_._2).values.map(_.size)
    val sets = words.groupBy(_.toSet).values.map(_.size)
    Seq("docs" -> docs.size.toString,
      "vocabulary" -> words.flatten.distinct.size.toString,
      "words_q05_q25_q50_q75_q95" -> qs(lens),
      "distinct_words_q05_q25_q50_q75_q95" -> qs(distinct),
      "exact_copy_share" -> Json.num(texts.map(_ - 1).sum.toDouble / docs.size),
      "same_token_set_share" -> Json.num(sets.map(_ - 1).sum.toDouble / docs.size),
      "marker_share" -> Json.num(words.count(_.contains(DupMarker)).toDouble / docs.size))
  }
}
