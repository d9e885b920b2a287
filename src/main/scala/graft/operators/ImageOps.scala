package graft.operators

import graft.functions.{functions => gf}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Multimodal column operators: images are REAL (decode via the
  * ImageDecode Catalyst expression, resize/stats as codegen'd
  * higher-order functions over the pixel array); audio/video are
  * opaque binary with typed metadata. Real codecs in this repo:
  * PCM16 + IMA ADPCM audio and the inter-frame delta video codec
  * ([[graft.functions.AdpcmCodec]]/[[graft.functions.DeltaVideoCodec]]),
  * plus the PNG-container frame split below; industry formats whose
  * decoders need native media libraries (MP3/AAC, H.26x) remain out
  * of scope in this container — the Spark-side plumbing, schemas and
  * batch shapes they'd plug into are the ones tested here.
  */
object ImageOps {

  /** Decoded pixel array (float32) of a tile row. */
  def pixels(bytes: Column, fmt: Column): Column = gf.image_decode(bytes, fmt)

  /** Σ over the pixel array in double, sequential fold. */
  def pxSum(px: Column): Column =
    aggregate(px, lit(0.0), (acc, v) => acc + v.cast("double"))

  def pxMin(px: Column): Column = array_min(px).cast("double")
  def pxMax(px: Column): Column = array_max(px).cast("double")

  def pxCountEq(px: Column, value: Column): Column =
    size(filter(px, v => v === value)).cast("long")

  /** Nearest-neighbor downsample by integer `factor` (top-left pick):
    * out(r,c) = in(r*factor, c*factor). Pure array expression —
    * no UDF, stays in codegen. */
  def resizeNearest(px: Column, w: Int, h: Int, factor: Int): Column = {
    val ow = w / factor
    val oh = h / factor
    transform(sequence(lit(0), lit(ow * oh - 1)), i => {
      // Column `/` is double division — use floor for the row index
      val r = floor(i / lit(ow)).cast("int") * factor
      val c = (i % ow) * factor
      element_at(px, (r * w + c + 1).cast("int"))
    })
  }

  /** Difference hash (dHash) of a tile — the perceptual-hash image
    * dedup primitive: downsample (nearest-neighbor) to
    * (w/factor)×(h/factor), then one bit per horizontal neighbor pair
    * (`1` iff left < right), packed MSB-first in row-major scan
    * order. Robust to brightness/contrast shifts (only ORDER of
    * neighbors matters), cheap, and a pure column expression — the
    * whole hash is one fold inside the row, codegen-friendly, no
    * shuffle. At 8×8 it is the classic 56-bit dHash. */
  def dHash(px: Column, w: Int, h: Int, factor: Int): Column = {
    val ow = w / factor
    val oh = h / factor
    require(ow >= 2 && oh >= 1, s"downsampled grid too small: ${ow}x$oh")
    require(oh * (ow - 1) <= 63, "dhash must fit a long")
    val small = resizeNearest(px, w, h, factor)
    val nbits = oh * (ow - 1)
    aggregate(sequence(lit(0), lit(nbits - 1)), lit(0L), (acc, i) => {
      val r = floor(i / lit(ow - 1)).cast("int")
      val c = (i % (ow - 1)).cast("int")
      val left = element_at(small, r * ow + c + 1)
      val right = element_at(small, r * ow + c + 2)
      acc * 2 + when(left < right, lit(1L)).otherwise(lit(0L))
    })
  }

  /** The per-value LSH band keys (band index + that band's bits) —
    * the ONE definition shared by the batch pairs path and the
    * incremental index. */
  private def dhashBandKeys(bands: Int, bitsPerBand: Int): Column = {
    val mask = (1L << bitsPerBand) - 1
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("dh"), b * bitsPerBand).bitwiseAND(lit(mask))
          .as("bits"))
    }: _*)
  }

  private def requirePigeonhole(bands: Int, bitsPerBand: Int,
      maxHamming: Int): Unit = {
    require(bands >= 1 && bitsPerBand >= 1)
    // pigeonhole: maxHamming differing bits can touch at most
    // maxHamming bands, so some band matches exactly ONLY when
    // maxHamming <= bands - 1 — past that the join silently loses
    // recall, so refuse instead
    require(maxHamming <= bands - 1,
      s"maxHamming=$maxHamming needs >= ${maxHamming + 1} bands for " +
        s"the pigeonhole recall guarantee, got $bands")
  }

  /** Image near-duplicate pairs by dHash Hamming distance ≤
    * `maxHamming`, found through an LSH band join (the SRP-banded
    * pattern applied to perceptual bits): the hash splits into
    * `bands` disjoint bit bands and a pair is a candidate iff ANY
    * band matches exactly — by pigeonhole every pair within
    * Hamming ≤ bands−1 is guaranteed caught, and candidates shuffle
    * on the band key, never the all-pairs space. Exact `bit_count`
    * filter afterwards.
    *
    * Blank/solid-color frames — the dominant duplicate class in web
    * image corpora — give m tiles ONE dhash value: the band join runs
    * over DISTINCT values (the [[BandedIndex]] value-level collapse;
    * Hamming distance depends only on the values) and member pairs
    * re-expand afterwards; the expansion is output-sized, which is
    * inherent to the all-pairs API. An optional per-bucket frequency
    * cap (`maxBandFreq`, over distinct VALUES) guards the residual
    * adversarial case; dropping a bucket is reported loudly because
    * it is a recall decision. */
  def dhashNearDupPairs(df: DataFrame, idCol: String, dhCol: String,
      bands: Int, bitsPerBand: Int, maxHamming: Int,
      maxBandFreq: Int = Int.MaxValue): DataFrame = {
    requirePigeonhole(bands, bitsPerBand, maxHamming)
    val members = df.select(col(idCol).as("id"), col(dhCol).as("dh"))
    // candidate pairs among distinct VALUES (deduped across bands)
    val valPairs = Lsh.bandPairs(Lsh.capBandBuckets(
      valueBandsOf(members.select("dh").distinct(), bands, bitsPerBand),
      "key", maxBandFreq, "dhash"), "key", "dh")
    hammingMemberPairs(valPairs, members, lit(true), maxHamming)
  }

  /** (dh, key) band rows of distinct hash values. */
  private def valueBandsOf(vals: DataFrame, bands: Int,
      bitsPerBand: Int): DataFrame =
    vals.select(col("dh"), explode(dhashBandKeys(bands, bitsPerBand))
      .as("key"))

  /** Member pairs of candidate value pairs within `maxHamming`, verified
    * from the candidate rows' own hash values; identical hashes score
    * Hamming 0. */
  private def hammingMemberPairs(valPairs: DataFrame, members: DataFrame,
      isNew: Column, maxHamming: Int): DataFrame =
    BandedIndex.memberPairs(valPairs
      .withColumn("hamming",
        bit_count(col("rep_a").bitwiseXOR(col("rep_b"))).cast("int"))
      .where(col("hamming") <= maxHamming),
      members, isNew, "dh", "hamming", lit(0))

  /** Persistable dHash index of a deduped image corpus — the
    * incremental state for the IMAGE modality: a [[BandedIndex]]
    * grouped on the hash value, so id→value members plus the band keys
    * of each DISTINCT value (a corpus of 10⁶ blank frames indexes as
    * ONE banded value). Save `valueBands` bucketed by `key` and
    * `members` by `dh` for shuffle-free per-batch joins. */
  final case class DhashIndex(members: DataFrame, valueBands: DataFrame,
    bands: Int, bitsPerBand: Int) extends IndexStore.Persisted {
    /** Persist with the banding parameters ([[IndexStore]]). */
    def save(dir: String): Unit = IndexStore.save(dir,
      Seq("members" -> members, "valueBands" -> valueBands),
      Seq("bands" -> bands, "bitsPerBand" -> bitsPerBand))
  }

  def loadDhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DhashIndex = {
    val s = IndexStore.load(spark, dir, Seq("members", "valueBands"))
    DhashIndex(s.frames("members"), s.frames("valueBands"),
      s.int("bands"), s.int("bitsPerBand"))
  }

  def dhashIndex(df: DataFrame, idCol: String, dhCol: String,
      bands: Int, bitsPerBand: Int): DhashIndex = {
    val members = df.select(col(idCol).as("id"), col(dhCol).as("dh"))
    DhashIndex(members,
      valueBandsOf(members.select("dh").distinct(), bands, bitsPerBand),
      bands, bitsPerBand)
  }

  /** Band rows of the batch (id, dh) values the corpus has never
    * seen: the batch resolved against the index's values
    * ([[BandedIndex.resolve]]; valueBands holds one row per (value,
    * band), so band 0 is one row per corpus value). A value is its own
    * representative, so resolving changes no member's group: the batch
    * members themselves are the resolved members. */
  private def freshBands(index: DhashIndex, batch: DataFrame): DataFrame =
    valueBandsOf(BandedIndex.resolve(batch,
        index.valueBands.where(col("key.band") === 0), "dh", "dh")
      .where(!col("joined_corpus")).select("dh").distinct(), index.bands,
      index.bitsPerBand)

  /** Fold a new batch into the index ([[BandedIndex]] append): members
    * union; only values the corpus has NEVER seen are banded
    * (re-banding a known value would duplicate its (dh, key) rows).
    * O(batch). */
  def dhashIndexAppend(index: DhashIndex, newDf: DataFrame,
      idCol: String, dhCol: String): DhashIndex = {
    val batch = newDf.select(col(idCol).as("id"), col(dhCol).as("dh"))
    index.copy(members = index.members.unionByName(batch),
      valueBands = index.valueBands.unionByName(freshBands(index, batch)))
  }

  /** The index after REMOVING images (takedowns, [[BandedIndex.remove]]):
    * a hash value leaves the band index only when its last member
    * went. Equals [[dhashIndex]] over the reduced corpus. */
  def dhashIndexRemove(index: DhashIndex, removeIds: DataFrame,
      idCol: String): DhashIndex = {
    val (members, rekey) = BandedIndex.remove(index.members, removeIds,
      idCol, "dh", None)
    index.copy(members = members, valueBands = rekey(index.valueBands, "dh"))
  }

  /** Incremental perceptual dedup: all pairs within Hamming <=
    * maxHamming involving a batch image, given the corpus
    * [[DhashIndex]] — value-identical to [[dhashNearDupPairs]] over
    * corpus ∪ batch filtered to batch-touching pairs (oracle-pinned
    * by q_image_incr; [[BandedIndex]] incremental candidates and member
    * expansion). Only the batch's hash VALUES band. */
  def dhashNearDupIncremental(index: DhashIndex, newDf: DataFrame,
      idCol: String, dhCol: String, maxHamming: Int,
      maxBandFreq: Int = Int.MaxValue): DataFrame = {
    requirePigeonhole(index.bands, index.bitsPerBand, maxHamming)
    val batch = newDf.select(col(idCol).as("id"), col(dhCol).as("dh"))
    val universe = BandedIndex.bandUniverse(index.valueBands,
      freshBands(index, batch), "key", maxBandFreq, "dhash-incr")
    hammingMemberPairs(
      BandedIndex.candidates(universe, batch, "dh", "dh", "key"),
      BandedIndex.withBatch(index.members, batch), col("is_new"),
      maxHamming)
  }

  /** Per-tile decode + stats over a tile table (the library surface
    * for "decode / feature-extract" pipelines). */
  def tileStats(tiles: DataFrame, nodata: Double): DataFrame = {
    val px = pixels(col("bytes"), col("fmt"))
    val valid = filter(px, v => v =!= lit(nodata.toFloat))
    tiles.select(
      col("image_id"),
      pxCountEq(px, lit(nodata.toFloat)).as("nodata_px"),
      size(px).cast("long").as("total_px"),
      pxSum(valid).as("sum_px"),
      pxMin(valid).as("min_px"),
      pxMax(valid).as("max_px"))
  }
}

/** Uncompressed-audio decoders (PCM16) — the raw end of the audio
  * path; the compressed end is [[graft.functions.AdpcmCodec]]. These
  * also define the schema/partitioning/batch contract any external
  * codec plugs into. */
object MultimodalStubs {

  /** Audio decode: interpret bytes as PCM16 little-endian.
    * (This part is real for actual PCM16; for compressed formats a
    * codec would replace it.) */
  def pcm16Samples(bytes: Array[Byte]): Array[Short] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
    val out = new Array[Short](bb.remaining())
    bb.get(out)
    out
  }

  /** Frame-sample every `stride`-th sample; returns (n_samples,
    * n_frames, checksum) — the shape a feature-extraction stage
    * consumes. */
  def frameSample(bytes: Array[Byte], stride: Int): (Long, Long, Long) = {
    require(stride > 0, s"stride must be positive, got $stride")
    val s = pcm16Samples(bytes)
    var i = 0
    var n = 0L
    var sum = 0L
    while (i < s.length) { n += 1; sum += s(i); i += stride }
    (s.length.toLong, n, sum)
  }

}

/** Video as an opaque binary column — REAL container parse for the
  * MJPEG-style "concatenated still frames" layout: the video stream
  * is a byte concatenation of PNG images (the moving-image analogue
  * of MJPEG, with PNG in place of JPEG). Frames are recovered by
  * scanning for the 8-byte PNG signature (public PNG spec §5.2) and
  * decoded by the engine's own PNG decoder — no fake checksums, no
  * fixed frame size assumptions. Inter-frame (temporal-prediction)
  * compression lives in [[graft.functions.DeltaVideoCodec]];
  * industry-standard H.26x decode stays out of scope in this
  * container (COVERAGE.md).
  */
object Video {
  /** \x89 P N G \r \n \x1a \n */
  val PngSignature: Array[Byte] = Array(0x89.toByte, 0x50, 0x4e, 0x47,
    0x0d, 0x0a, 0x1a, 0x0a)

  /** Split a concatenated-PNG stream into frames by WALKING each
    * frame's chunk structure (public PNG spec §5.3): after the 8-byte
    * signature, chunks are (len:4 BE)(type:4)(data)(crc:4) until IEND;
    * the frame ends after IEND's CRC. A stray signature byte sequence
    * INSIDE a frame's compressed IDAT payload is therefore never
    * mistaken for a boundary. Byte runs that start with a signature
    * but don't parse to IEND are skipped, not emitted as garbage
    * fragments. */
  def splitPngFrames(bytes: Array[Byte]): IndexedSeq[Array[Byte]] = {
    val sig = PngSignature
    def sigAt(i: Int): Boolean = {
      var j = 0
      while (j < sig.length && bytes(i + j) == sig(j)) j += 1
      j == sig.length
    }
    // end offset (exclusive) after the IEND chunk's CRC, or -1 when
    // the walk runs off the buffer / hits a malformed length
    def walkToIend(start: Int): Int = {
      var p = start + sig.length
      while (p + 8 <= bytes.length) {
        val len = ((bytes(p) & 0xff) << 24) | ((bytes(p + 1) & 0xff) << 16) |
          ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
        if (len < 0) return -1
        val isEnd = bytes(p + 4) == 'I' && bytes(p + 5) == 'E' &&
          bytes(p + 6) == 'N' && bytes(p + 7) == 'D'
        val next = p.toLong + 12L + len.toLong
        if (next > bytes.length) return -1
        p = next.toInt
        if (isEnd) return p
      }
      -1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var i = 0
    while (i <= bytes.length - sig.length) {
      if (sigAt(i)) {
        val e = walkToIend(i)
        if (e > 0) { out += java.util.Arrays.copyOfRange(bytes, i, e); i = e }
        else i += 1 // malformed frame: scan forward to the next signature
      } else i += 1
    }
    out.toIndexedSeq
  }

  /** Decode every `stride`-th frame and return
    * (frame_idx, n_px, sum_px) per sampled frame — the shape a
    * feature-extraction / frame-embedding stage consumes. Frames that
    * fail to decode are skipped (never dereferenced). */
  def frameSampleStats(bytes: Array[Byte],
      stride: Int): Seq[(Int, Long, Double)] = {
    require(stride > 0, s"stride must be positive, got $stride")
    val frames = splitPngFrames(bytes)
    (0 until frames.length by stride).flatMap { f =>
      val px =
        try graft.functions.ImageCodec.decode(frames(f), "png")
        catch { case _: Exception => null }
      if (px == null) None
      else {
        var sum = 0.0
        var i = 0
        while (i < px.length) { sum += px(i); i += 1 }
        Some((f, px.length.toLong, sum))
      }
    }
  }
}
