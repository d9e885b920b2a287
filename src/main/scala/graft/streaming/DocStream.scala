package graft.streaming

import graft.operators.{ImageOps, IndexStore, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming document ingest for a training-data pipeline — beyond
  * the reference (pure batch): a continuously-arriving corpus is
  * deduplicated online so downstream stages (tokenize, embed) never
  * see a repeat.
  *
  * Exact dedup key = md5(content), the same key as the batch operator
  * (`TextOps.exactDedupSummary`), so batch and stream agree on what a
  * duplicate is. State is bounded by the watermark:
  * `dropDuplicatesWithinWatermark` evicts a hash once the event-time
  * watermark passes it, which is the 100 TB-stream story — an
  * unbounded `dropDuplicates` would grow state with corpus size.
  */
object DocStream {

  /** First-seen documents of the stream; duplicates arriving within
    * the watermark horizon are dropped.
    *
    * @param docs streaming frame with (`idCol`, `textCol`,
    *             event_time: timestamp)
    * @param watermark eviction horizon, e.g. "10 minutes"
    */
  def dedupStream(docs: DataFrame, idCol: String, textCol: String,
      watermark: String): DataFrame = {
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col(idCol), col("content_hash"), col("event_time"))
  }

  /** foreachBatch sink that keeps a corpus CONTINUOUSLY near-deduped:
    * each micro-batch is deduplicated against the persisted
    * [[graft.operators.TextOps.MinhashIndex]] (all verified near-dup
    * pairs touching the batch append to `pairsDir`) and then folded
    * into the index ([[graft.operators.TextOps.minhashIndexAppend]]) so
    * the NEXT batch sees this one's documents. The full banded near-dup
    * semantics online — strictly more than [[signatureDedupStream]]'s
    * signature-equality prefilter, at foreachBatch (not per-row) cost.
    *
    * Index state is VERSIONED (`v<seq>/` dirs) with replay markers
    * SCOPED BY WRITER: each applied batch publishes the grown index
    * as `v<maxMarkedSeq+1>` and then (LAST step, atomic move) a
    * `done-<writerId>-<batchId>` marker whose CONTENT is the seq it
    * published. Batch ids are monotonic only within one writer — a
    * stream restarted from a FRESH checkpoint restarts ids at 0, so
    * an unscoped `batch-0.done` from the old incarnation would make
    * genuinely new data a silent no-op (the same reason
    * `TileTable.appendBatch` keys replay by (writerId, batchId)).
    * Pass the streaming query's stable id as `writerId`; a fresh
    * checkpoint gets a fresh writer id and CONTINUES the index chain
    * from the latest marked version, whoever wrote it.
    *
    * Crash safety: every write a batch performs targets a path
    * deterministic in its inputs with overwrite semantics (pairs in
    * `pairsDir/<writerId>-batch-<id>`, index in `v<seq>` where seq
    * is recomputed from the markers), so a replay after a crash at
    * ANY earlier point redoes the batch against the latest MARKED
    * version — partial output is overwritten, never appended to.
    * The marker itself is published by atomic rename so a torn
    * marker can never mask a half-applied batch. One writer at a
    * time (foreachBatch serializes batches; concurrent writers to
    * one index need an external lock). Marked `v<seq>` dirs are
    * immutable; versions older than the latest marker can be deleted
    * once no reader holds them. Read the pair log with a glob over
    * `pairsDir` matching `&lt;writer&gt;-batch-&lt;id&gt;`.
    *
    * Scale shape per batch: O(batch) banding + joins against the
    * saved index (see minhashDedupIncremental); the index read is
    * lazy, so only the joined partitions stream. */
  def incrementalDedupSink(indexDir: String, pairsDir: String,
      idCol: String, textCol: String, numHashes: Int, numBands: Int,
      minJaccard: Double,
      writerId: String = "default"): (DataFrame, Long) => Unit =
    versionedIndexSink[TextOps.MinhashIndex](indexDir, pairsDir, writerId,
      TextOps.loadMinhashIndex,
      b => TextOps.minhashIndex(b.limit(0), idCol, textCol, numHashes,
        numBands),
      TextOps.minhashDedupIncremental(_, _, idCol, textCol, minJaccard),
      TextOps.minhashIndexAppend(_, _, idCol, textCol))

  /** [[incrementalDedupSink]] for the EMBEDDING modality: each
    * micro-batch near-dedups against the persisted
    * [[graft.operators.Similarity.SrpIndex]] (cosine ≥ threshold
    * within an SRP bucket) and folds in, same versioned/marker
    * protocol and crash story. */
  def srpIncrementalDedupSink(indexDir: String, pairsDir: String,
      idCol: String, vecCol: String, dim: Int, numPlanes: Int,
      threshold: Double,
      writerId: String = "default"): (DataFrame, Long) => Unit =
    versionedIndexSink[Similarity.SrpIndex](indexDir, pairsDir, writerId,
      Similarity.loadSrpIndex,
      b => Similarity.srpIndex(b.limit(0), idCol, vecCol, dim, numPlanes),
      Similarity.srpNearDupIncremental(_, _, idCol, vecCol, threshold),
      Similarity.srpIndexAppend(_, _, idCol, vecCol))

  /** [[incrementalDedupSink]] for the IMAGE modality: each
    * micro-batch near-dedups against the persisted
    * [[graft.operators.ImageOps.DhashIndex]] (Hamming ≤ maxHamming
    * via banded dHash values) and folds in, same versioned/marker
    * protocol and crash story. */
  def dhashIncrementalDedupSink(indexDir: String, pairsDir: String,
      idCol: String, dhCol: String, bands: Int, bitsPerBand: Int,
      maxHamming: Int,
      writerId: String = "default"): (DataFrame, Long) => Unit =
    versionedIndexSink[ImageOps.DhashIndex](indexDir, pairsDir, writerId,
      ImageOps.loadDhashIndex,
      b => ImageOps.dhashIndex(b.limit(0), idCol, dhCol, bands, bitsPerBand),
      ImageOps.dhashNearDupIncremental(_, _, idCol, dhCol, maxHamming),
      ImageOps.dhashIndexAppend(_, _, idCol, dhCol))

  /** Takedown sink, TEXT modality: each micro-batch of removal
    * requests (rows carrying `idCol`) is applied to the latest marked
    * index version via [[graft.operators.TextOps.minhashIndexRemove]]
    * (rep promotion + emptied-group cleanup included) and published
    * as the next version of the SAME chain the add-sink grows — a
    * corpus stays continuously deduped AND continuously
    * takedown-compliant online. The applied ids land in `logDir`
    * (one parquet per batch, overwrite semantics — keep it separate
    * from the add-sink's pairsDir: the pair glob must not pick up
    * removal logs). Same crash/replay story as the add sink; the
    * one-writer-at-a-time rule covers BOTH sinks together (serialize
    * an add stream and a takedown stream externally — e.g. route
    * takedowns through the same foreachBatch query). A chain whose
    * first batch is a takedown publishes an empty `v1` built from the
    * STREAM's columns, so it carries the stream's real id type. */
  def minhashTakedownSink(indexDir: String, logDir: String,
      idCol: String, numHashes: Int, numBands: Int,
      writerId: String = "takedown"): (DataFrame, Long) => Unit =
    takedownSink[TextOps.MinhashIndex](indexDir, logDir, writerId, idCol,
      TextOps.loadMinhashIndex,
      b => TextOps.minhashIndex(noRows(b, "text", "string"), idCol, "text",
        numHashes, numBands),
      TextOps.minhashIndexRemove(_, _, idCol))

  /** [[minhashTakedownSink]] for the EMBEDDING modality. */
  def srpTakedownSink(indexDir: String, logDir: String, idCol: String,
      dim: Int, numPlanes: Int,
      writerId: String = "takedown"): (DataFrame, Long) => Unit =
    takedownSink[Similarity.SrpIndex](indexDir, logDir, writerId, idCol,
      Similarity.loadSrpIndex,
      b => Similarity.srpIndex(noRows(b, "v", "array<float>"), idCol, "v",
        dim, numPlanes),
      Similarity.srpIndexRemove(_, _, idCol))

  /** [[minhashTakedownSink]] for the IMAGE modality. */
  def dhashTakedownSink(indexDir: String, logDir: String, idCol: String,
      bands: Int, bitsPerBand: Int,
      writerId: String = "takedown"): (DataFrame, Long) => Unit =
    takedownSink[ImageOps.DhashIndex](indexDir, logDir, writerId, idCol,
      ImageOps.loadDhashIndex,
      b => ImageOps.dhashIndex(noRows(b, "dh", "long"), idCol, "dh", bands,
        bitsPerBand),
      ImageOps.dhashIndexRemove(_, _, idCol))

  /** No rows of `batch`, plus a typed null `name` column. */
  private def noRows(batch: DataFrame, name: String,
      tpe: String): DataFrame =
    batch.limit(0).withColumn(name, lit(null).cast(tpe))

  /** The takedown binding of [[versionedIndexSink]]: the batch's ids
    * are the log, removal is the fold. */
  private def takedownSink[I <: IndexStore.Persisted](indexDir: String,
      logDir: String, writerId: String, idCol: String,
      load: (SparkSession, String) => I, emptyOf: DataFrame => I,
      remove: (I, DataFrame) => I): (DataFrame, Long) => Unit =
    versionedIndexSink[I](indexDir, logDir, writerId, load, emptyOf,
      (_, b) => b.select(col(idCol).as("removed_id")), remove)

  /** GC for a versioned index chain: retire `v<seq>` dirs older than
    * (latest marked seq − retain + 1). The latest marked version and
    * `retain−1` predecessors stay — a reader that resolved an older
    * version just before new batches landed gets `graceMs` (measured
    * from the version dir's mtime … which for an immutable published
    * dir is its publish time) to finish streaming it. Markers are
    * never deleted (they are the replay ledger and are tiny).
    * Unmarked dirs ABOVE the marked head are left alone: deleting
    * one would race an in-flight publish, and the crash-redo
    * overwrites the same path anyway — at most one such dir can ever
    * exist. Returns what was deleted. */
  def vacuumIndexVersions(indexDir: String, retain: Int = 2,
      graceMs: Long = 10 * 60 * 1000L): Seq[String] = {
    require(retain >= 1, "retain must be >= 1 (the latest version)")
    val base = java.nio.file.Paths.get(indexDir)
    if (!java.nio.file.Files.isDirectory(base)) return Nil
    val names = entries(base)
    val maxMarked = maxMarkedSeq(base, names).getOrElse(return Nil)
    val cutoff = System.currentTimeMillis() - graceMs
    val victims = names.filter(_.startsWith("v")).flatMap { n =>
      n.drop(1).toLongOption.map(n -> _)
    }.filter { case (n, seq) =>
      // retained window: the latest marked version and retain-1 back
      seq <= maxMarked - retain &&
        (try java.nio.file.Files.getLastModifiedTime(base.resolve(n))
          .toMillis < cutoff
        catch { case _: java.io.IOException => false })
    }.map(_._1)
    victims.foreach(n => graft.engine.Checkpoints
      .deleteRecursively(base.resolve(n)))
    victims.sorted
  }

  /** The entry names of directory `base`. */
  private def entries(base: java.nio.file.Path): List[String] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(base)
    try s.iterator().asScala.map(_.getFileName.toString).toList
    finally s.close()
  }

  /** The latest seq any writer's marker among `names` published. */
  private def maxMarkedSeq(base: java.nio.file.Path,
      names: List[String]): Option[Long] =
    names.filter(_.startsWith("done-"))
      .flatMap(m => scala.util.Try(java.nio.file.Files
        .readString(base.resolve(m)).trim.toLong).toOption)
      .maxOption

  /** The modality-agnostic versioned-index foreachBatch protocol the
    * six sinks share (docstring on [[incrementalDedupSink]]):
    * dedup the batch against the latest MARKED index version, write
    * the batch's pairs to a batch-deterministic overwrite path, save
    * the grown index as the next version, then publish the
    * writer-scoped marker LAST by atomic rename. */
  private def versionedIndexSink[I <: IndexStore.Persisted](
      indexDir: String, pairsDir: String, writerId: String,
      load: (SparkSession, String) => I,
      emptyOf: DataFrame => I,
      dedup: (I, DataFrame) => DataFrame,
      append: (I, DataFrame) => I): (DataFrame, Long) => Unit = {
    // '-' is allowed (streaming query ids are UUIDs — the documented
    // writerId source): markers are matched by EXACT filename and the
    // published seq is read from marker CONTENT, never parsed out of
    // the name. Only the path separator and the pair-glob delimiter
    // are reserved.
    require(!writerId.contains('/') && !writerId.contains("-batch-"),
      s"writerId '$writerId' must not contain '/' or the reserved " +
        "substring '-batch-' (pair logs are read by the " +
        "'*-batch-*' glob)")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val base = java.nio.file.Paths.get(indexDir)
      java.nio.file.Files.createDirectories(base)
      // fail CLOSED on pre-writer-scoped state (markers named
      // 'batch-<id>.done'): its versions are invisible to this
      // protocol, so continuing would silently dedup against an
      // EMPTY corpus and forget every indexed document
      val names = entries(base)
      val legacy = names.find(n =>
        n.startsWith("batch-") && n.endsWith(".done"))
      require(legacy.isEmpty,
        s"$indexDir holds pre-writer-scoped dedup state " +
          s"('${legacy.get}'): rebuild the index (re-feed the corpus " +
          "through this sink into a fresh indexDir) — silently " +
          "starting an empty chain would forget the indexed corpus")
      val marker = base.resolve(s"done-$writerId-$batchId")
      if (java.nio.file.Files.exists(marker))
        () // replayed (writer, batch): already applied, emit nothing
      else {
        // latest marked index version across ALL writers — markers
        // carry the seq they published, so the chain survives a
        // fresh-checkpoint restart under a new writer id
        val maxSeq = maxMarkedSeq(base, names)
        val idx = maxSeq match {
          case None => emptyOf(batch)
          case Some(sq) => load(spark, s"$indexDir/v$sq")
        }
        dedup(idx, batch)
          .write.mode("overwrite")
          .parquet(s"$pairsDir/$writerId-batch-$batchId")
        val seq = maxSeq.getOrElse(0L) + 1
        append(idx, batch).save(s"$indexDir/v$seq")
        // marker LAST, atomically: content = the published seq
        graft.engine.AtomicFile.write(marker, seq.toString)
        graft.engine.Caches.drain(spark)
        ()
      }
    }
  }

  /** Streaming MinHash-SIGNATURE dedup — the streaming analogue of
    * the batch pipeline's exact-content COLLAPSE step (the hot-bucket
    * guard): documents whose full signature matches one seen within
    * the watermark horizon are dropped.
    *
    * Guaranteed semantics: equal TOKEN SETS imply equal signatures,
    * so every token-set-equal repeat (reordered/re-whitespaced
    * boilerplate — the dominant duplicate class) is dropped, strictly
    * more than [[dedupStream]]'s byte-exact key. Probabilistic bonus:
    * a true near-dup with token-set Jaccard j also collides with
    * probability j^numHashes (e.g. 0.9⁸ ≈ 0.43) — an honest RECALL
    * PREFILTER, not full near-dedup; banded OR-matching needs
    * cross-row state beyond a drop key and stays batch-side
    * (`TextOps.minhashDedupClusters`).
    *
    * The signature is computed per row ([[TextOps.withMinhashSignature]]
    * — no aggregation), which is what lets it precede the stateful
    * drop; state is one signature key per horizon like dedupStream. */
  def signatureDedupStream(docs: DataFrame, idCol: String,
      textCol: String, numHashes: Int, watermark: String): DataFrame = {
    // null-text rows have NULL signatures; concat_ws would collapse
    // them all onto "" and silently drop every one after the first.
    // Batch semantics (no signature row → never a duplicate) are
    // preserved by keying each null-text doc uniquely by its own id
    // (the \u0000 prefix cannot collide with a real numeric sig key).
    val sigKey = when(col(textCol).isNull,
      concat(lit("\u0000id:"), col(idCol).cast("string")))
      .otherwise(concat_ws("_",
        (0 until numHashes).map(k => col(s"sig$k")): _*))
    graft.operators.TextOps.withMinhashSignature(docs, textCol, numHashes)
      .withColumn("sig_key", sigKey)
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("sig_key")
      .select(col(idCol), col("sig_key"), col("event_time"))
  }
}
