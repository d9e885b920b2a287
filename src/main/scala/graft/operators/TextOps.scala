package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Text-analysis + deduplication operators for large-scale
  * training-data pipelines: tokenization, quality scoring, language
  * ID, exact dedup, n-gram Jaccard and MinHash+LSH near-dedup.
  *
  * All built from codegen'd `org.apache.spark.sql.functions` (no
  * Scala UDFs in the hot path); every hash is derived from `md5` so
  * an external SQL engine can replicate results bit-for-bit.
  */
object TextOps {

  /** Whitespace tokens of a trimmed text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct-token count + raw token count per row. */
  def tokenCounts(df: DataFrame, text: Column): DataFrame =
    df.withColumn("n_tokens", size(tokens(text)))
      .withColumn("n_distinct_tokens", size(array_distinct(tokens(text))))

  /** BPE-ish pre-tokenizer pattern (the GPT-2 `pat` shape, reduced to
    * constructs RE2 and java.util.regex agree on — no lookaheads):
    * common English contractions, space-prefixed letter runs, digit
    * runs, punctuation runs, residual whitespace. A cheap, replicable
    * stand-in for a real BPE vocab when all a pipeline needs is a
    * stable token-count signal (data mixing, length filtering). */
  val BpeishPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+|\\s+"

  /** BPE-ish token array of a text column (codegen'd
    * `regexp_extract_all`, no UDF). */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeishPattern), lit(0))

  /** Heuristic quality score: length, punctuation density, mean token
    * length, whitespace ratio — exact integer counts over the text,
    * combined in double. */
  def qualityScore(df: DataFrame, text: Column): DataFrame = {
    val nChars = length(text)
    val nSpaces = nChars - length(regexp_replace(text, " ", ""))
    val nPunct = nChars - length(regexp_replace(text, "[.,!?;:]", ""))
    val nTok = size(tokens(text))
    df.withColumn("n_chars_m", nChars.cast("long"))
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("punct_ratio", nPunct.cast("double") / nChars)
      .withColumn("space_ratio", nSpaces.cast("double") / nChars)
      .withColumn("mean_token_len",
        (nChars - nSpaces).cast("double") / nTok)
  }

  /** Duplicate-line repetition signals (the Gopher/MassiveText
    * repetition filters, Rae et al. 2021 §A1.1): per document, the
    * fraction of LINES that are duplicates of another line in the
    * same document, and the fraction of CHARACTERS inside such
    * duplicated lines. High values mark boilerplate/spam pages that
    * survive token-level quality filters. Fully relational — lines
    * shuffle on (id, line), counts roll up per document — so the
    * operator is linear in corpus bytes at any scale. */
  def dupLineSignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
      explode(split(col(textCol), "\n")).as("line"))
    val groups = lines.groupBy("id", "line").agg(count(lit(1)).as("c"))
    val dupC = sum(when(col("c") > 1, col("c")).otherwise(0L))
    val chars = sum(col("c") * length(col("line")))
    val dupChars = sum(
      when(col("c") > 1, col("c") * length(col("line"))).otherwise(0L))
    groups.groupBy("id").agg(
      sum("c").as("n_lines"),
      when(sum("c") > 0,
        dupC.cast("double") / sum("c").cast("double"))
        .otherwise(0.0).as("dup_line_frac"),
      when(chars > 0, dupChars.cast("double") / chars.cast("double"))
        .otherwise(0.0).as("dup_line_char_frac"))
  }

  /** Top word-n-gram repetition signal (Gopher §A1.1): the fraction
    * of a document's word characters covered by its most frequent
    * word n-gram (count × non-space gram chars / total token chars).
    * Ties break deterministically (count DESC, gram ASC); documents
    * with fewer than n tokens score 0.0. The gram explode is linear
    * (each lambda reads the token ARRAY COLUMN by index — no
    * lambda-invariant recompute), grams shuffle on (id, gram). */
  def topNgramSignal(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    topNgramSignals(df, idCol, textCol, Seq(n))

  /** [[topNgramSignal]] for SEVERAL n in one pass: the tokenized
    * (id, tokens, word-chars) base is computed and cached ONCE and
    * every n's gram pipeline and the final id join read it — one
    * corpus scan + tokenization total instead of two per n. */
  def topNgramSignals(df: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int]): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "each n must be positive")
    val base = df.select(col(idCol).as("id"),
      tokens(col(textCol)).as("t"))
      .select(col("id"), col("t"),
        length(concat_ws("", col("t"))).as("wc"))
    // The cache pays only when SEVERAL n share the tokenized base —
    // a single-n call leaves nothing registered behind (the caller
    // may never drain, and one extra source scan for the id join is
    // cheaper than a pinned corpus-sized frame). Multi-references
    // inside one gram pipeline are safe uncached: `t` is read ≥2
    // times downstream, so CollapseProject keeps the projection
    // boundary and the HOF lambdas stay linear (staged-projection
    // rule — see the winnowing scaladoc).
    if (ns.size > 1) graft.engine.Caches.persist(base)
    // wc > 0 guards the fraction: a whitespace-only doc can tokenize
    // to empty-string tokens (size >= n) with ZERO word chars — its
    // gram would score 0/0 = NaN here and engine-dependently in SQL
    val tops = ns.map { n =>
      val grams = base.where(size(col("t")) >= n && col("wc") > 0)
        .select(col("id"), col("wc"),
          explode(transform(sequence(lit(1), size(col("t")) - (n - 1)),
            i => concat_ws(" ",
              (0 until n).map(j => element_at(col("t"), i + j)): _*)))
            .as("g"))
      val counts = grams.groupBy("id", "g")
        .agg(count(lit(1)).as("c"), first("wc").as("wc"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
        .orderBy(col("c").desc, col("g").asc)
      counts.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("id"),
          ((col("c") * length(translate(col("g"), " ", ""))).cast("double")
            / col("wc").cast("double")).as(s"top${n}_char_frac"))
    }
    tops.foldLeft(base.select(col("id"))) { (acc, top) =>
      acc.join(top, Seq("id"), "left_outer")
    }.na.fill(0.0, ns.map(n => s"top${n}_char_frac"))
  }

  /** PII scrub patterns — the RE2 ∩ java.util.regex dialect (no
    * lookarounds), so Spark and any RE2-based SQL engine replicate
    * redaction byte-for-byte. Deliberately simple, documented shapes:
    * a real deployment swaps in its compliance-approved patterns. */
  val EmailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern: String = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,6}"

  /** PII redaction (the RefinedWeb/Pile-style contact-info scrub):
    * emails → `<EMAIL>`, phone numbers → `<PHONE>`, with per-document
    * match counts. Pure codegen column expressions — one regex pass
    * per pattern per row, linear in corpus bytes. */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails",
      size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0)))
        .cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(PhonePattern), lit(0)))
          .cast("long"))
      .withColumn("text_redacted",
        regexp_replace(
          regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
          PhonePattern, "<PHONE>"))

  /** Registrable host of a URL column (scheme-stripped authority) —
    * the key for per-site grouping, crawl budgeting and URL-level
    * dedup. Empty string when the value does not parse as a URL. */
  def urlHost(url: Column): Column =
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)

  /** n-gram-heuristic language ID: score each candidate language by
    * the fraction of tokens found in its marker list; argmax with
    * deterministic (score DESC, lang ASC) tie-break. The marker lists
    * are tiny builtin stopword sets. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu", "ein"),
    "es" -> Seq("el", "la", "de", "y", "es", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "en", "un"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我"))

  def langId(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val markers = langMarkers.flatMap { case (l, ws) => ws.map(w => (l, w)) }
      .toDF("cand_lang", "marker")
    val toks = df.select(idCol.as("id"),
      explode(tokens(text)).as("tok"))
    val total = toks.groupBy("id").agg(count("*").as("n_tok"))
    val hits = toks.join(broadcast(markers), $"tok" === $"marker")
      .groupBy("id", "cand_lang").agg(count("*").as("n_hit"))
    val scored = total.join(hits, Seq("id"), "left_outer")
      .withColumn("score",
        coalesce($"n_hit", lit(0L)).cast("double") / $"n_tok")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"id")
      .orderBy($"score".desc, $"cand_lang".asc)
    scored.withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"id", $"cand_lang".as("pred_lang"), $"score")
  }

  /** Distinct char n-gram set of the first `maxChars` characters. */
  def ngramShingles(text: Column, n: Int, maxChars: Int): Column = {
    val t = substring(text, 1, maxChars)
    array_distinct(transform(
      sequence(lit(1), greatest(length(t) - (n - 1), lit(1))),
      i => t.substr(i, lit(n))))
  }

  /** All (a<b) pairs with n-gram Jaccard >= minJaccard.
    *
    * The labeled exact all-pairs baseline — but its per-pair cost is
    * engineered like the LSH verify path (r8): shingle STRING sets
    * are dictionary-encoded ONCE per document into sorted distinct
    * `array<long>` (xxhash64 — 8 fixed bytes per shingle, no string
    * payloads through the join), so each pair costs one zero-alloc
    * [[graft.functions.SortedIntersectCount]] merge instead of
    * `array_intersect`+`array_union` each building a boxed
    * `OpenHashSet[Any]` of UTF8Strings (measured 277 s for 12.5M
    * pairs at sf0.1, single task). |A∪B| = |A|+|B|−|A∩B| for the
    * distinct arrays. Jaccard over the hashed sets equals Jaccard
    * over the string sets unless two distinct shingles of one
    * compared pair collide in 64 bits (birthday ≈ k²/2⁶⁵ per doc —
    * vanishing, and the same documented acceptance as
    * [[tokenHashSet]]'s 60-bit encoding; JaccardPairsSpec pins
    * equality against the literal string-set formulation).
    *
    * The size-ratio prefilter never drops a pair the final filter
    * keeps: |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so
    * J ≤ min/max, and the guard compares min against
    * minJaccard·max·(1 − 1e-12). The slack covers the rounding of the
    * float product, which at an exact boundary (J = min/max =
    * minJaccard) can land one ulp above min while the final filter's
    * rounded quotient equals minJaccard; a relative 1e-12 is far above
    * those few ulps and far below any real ratio gap, so the guard
    * only skips the merge for pairs the threshold already excludes. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxChars: Int, minJaccard: Double): DataFrame = {
    val hs = array_sort(array_distinct(transform(
      ngramShingles(col(textCol), n, maxChars), s => xxhash64(s))))
    val base = df.select(col(idCol).as("id"), hs.as("hs"),
      size(hs).as("sz"))
    val a = Lsh.spreadBy(base, col("id")).select(col("id").as("id_a"),
      col("hs").as("ha"), col("sz").as("sa"))
    val b = base.select(col("id").as("id_b"), col("hs").as("hb"),
      col("sz").as("sb"))
    a.crossJoin(broadcast(b))
      .where(col("id_a") < col("id_b"))
      .where(least(col("sa"), col("sb")).cast("double") >=
        lit(minJaccard * (1 - 1e-12)) *
          greatest(col("sa"), col("sb")).cast("double"))
      .withColumn("inter", graft.functions.functions
        .sorted_intersect_count(col("ha"), col("hb")).cast("double"))
      .withColumn("uni",
        (col("sa") + col("sb")).cast("double") - col("inter"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  // ---- MinHash + LSH near-dedup -----------------------------------

  val MinHashP = 2147483647L // 2^31 - 1

  /** md5-derived 60-bit token hash (first 15 hex digits). `conv`
    * keeps this replicable in any SQL engine. */
  def tokenHash60(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** [[tokenHash60]] reduced mod p — the MinHash permutation input. */
  def tokenHash(tok: Column): Column = tokenHash60(tok) % MinHashP

  /** A document's distinct-token SET as 60-bit hashes (`array<long>`)
    * — the representation every exact-Jaccard verify join carries and
    * persists. Dictionary-encoding the tokens before materialization
    * cuts the verify working set severalfold versus `array<string>`
    * (token strings dominated the 16 GB q_minhash_lsh heap peak at
    * sf0.1): 8 fixed bytes per element, no string payloads in the
    * persisted/broadcast maps. Jaccard over the hash sets equals
    * Jaccard over the token sets unless two distinct tokens inside
    * one compared pair collide in 60 bits (birthday bound ≈ k²/2⁶¹
    * for k tokens per doc — vanishing for any real document, and
    * deterministic: both sides of an equality oracle see the same
    * sets).
    *
    * The array is SORTED: a set has no order, and a canonical layout
    * is what lets an index row written by one code path (say a
    * promoted representative inheriting its group's set) compare
    * frame-for-frame equal to the same set computed from a different
    * member's document — Jaccard via `array_intersect` never cared,
    * but remove-equals-rebuild contracts do. */
  def tokenHashSet(text: Column): Column =
    array_sort(array_distinct(transform(tokens(text),
      t => tokenHash60(t))))

  def minhashA(k: Int): Long = 1103L + 29L * k
  def minhashB(k: Int): Long = 12345L + 7L * k

  /** `sig0..sig{numHashes-1}` of ONE row, from the row's array of
    * 60-bit token hashes ([[tokenHashSet]], or any array holding the
    * [[tokenHash60]] of each distinct token): sig_k =
    * min(((h mod p)·a_k + b_k) mod p) over the array. The one per-row
    * signature definition of the batch, incremental and streaming
    * paths. Values are IDENTICAL to [[minhashSignature]] over
    * [[tokenHashes]] (tokenHash = tokenHash60 mod p, and a min does
    * not see duplicates or order; SignaturePropertySpec pins it). A
    * null array gives null signatures — filter such rows out before
    * banding ([[signatureBands]] does), as the aggregate path emits
    * no signature row for them. The caller stages the hash array in
    * its own projection or cache: it is read once per permutation. */
  private[operators] def minhashSignatureOf(hashes60: Column,
      numHashes: Int): Seq[Column] =
    (0 until numHashes).map(k => array_min(transform(hashes60,
      h => ((h % MinHashP) * minhashA(k) + minhashB(k)) % MinHashP))
      .as(s"sig$k"))

  /** One row per (id, token) with the reduced token hash. */
  def tokenHashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      explode(array_distinct(tokens(col(textCol)))).as("tok"))
      .withColumn("hm", tokenHash(col("tok")))

  /** k-permutation MinHash signature: sig_k = min((a_k*h + b_k) mod p). */
  def minhashSignature(hashes: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(k =>
      min((col("hm") * minhashA(k) + minhashB(k)) % MinHashP).as(s"sig$k"))
    hashes.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** PER-ROW MinHash signature: appends `sig0..sig{n-1}` computed
    * entirely inside each row ([[minhashSignatureOf]] over the row's
    * distinct-token hash array) — NO aggregation, so unlike
    * [[minhashSignature]] it composes with streaming operators
    * (`dropDuplicatesWithinWatermark` cannot follow a groupBy). Values
    * are IDENTICAL to the batch signature (same md5-derived token hash,
    * same permutations; specs pin the equality). Null-text rows get
    * NULL signatures — the batch path emits no signature row for them
    * at all, so null-text docs are never signature-duplicates of each
    * other on either path (streaming callers must key them uniquely;
    * see `DocStream.signatureDedupStream`). The token-hash array is
    * staged in its own projection and referenced once per signature
    * column, so CollapseProject keeps the boundary and each token is
    * md5-hashed ONCE per row, not once per permutation. */
  def withMinhashSignature(df: DataFrame, textCol: String,
      numHashes: Int): DataFrame = {
    require(numHashes >= 1, "numHashes must be positive")
    val reserved = "hm_arr" +: (0 until numHashes).map(k => s"sig$k")
    val clash = df.columns.intersect(reserved)
    require(clash.isEmpty,
      s"input already has column(s) ${clash.mkString(", ")} — " +
        "withMinhashSignature would clobber or duplicate them")
    val staged = df.withColumn("hm_arr",
      transform(array_distinct(tokens(col(textCol))), t => tokenHash60(t)))
    staged.select(df.columns.map(col) ++
      minhashSignatureOf(col("hm_arr"), numHashes): _*)
  }

  /** (id, band_key) rows of a signature frame: `numBands` bands of
    * `rowsPerBand` signature values each, keyed "<band>_<sig>..<sig>". */
  def bandKeys(sig: DataFrame, numBands: Int,
      rowsPerBand: Int): DataFrame =
    (0 until numBands).map { b =>
      val key = concat_ws("_", (lit(b) +:
        (0 until rowsPerBand).map(r => col(s"sig${b * rowsPerBand + r}"))): _*)
      sig.select(col("id"), key.as("band_key"))
    }.reduce(_ unionByName _)

  /** (id, band_key) rows of an (id, toks) token-hash-set frame, banded
    * like [[bandKeys]] over per-row signatures ([[minhashSignatureOf]])
    * — map-only: no token explode, no shuffle, no aggregate. Rows whose
    * `toks` is null (null text) or empty have no signature and get no
    * band keys, exactly like the aggregate path. */
  private[operators] def signatureBands(toks: DataFrame, numHashes: Int,
      numBands: Int): DataFrame =
    bandKeys(signatures(toks, numHashes), numBands, numHashes / numBands)

  /** (id, sig0..) of an (id, toks) frame's rows that have tokens. */
  private def signatures(toks: DataFrame, numHashes: Int): DataFrame =
    toks.where(size(col("toks")) > 0)
      .select(col("id") +: minhashSignatureOf(col("toks"), numHashes): _*)

  /** LSH candidate pairs: signatures banded `numBands` × `rowsPerBand`;
    * docs sharing a band bucket become candidates. The band join is
    * the scale path — candidates shuffle on the band key, never the
    * full O(n²) pair space. NOTE: feed this DISTINCT contents (see
    * [[contentGroups]]) — banding a corpus with exact-duplicate
    * clusters makes m² candidates inside one bucket. */
  def lshCandidatePairs(sig: DataFrame, numBands: Int,
      rowsPerBand: Int): DataFrame =
    Lsh.bandPairs(bandKeys(sig, numBands, rowsPerBand), "band_key", "id",
      "id_a", "id_b")

  /** Canonical content key of a document's TOKEN SET: md5 of the
    * sorted distinct tokens. Two documents with equal token sets have
    * identical MinHash signatures AND identical Jaccard similarity to
    * every third document, so one representative can stand for all of
    * them in any signature-banded join. */
  def tokenSetKey(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** (id, ckey, rid) per document: the token-set group key and the
    * group's min-id representative — the MinHash collapse of
    * [[BandedIndex]]. */
  private def contentGroups(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // null-text docs have no token set: tokenSetKey's concat_ws over
    // the null array would yield md5("") and group them with
    // whitespace-only docs — but the batch tokenHashes path (and the
    // q_minhash_lsh oracle, and signatureDedupStream) all treat
    // null-text docs as NEVER being duplicates. Key each uniquely by
    // its own id, mirroring DocStream's convention (the \u0000 prefix
    // cannot collide with an md5 hex key).
    val ckey = when(col(textCol).isNull,
      concat(lit("\u0000id:"), col(idCol).cast("string")))
      .otherwise(tokenSetKey(col(textCol)))
    BandedIndex.collapse(df.select(col(idCol).as("id"), ckey.as("ckey")),
      "ckey")
  }

  /** Verified near-dup pairs among `repDocs` (one doc per distinct
    * content): LSH banding for candidates, exact token-set Jaccard
    * >= minJaccard to confirm. Shared by [[minhashDedup]] and
    * [[minhashDedupClusters]]; `capBands` optionally drops band
    * buckets holding more than maxBandFreq docs (with the dropped
    * count reported to the caller).
    *
    * The verify step carries each doc's DISTINCT-TOKEN SET as one
    * array column and intersects per candidate pair
    * (`array_intersect`, codegen) — two equi-joins on id and a map
    * pass. The alternative (exploding candidates × tokens into an
    * (id, tok) join + count aggregate) multiplies every candidate row
    * by ~|tokens| before the filter and measured 5× slower on a
    * near-degenerate corpus (5.3 M candidates × ~22 tokens → 110 M
    * join rows at sf0.1). Per-doc token arrays are bounded by the
    * document length, so the row width stays O(doc bytes) — the same
    * bound the corpus scan already carries. */
  private def repNearDupPairs(repDocs: DataFrame, numHashes: Int,
      numBands: Int, minJaccard: Double,
      maxBandFreq: Int = Int.MaxValue): DataFrame = {
    // persisted for three reasons: the signatures are derived from it
    // (each token is md5-hashed ONCE per rep, for both uses), it feeds
    // BOTH verify join sides, and the materialized size stat lets
    // Spark broadcast it when the rep dimension is small (unpersisted,
    // the estimate inflates through the upstream join and both verify
    // joins fall back to sorting + shuffling the full candidate set —
    // measured 10× slower)
    val tokSets = graft.engine.Caches.persist(repDocs.select(col("id"),
      TextOps.tokenHashSet(col("text")).as("toks")))
    // rep-dimension-sized (one row per distinct content) and consumed
    // 2·numBands times by the banded self-join: cached so the
    // per-row signatures run once, not once per band PER JOIN SIDE
    val sig = graft.engine.Caches.persist(signatures(tokSets, numHashes))
    val rowsPerBand = numHashes / numBands
    val cand = if (maxBandFreq == Int.MaxValue) {
      // UNCAPPED band join (r8): emit each candidate pair from its
      // FIRST shared band only — the when-chain over the carried
      // signature vector picks the lowest band index where both
      // sides' band rows agree, and the filter keeps exactly that
      // join row. Removes the (id_a, id_b) `.distinct()` that
      // re-shuffled and hash-merged every pre-dedup candidate row
      // (≈3× the pair count at sf0.1 — the largest exchange of the
      // whole dedup family; guide §2.4 "remove shuffles outright").
      // Pure codegen (element_at + CaseWhen), no higher-order funcs.
      // Valid ONLY uncapped: with a bucket cap, a pair whose first
      // shared band was dropped must still surface through a later
      // surviving band, so the capped path keeps the distinct.
      val sigArr = array((0 until numHashes).map(k => col(s"sig$k")): _*)
      val withB = (0 until numBands).map { b =>
        val key = concat_ws("_", (lit(b) +:
          (0 until rowsPerBand).map(r => col(s"sig${b * rowsPerBand + r}"))): _*)
        sig.select(col("id"), lit(b).as("band_idx"), key.as("band_key"),
          sigArr.as("sigs"))
      }.reduce(_ unionByName _)
      val banded = Lsh.spreadBands(withB)
      val l = banded.select(col("band_key"), col("band_idx"),
        col("id").as("rep_a"), col("sigs").as("sa"))
      val r = banded.select(col("band_key"), col("id").as("rep_b"),
        col("sigs").as("sb"))
      val bandEq = (0 until numBands).map { j =>
        (1 to rowsPerBand).map(t =>
          element_at(col("sa"), j * rowsPerBand + t) ===
            element_at(col("sb"), j * rowsPerBand + t)).reduce(_ && _)
      }
      val firstShared = bandEq.zipWithIndex
        .foldRight(lit(-1)) { case ((eq, j), rest) =>
          when(eq, lit(j)).otherwise(rest)
        }
      l.join(r, Seq("band_key"))
        .where(col("rep_a") < col("rep_b") &&
          firstShared === col("band_idx"))
        .select("rep_a", "rep_b")
    } else {
      val bands = bandKeys(sig, numBands, rowsPerBand)
      // per-bucket frequency cap (the winnowing maxDocFreq guard):
      // adversarial DISTINCT contents can still pile into one bucket
      Lsh.bandPairs(Lsh.spreadBands(Lsh.capBandBuckets(bands, "band_key",
        maxBandFreq, "minhash")), "band_key", "id")
    }
    verifyJaccard(cand, tokSets, minJaccard)
  }

  /** Exact token-set Jaccard verification of candidate (rep_a, rep_b)
    * pairs: two equi-joins on id against the per-doc distinct-token
    * hash sets ([[tokenHashSet]]) and one intersection count per pair (the
    * single source of the jaccard formula — shared by the batch and
    * incremental dedup paths). The count is a zero-allocation sorted
    * merge ([[graft.functions.SortedIntersectCount]] — tokenHashSet
    * arrays are canonically sorted+distinct): `array_intersect` here
    * built a boxed OpenHashSet per candidate pair, which at millions
    * of pairs was the dominant allocation of the whole dedup family
    * (r8: q_minhash_lsh 4.0 s → 2.5 s median, rep GC 1.25 s → 0.05 s,
    * heap peak 10 GB → 4.7 GB; count equality spec-pinned in
    * SortedIntersectSpec). */
  private def verifyJaccard(cand: DataFrame, tokSets: DataFrame,
      minJaccard: Double): DataFrame =
    cand
      .join(tokSets.select(col("id").as("rep_a"), col("toks").as("ta")),
        Seq("rep_a"))
      .join(tokSets.select(col("id").as("rep_b"), col("toks").as("tb")),
        Seq("rep_b"))
      .withColumn("inter",
        graft.functions.functions.sorted_intersect_count(
          col("ta"), col("tb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("inter")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("rep_a", "rep_b", "jaccard")

  /** Member pairs of verified rep pairs: exact duplicates score 1.0,
    * kept while 1.0 clears `minJaccard`. */
  private def jaccardMemberPairs(repPairs: DataFrame, members: DataFrame,
      isNew: Column, minJaccard: Double): DataFrame =
    BandedIndex.memberPairs(repPairs, members, isNew, "rid", "jaccard",
      lit(1.0)).where(col("jaccard") >= minJaccard)

  /** Representative documents (one per distinct content, id = group
    * min id) of `df` given its content groups. */
  private def repDocsOf(df: DataFrame, idCol: String, textCol: String,
      groups: DataFrame): DataFrame =
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(groups.where(col("id") === col("rid")).select("id"), Seq("id"))

  /** Full MinHash-LSH near-dedup: all (a<b) pairs with token-set
    * Jaccard >= minJaccard that share an LSH band. Exact-content
    * groups are collapsed to one representative BEFORE banding (see
    * [[contentGroups]] — candidate volume scales with distinct
    * contents, never m² per duplicate cluster) and member pairs are
    * re-expanded afterwards; the expansion is output-sized, which is
    * inherent to the all-pairs API — at corpus scale use
    * [[minhashDedupClusters]], whose output is one row per document. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, numBands: Int, minJaccard: Double): DataFrame = {
    val members = graft.engine.Caches.persist(
      contentGroups(df, idCol, textCol))
    jaccardMemberPairs(repNearDupPairs(
      repDocsOf(df, idCol, textCol, members),
      numHashes, numBands, minJaccard), members, lit(true), minJaccard)
  }

  /** The corpus-scale dedup deliverable: one row per document with its
    * near-dup CLUSTER id (connected component of the verified
    * similarity graph) and the canonical flag (the component's min id
    * survives; the rest are removable duplicates). Linear-shaped end
    * to end: exact contents collapse to representatives, the banded
    * candidate join runs over representatives with a loud per-bucket
    * frequency cap, verified rep pairs feed
    * [[graft.operators.Dedup.connectedComponents]] (O(log n) rounds),
    * and members inherit their representative's component. Nothing is
    * ever all-pairs — a 10⁶-copy boilerplate cluster costs 10⁶ rows,
    * not 10¹². */
  def minhashDedupClusters(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, numBands: Int, minJaccard: Double,
      maxBandFreq: Int,
      smallGraphThreshold: Long =
        graft.operators.Dedup.SmallGraphThreshold): DataFrame = {
    val members = graft.engine.Caches.persist(
      contentGroups(df, idCol, textCol))
    val repEdges = repNearDupPairs(
      repDocsOf(df, idCol, textCol, members),
      numHashes, numBands, minJaccard, maxBandFreq)
    // rep-row filter ≡ distinct rid set (the rep is always a member —
    // see BandedIndex); map-only, no shuffle
    val repNodes = members.where(col("id") === col("rid")).select("id")
    val comps = graft.operators.Dedup.connectedComponents(
      repNodes, repEdges.select(col("rep_a").as("id_a"),
        col("rep_b").as("id_b")))
    members
      .join(comps.select(col("id").as("rid"), col("comp")), Seq("rid"))
      .select(col("id"), col("comp"),
        (col("id") === col("comp")).as("is_canonical"))
  }

  /** Persistable MinHash-LSH index of an already-deduped corpus — the
    * state that makes near-dedup INCREMENTAL on a growing corpus: a
    * [[BandedIndex]] grouped on the token-set key. Save it once
    * ([[IndexStore]]) and feed it to
    * [[TextOps.minhashDedupIncremental]] per ingest batch; only the
    * batch is ever tokenized or signatured again.
    *
    * @param members  (id, ckey, rid) — every corpus doc's exact-content
    *   group (key + min-id representative)
    * @param repToks  (id, toks) — each representative's distinct-token
    *   hash set ([[TextOps.tokenHashSet]], array<long>), for exact
    *   Jaccard verification at 1/severalth the string-array footprint
    * @param repBands (id, band_key) — each representative's LSH band
    *   keys, the join target for new batches */
  final case class MinhashIndex(members: DataFrame, repToks: DataFrame,
    repBands: DataFrame, numHashes: Int, numBands: Int)
      extends IndexStore.Persisted {

    /** Persist under `dir` with the banding parameters
      * ([[IndexStore]]; [[loadMinhashIndex]] restores them). */
    def save(dir: String): Unit = IndexStore.save(dir,
      Seq("members" -> members, "repToks" -> repToks,
        "repBands" -> repBands),
      Seq("numHashes" -> numHashes, "numBands" -> numBands))
  }

  /** Reload a [[MinhashIndex]] persisted by [[MinhashIndex.save]]. */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): MinhashIndex = {
    val s = IndexStore.load(spark, dir, Seq("members", "repToks",
      "repBands"))
    MinhashIndex(s.frames("members"), s.frames("repToks"),
      s.frames("repBands"), s.int("numHashes"), s.int("numBands"))
  }

  /** Build the [[MinhashIndex]] of a corpus (one pass: content
    * collapse, per-representative signatures, banding). Frames are
    * persisted and registered with the session cache registry —
    * long-lived callers should instead save them to storage and
    * reload. */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, numBands: Int): MinhashIndex = {
    val members = graft.engine.Caches.persist(
      contentGroups(df, idCol, textCol))
    val repToks = graft.engine.Caches.persist(
      repDocsOf(df, idCol, textCol, members).select(col("id"),
        TextOps.tokenHashSet(col("text")).as("toks")))
    // bands from the cached hash sets: each token is md5-hashed once
    val repBands = graft.engine.Caches.persist(
      signatureBands(repToks, numHashes, numBands))
    MinhashIndex(members, repToks, repBands, numHashes, numBands)
  }

  /** Resolve an ingest batch against a corpus index
    * ([[BandedIndex.resolve]]): every batch doc's global content group
    * (id, ckey, rid, joined_corpus), plus the (id, toks) token hash
    * sets of the genuinely-new representatives — the one tokenization
    * of the fresh reps, which their verify sets and (via
    * [[signatureBands]]) band keys both read. */
  private def resolveBatch(index: MinhashIndex, newDocs: DataFrame,
      idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val newMembers = BandedIndex.resolve(
      contentGroups(newDocs, idCol, textCol),
      index.members.where(col("id") === col("rid")).select("ckey", "rid"),
      "ckey", "rid")
    val freshToks = newDocs.select(col(idCol).as("id"),
      col(textCol).as("text"))
      .join(newMembers.where(!col("joined_corpus") &&
        col("id") === col("rid")).select("id"), Seq("id"))
      .select(col("id"), TextOps.tokenHashSet(col("text")).as("toks"))
    (newMembers, freshToks)
  }

  /** The index after ingesting a batch ([[BandedIndex]] append): batch
    * docs join their content groups, genuinely-new contents add their
    * representative's token set and band keys — only the BATCH is
    * tokenized/signatured. Long-running ingest loops should write the
    * updated frames back to storage per batch (re-rooting the union
    * lineage) — the `IncrementalDedupSpec` maintenance loop models the
    * pattern. */
  def minhashIndexAppend(index: MinhashIndex, newDocs: DataFrame,
      idCol: String, textCol: String): MinhashIndex = {
    val (newMembers, freshToks) =
      resolveBatch(index, newDocs, idCol, textCol)
    index.copy(
      members = index.members.unionByName(newMembers.drop("joined_corpus")),
      repToks = index.repToks.unionByName(freshToks),
      repBands = index.repBands.unionByName(
        signatureBands(freshToks, index.numHashes, index.numBands)))
  }

  /** The index after REMOVING documents (takedowns — the dedup-layer
    * analogue of the tile table's row-level delete;
    * [[BandedIndex.remove]]): a promoted representative inherits the
    * group's token set and band keys, emptied groups leave the band
    * index; the result equals [[minhashIndex]] over the reduced corpus
    * frame-for-frame. */
  def minhashIndexRemove(index: MinhashIndex, removeIds: DataFrame,
      idCol: String): MinhashIndex = {
    val (members, rekey) = BandedIndex.remove(index.members, removeIds,
      idCol, "rid", Some("id"))
    index.copy(members = members, repToks = rekey(index.repToks, "id"),
      repBands = rekey(index.repBands, "id"))
  }

  /** Incremental MinHash-LSH near-dedup: all verified near-dup pairs
    * (token-set Jaccard >= minJaccard, sharing an LSH band)
    * INVOLVING AT LEAST ONE document of `newDocs`, given the
    * [[MinhashIndex]] of the existing corpus — value-identical to
    * running [[minhashDedup]] over corpus ∪ batch and keeping the
    * pairs that touch the batch, at the cost of the BATCH, not the
    * corpus ([[BandedIndex]] incremental candidates and member
    * expansion; the fresh reps' token sets verify beside the saved
    * ones). The resolved batch, the band universe, the token sets and
    * the flagged members are each read several times, so they are
    * cached. */
  def minhashDedupIncremental(index: MinhashIndex, newDocs: DataFrame,
      idCol: String, textCol: String, minJaccard: Double,
      maxBandFreq: Int = Int.MaxValue): DataFrame = {
    import graft.engine.Caches
    val (resolved, freshToks) = resolveBatch(index, newDocs, idCol, textCol)
    val newMembers = Caches.persist(resolved)
    val universe = Caches.persist(BandedIndex.bandUniverse(index.repBands,
      signatureBands(freshToks, index.numHashes, index.numBands),
      "band_key", maxBandFreq, "minhash-incr"))
    val cand = BandedIndex.candidates(universe, newMembers, "rid", "id",
      "band_key")
    val allToks = Caches.persist(index.repToks.unionByName(freshToks))
    val allMembers = Caches.persist(
      BandedIndex.withBatch(index.members, newMembers))
    jaccardMemberPairs(verifyJaccard(cand, allToks, minJaccard),
      allMembers, col("is_new"), minJaccard)
  }

  // ---- Winnowing document fingerprints ----------------------------

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD'03
    * "Winnowing: local algorithms for document fingerprinting" — the
    * MOSS scheme): hash every k-gram of the text; within each window
    * of `w` consecutive gram hashes select the MINIMUM (rightmost
    * position on ties); the distinct selected (pos, hash) pairs are
    * the document's fingerprints. Guarantee: two documents sharing
    * any substring of length ≥ w + k − 1 share at least one
    * fingerprint, while only ~2/(w+1) of grams are kept.
    *
    * Everything is pure column expressions — each document's grams,
    * window minima and dedup happen INSIDE its own row (one
    * `transform`/`array_min` pipeline, no shuffle until the caller
    * aggregates), so the operator scales as a map over the corpus.
    * The gram hash is the md5 recipe shared with [[tokenHash]], so
    * external SQL engines replicate fingerprints bit-for-bit.
    * Documents shorter than k + w − 1 chars emit nothing; longer than
    * `maxChars` are truncated (the per-row gram array is O(chars) —
    * an unbounded multi-megabyte document would otherwise materialize
    * millions of structs inside one row's evaluation).
    *
    * @return (id, pos, fp) — 1-based gram position and 60-bit hash */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxChars: Int = 100000): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    val text = substring(col(textCol), 1, maxChars)
    // struct(h, -pos): lexicographic array_min = (min hash, then max
    // position) — the SWA rightmost-tie rule
    val gramsExpr = transform(sequence(lit(1), length(text) - (k - 1)),
      i => struct(tokenHash(text.substr(i, lit(k))).as("h"),
        (-i).as("negpos")))
    // STAGE the gram array in its own projection, then reference the
    // attribute TWICE downstream (size + the window lambda):
    // CollapseProject inlines a single-reference alias into the
    // lambda, where it is re-evaluated PER ELEMENT — one md5 per gram
    // becomes nGrams md5s per window position (near-quadratic;
    // measured ~60 s for 500 × 300-char docs at local[4], ~2 s staged)
    val staged = df.where(length(text) >= k + w - 1)
      .select(col(idCol).as("id"), gramsExpr.as("grams"))
    val fps = array_distinct(
      transform(sequence(lit(1), size(col("grams")) - (w - 1)), i =>
        array_min(slice(col("grams"), i, lit(w)))))
    staged.select(col("id"), explode(fps).as("f"))
      .select(col("id"), (-col("f.negpos")).as("pos"),
        col("f.h").as("fp"))
  }

  /** Winnowing fingerprints over ROLLING Rabin–Karp gram hashes —
    * the TRUE gram-hashing scale path: [[graft.functions.GramHashes]]
    * (one O(bytes) rolling pass) composed with
    * [[graft.functions.WinnowSelect]] (one O(n) monotonic-deque
    * window-min pass) — TWO codegen nodes per row, linear in document
    * bytes, replacing one md5 per gram. (A higher-order-function
    * formulation of the selection is near-quadratic: Spark does not
    * hoist lambda-invariant subtrees, so transform/slice lambdas
    * re-evaluate the hash array per element — see WinnowSelect's
    * scaladoc.) Same window-min/rightmost-tie selection semantics as
    * [[winnowFingerprints]]; the md5 recipe remains the
    * bit-replicable SQL-parity path. Gram positions and lengths are
    * in UTF-8 BYTES (== characters for ASCII text).
    *
    * @return (id, pos, fp) — 1-based gram position and hash */
  def winnowFingerprintsRolling(df: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int,
      maxChars: Int = 100000): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    val text = substring(col(textCol), 1, maxChars)
    val sel = graft.functions.functions.winnow_select(
      graft.functions.functions.gram_hashes(text, k), w)
    df.select(col(idCol).as("id"), explode(sel).as("f"))
      .select(col("id"), col("f.pos").as("pos"), col("f.fp").as("fp"))
  }

  /** Near-duplicate pairs by shared winnowing fingerprints — the
    * MOSS-style match step: fingerprints appearing in more than
    * `maxDocFreq` documents are dropped (boilerplate/stop-gram
    * removal — also the skew guard: the join key's fan-out is capped
    * at maxDocFreq), the rest equi-join on the fingerprint value, and
    * a pair survives with `shared` ≥ minShared distinct fingerprints.
    * Never all-pairs: complexity is Σ per-fp (≤maxDocFreq)² over the
    * rare fingerprints. */
  def winnowNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Int, maxDocFreq: Int,
      maxChars: Int = 100000): DataFrame =
    winnowNearDupPairsFrom(
      winnowFingerprints(df, idCol, textCol, k, w, maxChars),
      minShared, maxDocFreq)

  /** [[winnowNearDupPairs]] over the LINEAR rolling-hash fingerprint
    * stage ([[winnowFingerprintsRolling]]) — the 100 TB shape of the
    * whole winnowing dedup pipeline: O(bytes) fingerprints, doc-freq
    * capped join. */
  def winnowNearDupPairsRolling(df: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int, minShared: Int, maxDocFreq: Int,
      maxChars: Int = 100000): DataFrame =
    winnowNearDupPairsFrom(
      winnowFingerprintsRolling(df, idCol, textCol, k, w, maxChars),
      minShared, maxDocFreq)

  /** MOSS match step over any (id, fp) fingerprint frame. */
  private def winnowNearDupPairsFrom(fps0: DataFrame, minShared: Int,
      maxDocFreq: Int): DataFrame = {
    // consumed three times (doc-freq filter + both join sides) —
    // cache the fingerprint pass, released via the session registry
    val fps = graft.engine.Caches.persist(
      fps0.select(col("id"), col("fp")).distinct())
    val rare = fps.groupBy("fp")
      .agg(count(lit(1)).as("ndocs")) // fps is distinct on (id, fp)
      .where(col("ndocs") <= maxDocFreq)
      .select("fp")
    val kept = fps.join(rare, Seq("fp"))
    val a = kept.select(col("fp"), col("id").as("id_a"))
    val b = kept.select(col("fp"), col("id").as("id_b"))
    a.join(b, Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Exact dedup summary per group column: documents vs distinct
    * texts (md5 content hash). */
  def exactDedupSummary(df: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    df.groupBy(groupCol).agg(
      count("*").as("n_docs"),
      countDistinct(md5(col(textCol))).as("n_distinct"))

  /** SimHash over tokens, `bits` wide (md5-derived, SQL-replicable):
    * bit b set iff sum over distinct tokens of ±1 (by token-hash bit
    * b) is positive. */
  def simhash(hashes: DataFrame, bits: Int): DataFrame = {
    val bitSums = (0 until bits).map { b =>
      sum(when((col("hm").divide(1L << b)).cast("long") % 2 === 1, 1)
        .otherwise(-1)).as(s"bs$b")
    }
    val sums = hashes.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until bits).map(b =>
      when(col(s"bs$b") > 0, 1L << b).otherwise(0L)).reduce(_ + _)
    sums.select(col("id"), sh.as("simhash"))
  }
}
