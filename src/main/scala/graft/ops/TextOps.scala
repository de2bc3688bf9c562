package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines: token
 * counting, quality signals, language ID, content hashing. All are pure
 * column expressions (codegen'd, no UDFs) so they run inside
 * WholeStageCodegen and scale linearly with input — no shuffle, no state.
 *
 * Integer-exact semantics on purpose: every function here is replicated
 * in the DuckDB oracle SQL (SparkEntry.oracleSql), so outputs avoid
 * float arithmetic that could differ across engines.
 */
object TextOps {

  /** Whitespace tokens of trimmed text; empty text → empty array.
    * `BucketUtil.sparkTokenCount` replicates this count row-locally
    * for `CorpusOps.chunkBySentences`; change both together. The property
    * test `RetrievalPropertySpec` "chunkBySentences (map-only kernel) ==
    * window/groupBy reference on whitespace-hostile docs" pins them
    * equal. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** One-pass native profile (see [[graft.functions.TextProfileUtil]]):
    * all counters below read fields of this struct, and whole-stage
    * codegen's subexpression elimination collapses the repeated calls to a
    * single pass per row — the composed split/regexp column forms
    * re-tokenized the text once per counter. */
  private def profile(text: Column): Column =
    graft.functions.GraftFunctions.text_profile(text, Seq(EnStop, FrStop, DeStop, EsStop))

  /** Whitespace token count (empty → 0). */
  def tokenCount(text: Column): Column = profile(text).getField("ntok")

  /** A BPE-ish subword proxy: whitespace tokens plus an extra unit per 4
    * characters of long tokens (approximates byte-pair splitting of rare
    * long words without a vocab). Integer-exact. */
  def subwordCount(text: Column): Column = profile(text).getField("nsub")

  def charCount(text: Column): Column = length(text)

  /** Unicode-script character profile: per document, the total character
    * count and the count of characters in each requested script
    * (Java/RE2 `\p{IsScript}` classes — both engines agree on the
    * definitions, so the integer counts replay exactly in SQL). The
    * routing signal a multilingual 100 TB corpus needs BEFORE any
    * script-specific model runs: the r11 trigram-LM finding (CJK
    * vocabularies in the tens of thousands) is exactly the corpus this
    * detects — route Han-dominant shards to a capped-vocabulary model
    * instead of discovering the blowup in a driver OOM. Map-only, one
    * codegen regexp pass per script; counts, not fractions, so the
    * oracle compare is exact integer arithmetic. */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String,
                    scripts: Seq[String] = Seq("Latin", "Han", "Cyrillic"))
      : DataFrame = {
    val counts = scripts.map { sc =>
      length(regexp_replace(col(textCol), s"[^\\p{Is$sc}]", ""))
        .cast("long").as(s"n_${sc.toLowerCase}")
    }
    df.select(col(idCol) +: length(col(textCol)).cast("long").as("n_chars")
      +: counts: _*)
  }

  /** Count of punctuation characters [!?.,;:]. */
  def punctCount(text: Column): Column = profile(text).getField("npunct")

  def digitCount(text: Column): Column = profile(text).getField("ndigit")

  /** How many tokens appear in `words` (case-insensitive). */
  def wordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => lower(t).isin(words.map(lit(_)): _*)))

  // Small per-language stopword profiles. The score of a language is its
  // stopword hit count; argmax with a fixed priority order breaks ties
  // identically in Spark and DuckDB.
  val EnStop = Seq("the", "a", "of", "and", "to", "in", "is")
  val FrStop = Seq("le", "la", "les", "de", "et", "un", "est")
  val DeStop = Seq("der", "die", "das", "und", "ein", "ist")
  val EsStop = Seq("el", "los", "las", "de", "y", "un", "es")

  /** Heuristic language ID over stopword profiles ("und" if nothing hits).
    * Deterministic tie-break: en > fr > de > es. */
  def langId(text: Column): Column = {
    val p = profile(text)
    val en = p.getField("hits0")
    val fr = p.getField("hits1")
    val de = p.getField("hits2")
    val es = p.getField("hits3")
    when(en >= fr && en >= de && en >= es && en > 0, "en")
      .when(fr >= de && fr >= es && fr > 0, "fr")
      .when(de >= es && de > 0, "de")
      .when(es > 0, "es")
      .otherwise("und")
  }

  /** Integer quality score 0..4 from length / punctuation / stopword /
    * word-shape signals (all comparisons in integer arithmetic so the
    * oracle replicates exactly):
    *  +1  10 ≤ tokens ≤ 10000
    *  +1  punct*1000 ≤ 80*chars      (≤8% punctuation)
    *  +1  stopwords*1000 ≥ 10*tokens (≥1% stopwords)
    *  +1  3*tokens ≤ letters ≤ 12*tokens (mean word length 3..12)
    */
  def qualityScore(text: Column): Column = {
    val p = profile(text)
    val toks = p.getField("ntok")
    val chars = p.getField("nchar")
    val punct = p.getField("npunct")
    val stops = p.getField("hits0") // EnStop
    val letters = p.getField("nletter")
    val s1 = when(toks >= 10 && toks <= 10000, 1).otherwise(0)
    val s2 = when(punct * 1000 <= chars * 80, 1).otherwise(0)
    val s3 = when(stops * 1000 >= toks * 10, 1).otherwise(0)
    val s4 = when(letters >= toks * 3 && letters <= toks * 12, 1).otherwise(0)
    s1 + s2 + s3 + s4
  }

  /** Filter provenance: WHICH of [[qualityScore]]'s four signals failed,
    * as a stable comma-joined reason string ("" = keep). Real pipelines
    * must report why documents were dropped (per-reason loss accounting,
    * threshold tuning) — a bare boolean filter can't. Same single-pass
    * profile as the score; map-only; reason order is fixed so the string
    * is engine-portable for the oracle. */
  def qualityReasons(text: Column): Column = {
    val p = profile(text)
    val toks = p.getField("ntok")
    val chars = p.getField("nchar")
    val punct = p.getField("npunct")
    val stops = p.getField("hits0") // EnStop
    val letters = p.getField("nletter")
    val r1 = when(toks < 10 || toks > 10000, lit("length")).otherwise(lit(null))
    val r2 = when(punct * 1000 > chars * 80, lit("punctuation")).otherwise(lit(null))
    val r3 = when(stops * 1000 < toks * 10, lit("stopwords")).otherwise(lit(null))
    val r4 = when(letters < toks * 3 || letters > toks * 12, lit("word_shape"))
      .otherwise(lit(null))
    array_join(filter(array(r1, r2, r3, r4), x => x.isNotNull), ",")
  }

  /** Stable content hash for exact dedup (md5 hex — cheap, engine-portable). */
  def contentHash(text: Column): Column = md5(text.cast("binary"))

  /**
   * Sentence segmentation — the boundary unit for sentence-aligned
   * chunking, per-sentence quality filtering, and citation spans. The
   * rule is deliberately a single greedy regex with NO lookbehind, so it
   * means the same thing to Java regex and RE2-family engines (the
   * DuckDB oracle): each sentence is a maximal run of non-terminator
   * characters plus its trailing `[.!?]` run (`[^.!?]+[.!?]*`), trimmed,
   * empties dropped. Terminator-only prefixes ("...") attach to no
   * sentence and vanish — the conservative choice for a heuristic
   * splitter (abbreviation handling belongs to a model, not a regex).
   * Map-only; output `array<string>` preserves order.
   */
  def sentences(text: Column): Column =
    filter(
      transform(regexp_extract_all(text, lit("[^.!?]+[.!?]*"), lit(0)),
        s => trim(s)),
      s => length(s) > 0)

  // ------------------------------------------- character-LM quality score

  /** Character trigrams of a document WITH multiplicity (positions
    * `1..len-2`), as a column expression — the unit of the corpus
    * character language model. Native one-pass expression
    * ([[graft.functions.GramUtil.charTrigrams]]): the `substring(text, i, 3)`
    * HOF form re-scanned the UTF-8 bytes from the start for every
    * position, O(len²) per document. */
  def charTrigrams(text: Column): Column =
    graft.functions.GraftFunctions.char_trigrams(text)

  /**
   * CCNet-style language-model quality scoring without an external model:
   * train a character-trigram unigram LM on the corpus itself (one
   * combinable count per distinct trigram), then score every document by
   * its mean trigram log-likelihood `avg ln(count(tri) / total)`.
   * Well-formed text built from common character patterns scores high;
   * binary junk, rare-script spam, and mojibake score low — the standard
   * "perplexity filter" signal, self-trained so it needs no shipped model.
   * Docs shorter than 3 chars score NULL (`n_trigrams = 0`).
   *
   * Output: id + `n_trigrams`, `avg_logp` (rounded — `ln` is the only
   * non-rational step).
   *
   * 100 TB design: the model is the trigram-count table — bounded by the
   * character-trigram vocabulary, orders of magnitude smaller than the
   * corpus — and joins back BROADCAST, so scoring is map-side; the only
   * per-corpus shuffles are the combinable count and the per-document
   * average (partial aggs on both sides).
   */
  def lmQualityScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val occ = df.select(col(idCol),
      explode(charTrigrams(col(textCol))).as("tri"))
    val model = occ.groupBy("tri").agg(count(lit(1)).as("c"))
    val total = occ.select(count(lit(1)).as("t"))
    val scored = occ
      .join(broadcast(model), "tri")
      .crossJoin(broadcast(total))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(log(col("c").cast("double") / col("t"))), 6).as("avg_logp"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        col("avg_logp"))
  }

  // ------------------------------------------------------------ redaction

  /** RE2-compatible patterns (run identically under Java regex and the
    * DuckDB oracle): keep them simple on purpose — PII scrubbing at corpus
    * scale must stay inside whole-stage codegen, and these compile to
    * a single regexp_replace chain per row. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+"
  val PhoneRe = "\\+1-555-[0-9]{4}"

  /** Scrub emails and phone numbers from free text (map-only; composes
    * with any downstream op since it is just a column expression). */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailRe))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhoneRe))

  /** 64-bit FNV-1a rolling fingerprint (codegen'd custom expression) —
    * faster than md5 for fingerprint-only pipelines; not oracle-portable. */
  def fingerprint(text: Column): Column =
    graft.functions.GraftFunctions.text_fingerprint(text)

  // ------------------------------------------- linear quality classifier

  /**
   * Linear (fasttext-style) classifier inference: `bias +
   * Σ weight(lower(token))` over the document's tokens, unknown tokens
   * contributing 0 — how production pipelines apply a trained quality /
   * topic / toxicity model at corpus scale. The vocabulary ships once per
   * plan as a shared hash map ([[graft.functions.TokenWeightSum]]), so
   * scoring is MAP-ONLY whole-stage codegen: no join against a weights
   * table, no shuffle, no per-row vocabulary rebuild.
   *
   * Returns the raw linear score (margin). Thresholding (`score > 0`) and
   * calibration (sigmoid) are caller-side one-liners; the margin is kept
   * raw so integer/dyadic weight sets stay bitwise-reproducible across
   * engines.
   */
  def classifierScore(text: Column, weights: Map[String, Double],
                      bias: Double = 0.0): Column = {
    val (vocab, vals) = weights.toArray.sortBy(_._1).unzip
    graft.functions.GraftFunctions.token_weight_sum(tokens(text), vocab, vals, bias)
  }

  // ------------------------------------------------------- normalization

  /** Unicode normalization (custom codegen expression — Spark has no
    * built-in). `form` ∈ {NFC, NFD, NFKC, NFKD}; NFC is the
    * oracle-portable one (DuckDB `nfc_normalize`). */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    graft.functions.GraftFunctions.unicode_normalize(text, form)

  /**
   * Canonical text cleanup for training corpora — the pass every pipeline
   * runs before hashing/dedup so that byte-level noise (tags, control
   * chars, decomposed accents, ragged whitespace) doesn't defeat
   * content-identity: strip markup tags, drop control and zero-width
   * format characters, Unicode-NFC, collapse whitespace runs, trim.
   *
   * Map-only and fully inside whole-stage codegen (regexp chain + the
   * `unicode_normalize` expression) — composes with any downstream op at
   * any scale. Order matters and is fixed: tags before whitespace (tag
   * removal introduces spaces), NFC before collapse (composition can't
   * create whitespace but removal of format chars can join words — they
   * become a single space instead, the conservative choice for token
   * boundaries).
   */
  /**
   * Full HTML → training-text extraction — the C4/CCNet "strip the page
   * chrome" pass, stronger than [[normalizeText]]'s bare tag removal:
   * `<script>`/`<style>` elements are dropped WITH their bodies (raw
   * JavaScript and CSS are the worst boilerplate leak in web corpora —
   * tag-only stripping keeps `var x=1;` as if it were prose), HTML
   * comments go, remaining tags become spaces, the five XML entities plus
   * `&nbsp;` decode, and whitespace collapses.
   *
   * Map-only regexp/replace chain inside whole-stage codegen. Patterns
   * use inline `(?is)` flags and no backreferences, so they mean the same
   * thing to Java regex and RE2-family engines (DuckDB oracle). Entity
   * decode order is fixed with `&amp;` LAST — `&amp;lt;` must yield the
   * literal text `&lt;`, not `<`.
   */
  def stripHtml(text: Column): Column = {
    val noScript = regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  def normalizeText(text: Column, stripMarkup: Boolean = true,
                    lowercase: Boolean = false): Column = {
    val tagless = if (stripMarkup) regexp_replace(text, "<[^>]*>", " ") else text
    // control chars (minus \t \n \r, handled as whitespace below) spelled
    // as explicit ranges — portable to RE2-family engines, which lack
    // Java's [..&&[^..]] class intersection — plus \p{Cf} format chars
    // (zero-width space/joiner, BOM, bidi marks)
    val noCtl = regexp_replace(tagless,
      "[\\p{Cf}\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]", " ")
    val nfc = unicodeNormalize(noCtl, "NFC")
    val collapsed = trim(regexp_replace(nfc, "\\s+", " "))
    if (lowercase) lower(collapsed) else collapsed
  }

  /**
   * Train a character-trigram unigram LM as a TABLE `(tri, c)` — the
   * cross-corpus form of [[lmQualityScore]]'s self-training: train once on
   * a trusted high-quality corpus (the CCNet recipe trains on Wikipedia),
   * persist the model, then [[scoreWithLm]] any number of crawl shards
   * against it. One combinable count per distinct trigram.
   *
   * The model is vocabulary-sized, but "vocabulary" is NOT small on a
   * multilingual web corpus: CJK charsets run to tens of thousands of
   * code points, and observed distinct char trigrams reach 10⁸–10⁹ —
   * enough to break the driver capture ([[collectLmModel]]) and the
   * scoring broadcast. Cap the model AT TRAIN TIME:
   *
   *  - `minCount` drops trigrams seen fewer than `minCount` times — the
   *    Zipf tail IS the junk the perplexity filter exists to flag, and a
   *    pruned trigram simply scores at the Laplace count-0 floor, exactly
   *    like any other unseen trigram (`minCount = 1` keeps everything:
   *    bitwise-identical to the uncapped model);
   *  - `maxVocab` keeps only the top-`maxVocab` trigrams by count (ties
   *    broken on the trigram string, so the cut is deterministic and
   *    engine-reproducible); `0` = unlimited. The top-V cut is a
   *    per-partition partial top-V merged on the driver
   *    (`TakeOrderedAndProject`) — never a global sort.
   *
   * Both caps only shrink `c`/`V` in the Laplace score — [[scoreWithLm]]
   * and [[scoreWithLmLocal]] need no changes to consume a pruned model.
   */
  def trainCharTrigramLm(df: org.apache.spark.sql.DataFrame,
                         textCol: String, minCount: Long = 1L,
                         maxVocab: Int = 0): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(maxVocab >= 0, s"maxVocab must be >= 0 (0 = unlimited), got $maxVocab")
    val counts = df.select(explode(charTrigrams(col(textCol))).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("c"))
    val floored =
      if (minCount > 1L) counts.where(col("c") >= minCount) else counts
    if (maxVocab > 0)
      floored.orderBy(col("c").desc, col("tri").asc).limit(maxVocab)
        .select("tri", "c")
    else floored
  }

  /**
   * Score documents against a trained trigram model with Laplace
   * smoothing: `avg ln((c(tri) + 1) / (total + V))`, unseen trigrams
   * scoring the `c = 0` floor — cross-corpus scoring MUST smooth, unlike
   * the self-trained [[lmQualityScore]] where every trigram is in-model
   * by construction. Docs shorter than 3 chars score NULL
   * (`n_trigrams = 0`).
   *
   * 100 TB design: the model and its two scalar stats are BROADCAST (the
   * model is vocabulary-sized); scoring is a map-side join plus one
   * partial-aggregated avg per document — the only exchange carries
   * per-document `(sum, count)` partials.
   */
  def scoreWithLm(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String,
                  model: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val stats = model.agg(sum("c").as("t"), count(lit(1)).as("v"))
    val occ = df.select(col(idCol),
      explode(charTrigrams(col(textCol))).as("tri"))
    val scored = occ
      .join(broadcast(model), Seq("tri"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(log((coalesce(col("c"), lit(0L)).cast("double") + lit(1.0)) /
          (col("t") + col("v")).cast("double"))), 6).as("avg_logp"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        col("avg_logp"))
  }

  /** Driver-side capture of a [[trainCharTrigramLm]] model for map-only
    * scoring: sorted `(tri, count)` pairs plus the Laplace denominator
    * `total + V`.
    *
    * The collect is MODEL-sized, and the guard is LOUD, not truncating
    * (the [[graft.streaming.StreamingOps.decontaminateStream]]
    * `maxTestGrams` pattern): a multilingual corpus can produce 10⁸+
    * distinct char trigrams, and silently capturing that is a driver
    * OOM at 100 TB. A model over `maxModelRows` must be pruned at train
    * time (`minCount` / `maxVocab` on [[trainCharTrigramLm]]) — pruning
    * is part of the MODEL, not a capture-time truncation, so batch
    * ([[scoreWithLm]]) and stream ([[scoreWithLmLocal]]) score against
    * identical tables. */
  def collectLmModel(model: org.apache.spark.sql.DataFrame,
                     maxModelRows: Int = 1 << 22): (Array[(String, Long)], Double) = {
    require(maxModelRows >= 1, s"maxModelRows must be >= 1, got $maxModelRows")
    val rows = model.select(col("tri"), col("c")).limit(maxModelRows + 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    if (rows.length > maxModelRows)
      throw new graft.InvalidDataError(
        s"trigram LM model exceeds $maxModelRows rows; prune at train time " +
          "(trainCharTrigramLm minCount/maxVocab) before capturing")
    val total = rows.iterator.map(_._2).sum
    (rows, (total + rows.length).toDouble)
  }

  /** Map-only (stream-safe) form of [[scoreWithLm]]: the captured model
    * rides the plan as one shared hash map, scoring is a single codegen
    * pass per row — no join, no state, no shuffle, so a micro-batch
    * scores documents where they arrive. Returns
    * `struct(n_trigrams, avg_logp)` (avg unrounded; round to match the
    * batch form's convention). */
  def scoreWithLmLocal(text: Column, model: Array[(String, Long)],
                       denom: Double): Column =
    graft.functions.GraftFunctions.lm_avg_logp(charTrigrams(text), model, denom)

  /** Train BPE merges on a bounded driver-side corpus sample (tokenizer
    * training is always sample-based; the sample, not the corpus, bounds
    * driver memory — the [[graft.ops.SimilarityOps.topKIvf]] argument).
    * The sample is a deterministic hash-ordered draw, not `limit(n)`:
    * the first n rows of a source-clustered 100 TB corpus would train a
    * one-source vocabulary (the
    * [[graft.ops.SimilarityOps.sampleVectors]] argument); ordering by
    * `xxhash64(text)` samples uniformly over the corpus while staying
    * RNG-free and layout-independent. Training consumes the sample as a
    * word-frequency MAP, so the draw's order never affects the merges —
    * only its membership does.
    * Returns the ordered merge list — persist it like any model
    * artifact; [[bpeEncode]] applies it anywhere, batch or stream. */
  def trainBpe(corpus: org.apache.spark.sql.DataFrame, textCol: String,
               numMerges: Int, sampleDocs: Int = 2048): Array[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(sampleDocs >= 1, s"sampleDocs must be >= 1, got $sampleDocs")
    val texts = corpus.select(col(textCol)).where(col(textCol).isNotNull)
      .orderBy(xxhash64(col(textCol)))
      .limit(sampleDocs).collect().map(_.getString(0))
    val freq = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach(_.trim.split("\\s+").filter(_.nonEmpty)
      .foreach(w => freq(w) = freq.getOrElse(w, 0L) + 1L))
    graft.functions.BpeUtil.train(freq.toMap, numMerges)
  }

  /** BPE subword tokens (`array<string>`, `</w>`-marked) via a map-only
    * codegen expression — the REAL token count for budget ops
    * ([[graft.ops.CorpusOps.selectWithinBudget]], `packSequences`):
    * whitespace counts undercount code/CJK/URLs badly. */
  def bpeEncode(text: Column, merges: Array[(String, String)]): Column =
    graft.functions.GraftFunctions.bpe_encode(text, merges)

  /** The 17-dim logistic-regression margin `w·x` over the md5-nibble
    * bag-of-words features, built in a FIXED left-to-right order
    * (`((w0·x0 + w1·x1) + …) + w16`) and then floored to 16 fractional
    * bits, so `exp` sees bit-identical doubles under any partitioning
    * and in the relational replay — left-to-right IEEE addition is
    * deterministic, and Catalyst never reassociates float `+`.
    * Features are CENTERED (`16·c_j/n − 1`, mean ≈ 0): the raw
    * fractions sum to exactly 1 per document, i.e. they are collinear
    * with the bias, which puts a ~16× eigenvalue on that direction and
    * caps the stable learning rate at ~0.5 — centering removes it, so
    * the bias learns the base rate and the features learn the signal
    * at ordinary rates (standard feature standardization, done
    * replayably). */
  private def logRegMargin(toksCol: Column, w: Array[Double]): Column = {
    val h = graft.functions.GraftFunctions.nibble_histogram(toksCol)
    val n = greatest(size(toksCol), lit(1)).cast("double")
    val x = (j: Int) =>
      h.getItem(j).cast("double") * lit(16.0) / n - lit(1.0)
    val z = (1 until 16).foldLeft(lit(w(0)) * x(0))(
      (acc, j) => acc + lit(w(j)) * x(j)) + lit(w(16))
    floor(z * lit(65536.0)).cast("double") / lit(65536.0)
  }

  /** σ(margin) with the quantized argument of [[logRegMargin]].
    *
    * ACCEPTED REPLAY RISK (the d109 ln precedent): the margin is
    * quantized, but `exp` is not IEEE-required correctly rounded, so a
    * JVM whose intrinsic differs from the oracle engine's libm by an ulp
    * could flip a downstream floor/ROUND bin boundary in d120–d123/s76.
    * Both engines here agree (gates green three rounds running);
    * quantizing σ's OUTPUT would not remove the boundary sensitivity,
    * only move it onto the quantization grid itself. */
  private def logRegP(toksCol: Column, w: Array[Double]): Column =
    lit(1.0) / (lit(1.0) + exp(-logRegMargin(toksCol, w)))

  /**
   * Distributed logistic-regression trainer for a fastText/CCNet-style
   * quality/domain classifier: hashed bag-of-words features (the 16
   * md5-nibble buckets of [[graft.functions.NibbleHistogram]],
   * length-normalized, + bias), full-batch gradient ascent on the
   * log-likelihood with per-document gradient contributions FLOORED to
   * 16 fractional bits before summing — integer sums are
   * order-invariant, so the trained weights are BITWISE REPRODUCIBLE
   * under any partitioning and replayable by a cross-engine oracle
   * (the e48 fixed-point k-means trick applied to gradient descent;
   * DSIR's 16-bit flooring applied to a trained model's updates).
   *
   * 100 TB shape: one map-only featurize + partial-aggregated exchange
   * of 17 longs per iteration; the only driver state is the 17-double
   * weight vector (the kmeansFit envelope). 16 buckets is a
   * deliberately tiny demonstration feature space — a production run
   * raises the bucket count (the kernel generalizes to any nibble
   * depth), not the algorithm.
   *
   * Returns the 17 weights (16 buckets + bias). Null-text rows are
   * excluded from training; `label` must be 0/1-valued.
   */
  def trainLogReg(df: DataFrame, textCol: String, label: Column,
                  iters: Int = 2, lr: Double = 1.0): Array[Double] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val toks = tokens(col(textCol))
    val h = graft.functions.GraftFunctions.nibble_histogram(toks)
    val n = greatest(size(toks), lit(1)).cast("double")
    // featurize ONCE and iterate on the persisted projection (17 numbers
    // + label per doc, ~150 B/row): without this, every gradient step
    // re-scans and re-tokenizes the raw corpus — 16 iterations over
    // 100 TB is 16 corpus scans where one suffices
    val feats = df.where(col(textCol).isNotNull)
      .select(label.cast("double").as("y"), h.as("h"), n.as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = new Array[Double](17)
    try {
    var it = 0
    while (it < iters) {
      // feats already holds h and n, so rebuild the margin from THOSE
      // columns in the same fixed order (and the same centering, see
      // logRegMargin) instead of re-tokenizing
      val x = (j: Int) =>
        col("h").getItem(j).cast("double") * lit(16.0) / col("n") - lit(1.0)
      val zRaw = (1 until 16).foldLeft(lit(w(0)) * x(0))(
        (acc, j) => acc + lit(w(j)) * x(j)) + lit(w(16))
      val zq = floor(zRaw * lit(65536.0)).cast("double") / lit(65536.0)
      val pv = lit(1.0) / (lit(1.0) + exp(-zq))
      // σ is projected ONCE per row before the aggregate — as separate
      // aggregate inputs the 17 sums would each re-evaluate the full
      // margin + exp; the projection leaves only a cheap per-bucket
      // multiply in each sum (numerically identical, same expressions)
      val scored = feats.select(col("y"), col("h"), col("n"), pv.as("p"))
      val g = (j: Int) =>
        sum(floor(((col("y") - col("p")) * x(j)) * lit(65536.0)).cast("long"))
          .as(s"s$j")
      val gBias =
        sum(floor((col("y") - col("p")) * lit(65536.0)).cast("long")).as("s16")
      val aggs = (0 until 16).map(g) :+ gBias :+ count(lit(1)).as("nn")
      val row = scored.agg(aggs.head, aggs.tail: _*).collect()(0)
      val nn = row.getLong(17).toDouble
      var j = 0
      while (j < 17) {
        w(j) = w(j) + lr * (row.getLong(j).toDouble / 65536.0 / nn)
        j += 1
      }
      it += 1
    }
    } finally feats.unpersist(blocking = false) // also on a failed iteration:
    // a thrown collect() must not leave the cached projection pinned
    w
  }

  /** Classifier probability for `text` under trained [[trainLogReg]]
    * weights — map-only (one codegen histogram + a fixed-order dot). */
  def scoreLogReg(text: Column, w: Array[Double]): Column = {
    require(w.length == 17, s"want 16 bucket weights + bias, got ${w.length}")
    logRegP(tokens(text), w)
  }
}
