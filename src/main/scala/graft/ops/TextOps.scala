package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * token statistics, heuristic quality scoring, language ID, document
  * fingerprinting and exact deduplication.
  *
  * Everything is a native expression projection (regexp_count / md5 /
  * window) — no UDFs, fully codegen'd, scan-parallel: at 100 TB each of
  * these is a single pass with no shuffle except the fingerprint groupBy.
  */
object TextOps {

  /** ASCII punctuation character class, expressed with ranges so the same
    * pattern means the same thing in Java regex (Spark) and RE2 (oracle). */
  val PunctClass = "[!-/:-@\\[-`{-~]"

  /** Unicode NFC normalization — the native codegen'd
    * [[graft.functions.UnicodeNormalize]] expression (`graft_nfc`):
    * composes combining-mark sequences so the same visible word has one
    * byte form before anything downstream (vocabulary, fingerprints,
    * tokenizer merges). Pure-ASCII rows return the input buffer
    * untouched. Requires [[graft.functions.GraftExtensions]]. */
  def nfc(text: Column): Column = call_function("graft_nfc", text)

  /** Unicode NFKC — NFC plus compatibility folding (ligatures ﬁ→fi,
    * full-width Ａ→A, circled digits) — the aggressive variant tokenizer
    * pipelines prefer; oracle-gated on golden ASCII values
    * (q_unicode_nfkc — DuckDB has no NFKC built-in, so the oracle
    * states what the injected dirt must fold to). */
  def nfkc(text: Column): Column = call_function("graft_nfkc", text)

  /** Invisible-character class: C0 controls except tab/LF/CR, DEL + C1
    * controls, zero-width space/joiners (U+200B–U+200D), word joiner
    * (U+2060), BOM/ZWNBSP (U+FEFF) and soft hyphen (U+00AD) — the bytes
    * crawled web text smuggles through every downstream length, shingle
    * and tokenizer computation while rendering as nothing. `\x{…}`
    * escapes mean the same thing in Java regex (Spark) and RE2 (oracle)
    * — the [[PunctClass]] portability convention. */
  val ControlClass: String =
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F" +
      "\\x{0080}-\\x{009F}\\x{00AD}\\x{200B}-\\x{200D}\\x{2060}\\x{FEFF}]"

  /** Strip invisible characters ([[ControlClass]]) — with [[nfc]] the
    * standard ingest-time cleaning pair. One codegen'd regexp projection,
    * zero shuffle, stream-admissible.
    *
    * ORDER CONTRACT: when composing with [[fixMojibake]], repair FIRST —
    * this strip removes the C1 controls (U+0080–U+009F) that are the
    * Latin-1 renderings of UTF-8 continuation bytes, i.e. the evidence
    * the mojibake repair needs; stripping first leaves permanently
    * garbled text no pass can fix (spec-pinned in MojibakeSpec). */
  def cleanControlChars(text: Column): Column =
    regexp_replace(text, ControlClass, "")

  /** `<script>`/`<style>` element removal, CONTENT INCLUDED — executable
    * and presentational payloads are not training text. Non-greedy to
    * the matching close tag; case-insensitive; dot matches newlines. No
    * backreference (RE2, the oracle engine, has none), so the two
    * element names are spelled out as alternation branches. An UNCLOSED
    * script/style block does not match here — its open tag then falls
    * through to [[HtmlTagOrDecl]] and its content survives as text (the
    * conservative failure: keep bytes rather than truncate the document
    * at every crawler-mangled page). */
  val ScriptStyleBlock: String =
    "(?is)<script\\b[^>]*>.*?</script\\s*>|<style\\b[^>]*>.*?</style\\s*>"

  /** HTML comments, non-greedy across newlines. */
  val HtmlComment: String = "(?s)<!--.*?-->"

  /** Any remaining tag (`<p …>`, `</p>`) or declaration (`<!DOCTYPE …>`);
    * a bare `<` that opens no tag is text and survives. */
  val HtmlTagOrDecl: String = "(?s)</?[a-zA-Z][^>]*>|<![^>]*>"

  /** Strip HTML markup from crawled text — the cleaning step between
    * raw crawl and [[cleanControlChars]]/[[nfc]] in a C4/CCNet-shaped
    * ingest pipeline. Zero-shuffle, stream-admissible: three codegen'd
    * regexp projections over the shared pattern constants above (the
    * [[ControlClass]] oracle-portability convention — Java regex and
    * RE2 read them identically), then ONE native entity-decode pass
    * ([[graft.functions.HtmlUnescape]]), then whitespace collapse.
    *
    * Order is load-bearing: entities decode AFTER tag removal, so
    * `&lt;script&gt;` — markup QUOTED AS TEXT — decodes to literal
    * `<script>` content instead of becoming a live tag and being
    * stripped (the anti-double-decode order every sanitizer documents);
    * tags are replaced by a SPACE, not dropped, so `a<br>b` keeps its
    * word boundary; the final `\s+`→space collapse + trim normalizes
    * the seams the removals leave. Requires [[graft.functions.GraftExtensions]]. */
  def stripHtml(text: Column): Column = {
    val noScript = regexp_replace(text, ScriptStyleBlock, " ")
    val noComment = regexp_replace(noScript, HtmlComment, " ")
    val noTags = regexp_replace(noComment, HtmlTagOrDecl, " ")
    val decoded = call_function("graft_html_unescape", noTags)
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Block-level elements whose END (or, for `br`/`hr`, occurrence)
    * terminates a text line — the subset every HTML-to-text extractor
    * agrees renders as a break. Case folded by the `(?i)` at use. */
  val HtmlBlockBreak: String =
    "(?is)<(?:/(?:p|div|li|h[1-6]|tr|table|ul|ol|blockquote|section|article|header|footer)|br|hr)\\b[^>]*>"

  /** [[stripHtml]] preserving BLOCK STRUCTURE as newlines — the variant
    * a LINE-respecting pipeline needs (boilerplate-line dedup, C4's
    * per-line battery): block-element ends and `<br>`/`<hr>` become
    * line breaks BEFORE the generic tag sweep, whitespace collapses
    * only WITHIN lines, and empty lines drop. Same ordering contracts
    * as [[stripHtml]] (script/style content removed with the element;
    * entities decode after tag removal so quoted markup stays text).
    * Plain text with newlines passes through with lines intact — safe
    * to run unconditionally at ingest. */
  def stripHtmlBlocks(text: Column): Column = {
    val noScript = regexp_replace(text, ScriptStyleBlock, " ")
    val noComment = regexp_replace(noScript, HtmlComment, " ")
    val breaks = regexp_replace(noComment, HtmlBlockBreak, "\n")
    val noTags = regexp_replace(breaks, HtmlTagOrDecl, " ")
    val decoded = call_function("graft_html_unescape", noTags)
    // collapse horizontal whitespace within lines, keep the line seams
    val collapsed = regexp_replace(decoded, "[ \\t\\x0B\\f\\r]+", " ")
    array_join(
      filter(transform(split(collapsed, "\n"), l => trim(l)), l => l =!= ""),
      "\n")
  }

  /** Mojibake (double-encoded UTF-8) repair — ftfy's core move as a pure
    * Column expression: text that was UTF-8 encoded, misread as
    * Latin-1, and re-encoded renders as `Ã©` for `é`, `â€™` for `’`.
    * The inverse is `decode(encode(s, ISO-8859-1), UTF-8)` with Spark's
    * built-ins (codegen'd, zero shuffle). Guarded, because the inverse
    * is only safe when it IS the inverse:
    *
    *  1. every codepoint must be < U+0100 (else `encode` to Latin-1 is
    *     LOSSY — silently `?`-substitutes), and
    *  2. the text must actually carry a UTF-8-as-Latin-1 signature — a
    *     `[ÃÂâ]`-class lead byte followed by a continuation-range
    *     char — or healthy accented Latin-1 text (`café`) would be
    *     "repaired" into garbage.
    *
    * Handles BOTH misreadings: Windows-1252 (the dominant web variant —
    * `â€™` for `’`, where the C1 range renders as CP1252 punctuation
    * like €/™/Œ) is first folded back to the C1 chars it came from
    * (a 1:1 `translate` of the 27 CP1252-specific codepoints), which
    * reduces it to the ISO-8859-1 case.
    *
    * ORDER CONTRACT: run BEFORE [[cleanControlChars]] — the C1 controls
    * that class strips ARE the Latin-1 renderings of UTF-8 continuation
    * bytes, so cleaning first destroys the evidence the repair needs
    * (spec-pinned in MojibakeSpec).
    *
    * Rows failing either guard pass through unchanged; the repair is
    * idempotent on its own output (repaired text no longer matches the
    * signature). No DuckDB encoding surface exists, so this is
    * spec-gated with golden pairs rather than oracle-gated. */
  def fixMojibake(text: Column): Column = {
    // CP1252→C1 fold: both strings are built from codepoint numbers so
    // the source stays visibly ASCII and the 1:1 length contract of
    // `translate` is evident
    val t = translate(text, FixCp1252Src, FixCp1252Dst)
    // the ENTIRE (folded) string must be the Latin-1 rendering of a
    // valid UTF-8 byte stream — EXACT validity, not the blanket
    // [80-BF]-continuation approximation: surrogates (ED A0-BF ..),
    // overlongs (E0 80-9F .., F0 80-8F ..) and beyond-U+10FFFF
    // (F4 90-BF ..) must be REJECTED, because Spark 4's default decode
    // THROWS on malformed input (MALFORMED_CHARACTER_CODING) — a
    // guard-passing invalid sequence would abort the whole job, not
    // just mangle one row
    val cont = "[\\x{0080}-\\x{00BF}]"
    val validDoubleEncoded =
      "^(?:[\\x00-\\x7F]" +
        s"|[\\x{00C2}-\\x{00DF}]$cont" +
        s"|\\x{00E0}[\\x{00A0}-\\x{00BF}]$cont" +
        s"|[\\x{00E1}-\\x{00EC}]$cont{2}" +
        s"|\\x{00ED}[\\x{0080}-\\x{009F}]$cont" +
        s"|[\\x{00EE}-\\x{00EF}]$cont{2}" +
        s"|\\x{00F0}[\\x{0090}-\\x{00BF}]$cont{2}" +
        s"|[\\x{00F1}-\\x{00F3}]$cont{3}" +
        s"|\\x{00F4}[\\x{0080}-\\x{008F}]$cont{2})*$$"
    // and must carry at least one multi-byte cluster (pure ASCII is a
    // fixed point anyway — skip the encode/decode round-trip)
    val signature = "[\\x{00C2}-\\x{00F4}][\\x{0080}-\\x{00BF}]"
    when(t.rlike(validDoubleEncoded) && t.rlike(signature),
      decode(encode(t, "ISO-8859-1"), "UTF-8"))
      .otherwise(text) // the ORIGINAL, never the half-folded form
  }

  /** The 27 codepoints Windows-1252 places in the C1 range (0x80–0x9F),
    * paired with the C1 codepoint CP1252 shows them at — the fold that
    * reduces CP1252 mojibake to the ISO-8859-1 case. */
  private val Cp1252Pairs: Seq[(Int, Int)] = Seq(
    0x80 -> 0x20AC, 0x82 -> 0x201A, 0x83 -> 0x0192, 0x84 -> 0x201E,
    0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02C6,
    0x89 -> 0x2030, 0x8A -> 0x0160, 0x8B -> 0x2039, 0x8C -> 0x0152,
    0x8E -> 0x017D, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201C,
    0x94 -> 0x201D, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
    0x98 -> 0x02DC, 0x99 -> 0x2122, 0x9A -> 0x0161, 0x9B -> 0x203A,
    0x9C -> 0x0153, 0x9E -> 0x017E, 0x9F -> 0x0178)
  private val FixCp1252Src: String = Cp1252Pairs.map(_._2.toChar).mkString
  private val FixCp1252Dst: String = Cp1252Pairs.map(_._1.toChar).mkString

  /** Whitespace-collapsed lower-cased text — the canonical form used for
    * fingerprints and shingles. */
  def normText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  def tokenCount(text: Column): Column =
    regexp_count(text, lit("\\S+")).cast(LongType)

  /** BPE-ish subword pattern: greedy ≤4-char word-character chunks plus
    * one token per non-word symbol — a cheap, deterministic proxy for BPE
    * vocabulary token counts (both Java regex and RE2 match `\w` as ASCII
    * word chars with leftmost-greedy semantics, so the count is
    * engine-stable). */
  val BpeIshPattern = "\\w{1,4}|[^\\w\\s]"

  /** Approximate LLM token count of `text` under [[BpeIshPattern]]. */
  def tokenCountBpeIsh(text: Column): Column =
    regexp_count(text, lit(BpeIshPattern)).cast(LongType)

  /** doc_id, n_tokens, n_chars, n_punct, punct_ratio, avg_token_len. */
  def textStats(docs: DataFrame): DataFrame = {
    val nTokens = tokenCount(col("text"))
    val nChars  = length(col("text")).cast(LongType)
    val nPunct  = regexp_count(col("text"), lit(PunctClass)).cast(LongType)
    val nNonWs  = regexp_count(col("text"), lit("\\S")).cast(LongType)
    docs.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      tokenCountBpeIsh(col("text")).as("n_tokens_bpe"),
      nChars.as("n_chars"),
      nPunct.as("n_punct"),
      (nPunct.cast(DoubleType) / greatest(nChars, lit(1L))).as("punct_ratio"),
      (nNonWs.cast(DoubleType) / greatest(nTokens, lit(1L))).as("avg_token_len"))
  }

  val StopwordsPattern = "\\b(the|a|an|of|to|and|in|is|it|that|for|on|with|as)\\b"

  /** Heuristic quality score in [0,1] from length, punctuation and
    * stopword-density signals, plus a keep/drop flag. */
  def textQuality(docs: DataFrame): DataFrame = {
    val nTokens = tokenCount(col("text"))
    val nChars  = length(col("text")).cast(LongType)
    val nPunct  = regexp_count(col("text"), lit(PunctClass)).cast(LongType)
    val nStop   = regexp_count(lower(col("text")), lit(StopwordsPattern)).cast(LongType)
    val punctRatio = nPunct.cast(DoubleType) / greatest(nChars, lit(1L))
    val stopRatio  = nStop.cast(DoubleType) / greatest(nTokens, lit(1L))
    val score =
      lit(0.4) * least(nTokens / lit(100.0), lit(1.0)) +
      lit(0.3) * (lit(1.0) - punctRatio) +
      lit(0.3) * least(stopRatio * lit(5.0), lit(1.0))
    Parallel.fan(docs).select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      stopRatio.as("stop_ratio"),
      punctRatio.as("punct_ratio"),
      score.as("score"),
      (score >= lit(0.5)).as("keep"))
  }

  /** Distinctive-stopword patterns per candidate language. The `\x{...}`
    * escape form is shared by Java regex and RE2. */
  val LangPatterns: Seq[(String, String)] = Seq(
    "zh" -> "[\\x{4e00}-\\x{9fff}]",
    "en" -> "\\b(the|and|is|of|to|in|it|you|that|for)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|ein|zu|ich|mit)\\b",
    "fr" -> "\\b(le|la|les|et|est|un|une|des|que|pour)\\b",
    "es" -> "\\b(el|los|las|y|es|un|una|que|por|para)\\b")

  /** n-gram-heuristic language ID: count hits per language pattern over
    * the lowered text, pick by fixed priority order (zh by script, then
    * best stopword score with en>de>fr>es tie order). */
  def langId(docs: DataFrame): DataFrame = {
    val lowered = lower(col("text"))
    val n = LangPatterns.toMap.view.mapValues(p => regexp_count(lowered, lit(p))).toMap
    val predicted =
      when(n("zh") > 0, lit("zh"))
        .when(n("en") >= n("de") && n("en") >= n("fr") && n("en") >= n("es"), lit("en"))
        .when(n("de") >= n("fr") && n("de") >= n("es"), lit("de"))
        .when(n("fr") >= n("es"), lit("fr"))
        .otherwise(lit("es"))
    docs.select(
      col("doc_id"), col("lang"),
      predicted.as("predicted_lang"),
      (predicted === col("lang")).as("correct"))
  }

  /** TRAINED multi-class language-ID model ([[trainLangNb]]): per-class
    * hashed-char-n-gram multinomial Naive Bayes — `classes` sorted
    * ascending (the deterministic tie order), `priors(c)` =
    * ln(D_c/D_total) and `weights(c)(b)` = ln((n_cb+α)/(N_c+αB)), both
    * rounded 6 dp (the family's transcendental-parity contract) so a
    * DuckDB oracle replays training bit for bit. Driver-sized by
    * construction: classes × buckets doubles. The model RECORDS the
    * [[HashMode]] it was trained under — inference hashes with the
    * model's own mode, so a train/score mode mismatch (which would
    * silently bucket features wrong and misclassify with no error)
    * cannot be expressed. */
  final case class NbLangModel(classes: Seq[String], priors: Seq[Double],
                               weights: Seq[Seq[Double]], buckets: Int,
                               nGram: Int, mode: HashMode)

  /** The normalised text as a single-character array — the base both
    * char-n-gram call sites materialise ONCE (behind a Generate
    * barrier) before windowing: `substr(text, i, n)` per position walks
    * the UTF-8 bytes from the string's start every call (multi-byte
    * boundary scan — O(len) per window, O(len²) per document; measured
    * 10× on the sf0.1 corpus), whereas `element_at` on the
    * materialised array is O(1). Split is per UTF-16 unit: BMP text
    * (every practical language-ID script) windows per character;
    * supplementary-plane code points contribute their surrogate halves
    * as window positions — a consistent feature space either way, the
    * hash does not care that a "character" was half a code point. */
  private def charsOf(textCol: Column): Column =
    split(normText(coalesce(textCol, lit(""))), "")

  /** Overlapping `n`-char windows over a (materialised) [[charsOf]]
    * array (the fastText/CCNet language-ID feature class — scripts
    * without word boundaries get features too, which is exactly where
    * token features go blind). Sub-n texts yield an empty array. */
  private def charNgramsOf(chars: Column, n: Int): Column =
    // the short-text branch must be explicit: sequence(1, 0) DESCENDS
    // in Spark (yielding [1, 0] — two phantom empty-string features),
    // it is not an empty range. The first-element emptiness test closes
    // the n = 1 hole: split("", "") is [""] (size 1), which passes the
    // size guard at n = 1 and would emit one phantom EMPTY-STRING
    // feature per empty/null document; a non-empty text never contains
    // an empty element, so checking position 1 is exact
    when(size(chars) >= n && length(element_at(chars, 1)) > 0,
      transform(sequence(lit(1), size(chars) - (n - 1)),
        i => concat((0 until n).map(j => element_at(chars, i + j)): _*)))
      .otherwise(array().cast(ArrayType(StringType)))

  /** One-pass multi-class Naive Bayes TRAINING for [[langIdNb]] — the
    * trained replacement for the [[langId]] heuristic (production
    * pipelines run fastText lid.176-style trained classifiers; CCNet's
    * pipeline language-splits before anything else). Multinomial NB
    * over hashed char-`nGram` features: per class c and bucket b,
    * `w_cb = ln((n_cb+α)/(N_c+αB))`, prior `ln(D_c/D_total)`, all 6 dp.
    *
    * Scale shape: ONE corpus pass — features hash to `buckets`
    * map-side, the shuffle carries ≤ classes×buckets partial counts,
    * plus one classes-sized doc-count aggregation; the model is
    * driver-sized by the same contract as [[scoreLinear]]'s weights.
    * Null labels are excluded (unlabeled rows train nothing); every
    * surviving class must be non-empty. */
  def trainLangNb(docs: DataFrame, labelCol: Column, buckets: Int = 64,
                  nGram: Int = 3, alpha: Double = 1.0,
                  mode: HashMode = HashMode.Default): NbLangModel = {
    require(buckets > 0, "buckets must be positive")
    require(nGram >= 1, "nGram must be positive")
    require(alpha > 0, "alpha must be positive")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // fanned: the char-window pass is compute-bound, and a small corpus
    // arrives as one unsplittable scan task (see Parallel.fan)
    val labeled = Parallel.fan(docs).filter(labelCol.isNotNull)
    val bucketCounts = labeled
      .select(labelCol.cast(StringType).as("_lang"),
        // char array materialised once per row (Generate barrier) so
        // the window transform reads it O(1) per element — see charsOf
        explode(array(charsOf(col("text")))).as("_ch"))
      .select(col("_lang"), explode(charNgramsOf(col("_ch"), nGram)).as("_g"))
      .select(col("_lang"),
        pmod(mode.hash(col("_g")), lit(buckets.toLong)).cast(IntegerType).as("_b"))
      .groupBy(col("_lang"), col("_b")).agg(count(lit(1)).as("n"))
    // ONE collect job for both model aggregates: the class doc counts
    // ride along as `_b = -1` rows (a bucket index pmod can never emit),
    // and ReuseExchange dedups the shared fanned-scan subtree — two
    // separate collects paid two job submissions for one corpus pass
    val docCountRows = labeled
      .groupBy(labelCol.cast(StringType).as("_lang"))
      .agg(count(lit(1)).as("n"))
      .select(col("_lang"), lit(-1).as("_b"), col("n"))
    val all = bucketCounts.union(docCountRows).collect()
    val (docRows, counts) = all.partition(_.getInt(1) == -1)
    val docCounts = docRows.map(r => r.getString(0) -> r.getLong(2)).toMap
    require(docCounts.nonEmpty, "no labeled documents to train on")
    val classes = docCounts.keys.toSeq.sorted
    val dTotal = docCounts.values.sum.toDouble
    val byClass = counts.groupBy(_.getString(0))
    val priors = classes.map(c => r6(math.log(docCounts(c) / dTotal)))
    val weights = classes.map { c =>
      val rows = byClass.getOrElse(c, Array.empty)
      val byB = rows.map(r => r.getInt(1) -> r.getLong(2)).toMap
      val tC = rows.map(_.getLong(2)).sum.toDouble
      (0 until buckets).map(b =>
        r6(math.log((byB.getOrElse(b, 0L) + alpha) / (tC + alpha * buckets))))
    }
    NbLangModel(classes, priors, weights, buckets, nGram, mode)
  }

  /** Trained language-ID INFERENCE under an [[NbLangModel]]: per class
    * the exact integer-micro logit `micro(prior) + Σ micro(w_cb)` (the
    * [[scoreLinear]] determinism contract — order-independent LONG
    * folds, engine-identical), argmax class with ties to the first
    * class in sorted order. Output `(doc_id, n_feats, predicted_lang,
    * score_micro)`; featureless documents argmax the priors alone.
    *
    * Zero shuffle: feature extraction, hashing, the per-class folds and
    * the argmax are one projection behind a Generate barrier — runs
    * unchanged on a streaming frame (spec-pinned), which is where
    * language ID actually sits in an ingest pipeline. Features hash
    * under the MODEL'S recorded [[HashMode]] — the mode is part of the
    * learned artifact, not a per-call knob. */
  def langIdNb(docs: DataFrame, model: NbLangModel): DataFrame = {
    require(model.classes.nonEmpty, "model must carry at least one class")
    def micro(x: Double): Long = math.round(x * 1e6)
    val b = model.buckets
    val feats = charNgramsOf(col("_lc"), model.nGram)
    // hash each feature ONCE into its bucket, materialized behind its
    // own Generate barrier — without this every per-class fold re-hashes
    // every feature (K classes × features md5 calls), and at 100 TB the
    // hash IS the inference cost
    val buckets = transform(col("_lf"),
      g => pmod(model.mode.hash(g), lit(b.toLong)).cast(IntegerType))
    val scored = model.classes.zipWithIndex.map { case (c, i) =>
      val wLit = array(model.weights(i).map(w => lit(micro(w))): _*)
      struct(
        aggregate(col("_lb"), lit(micro(model.priors(i))),
          (acc, bk) => acc + element_at(wLit, bk + 1)).as("score_micro"),
        // ties break to the FIRST class in sorted order: the struct max
        // compares score first, then this negated index
        lit(-i).as("nidx"),
        lit(c).as("lang"))
    }
    // fanned (batch only — a streaming frame passes through untouched,
    // keeping the zero-shuffle streaming contract): the per-feature
    // hash + per-class fold is compute-bound map work
    Parallel.fan(docs)
      .select(col("doc_id"), explode(array(charsOf(col("text")))).as("_lc"))
      .select(col("doc_id"), explode(array(feats)).as("_lf"))
      .select(col("doc_id"), size(col("_lf")).cast(LongType).as("n_feats"),
        explode(array(buckets)).as("_lb"))
      .select(col("doc_id"), col("n_feats"),
        array_max(array(scored: _*)).as("_best"))
      .select(col("doc_id"), col("n_feats"),
        col("_best.lang").as("predicted_lang"),
        col("_best.score_micro").as("score_micro"))
  }

  /** Corpus vocabulary: term frequency, document frequency, and corpus
    * coverage share per token. One explode + one groupBy (map-side
    * combined); at 100 TB the shuffle carries one row per distinct token
    * per partition, not per occurrence. */
  def vocabulary(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(normText(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val counts = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("term_freq"),
           countDistinct(col("doc_id")).as("doc_freq"))
    // persisted + eagerly materialised (a construction-time job — plan-only
    // callers pay it too): `total` below derives from `counts`,
    // and without the cache each consumer re-tokenises the corpus (the two
    // scan subtrees don't reuse each other's exchange). Vocabulary-sized.
    Caching.ensureCached(counts)
    // global total via broadcast scalar — an empty-partition window would
    // funnel the whole vocabulary through one task
    val total = counts.agg(sum(col("term_freq")).as("_total"))
    counts.crossJoin(broadcast(total))
      .withColumn("corpus_share", col("term_freq").cast(DoubleType) / col("_total"))
      .drop("_total")
  }

  /** Within-document repetition: share of word bigrams that are repeats
    * (`1 - distinct/total`), the classic boilerplate/spam signal for
    * training-data filtering. Token array goes through a Generate
    * barrier (see NearDup.shinglesOf) so tokenisation stays O(n). */
  def repetition(docs: DataFrame): DataFrame = {
    val bigrams = NearDup.shinglesOf(col("toks"), k = 2,
      distinct = false, wholeDocFallback = false)
    docs
      .select(col("doc_id"), explode(array(split(normText(col("text")), " "))).as("toks"))
      .select(col("doc_id"), explode(array(bigrams)).as("bg"))
      .select(col("doc_id"),
        size(col("bg")).cast(LongType).as("n_bigrams"),
        size(array_distinct(col("bg"))).cast(LongType).as("n_distinct_bigrams"))
      .withColumn("repetition_ratio",
        when(col("n_bigrams") > 0,
          lit(1.0) - col("n_distinct_bigrams").cast(DoubleType) / col("n_bigrams"))
          .otherwise(lit(0.0)))
  }

  /** Threshold set for [[gopherRules]] — defaults are the Gopher paper's
    * published values (Rae et al. 2021, "Scaling Language Models", App. A:
    * 50–100k words, mean word length 3–10, ≤10% symbol-to-word, ≤90%
    * bullet lines, ≤30% ellipsis lines, ≥80% alpha words, ≥2 stop words).
    * Every bound is a knob because real corpora need recalibration. */
  final case class GopherThresholds(
    minWords: Long = 50, maxWords: Long = 100000,
    minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
    maxSymbolRatio: Double = 0.1,
    maxBulletRatio: Double = 0.9, maxEllipsisRatio: Double = 0.3,
    minAlphaRatio: Double = 0.8, minStopwords: Long = 2)

  /** The stop-word presence list the Gopher rules count DISTINCT hits
    * over (not occurrences — a doc needs `minStopwords` different ones). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules: the repetition-free subset of
    * the classic heuristic filter battery, one boolean per rule plus the
    * conjunction (`gopher_keep`). (Within-doc repetition is its own
    * operator, [[repetition]] — compose the two filters as a user would.)
    *
    * Everything is a single-pass projection: token work uses
    * `regexp_extract_all` + array lambdas (no explode, no shuffle), line
    * work splits on newline and filters with anchored RE2-safe patterns,
    * and every ratio is one IEEE double division of exact integer counts
    * — bit-stable across engines, which is what lets a DuckDB oracle gate
    * the whole rule battery including the doubles. Null text counts as
    * empty (rules evaluate, `gopher_keep` = false via the word floor). */
  def gopherRules(docs: DataFrame,
                  t: GopherThresholds = GopherThresholds(),
                  passThrough: Seq[String] = Nil): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val toks = regexp_extract_all(txt, lit("\\S+"), lit(0))
    val nWords = size(toks).cast(LongType)
    val wordsFloor = greatest(nWords, lit(1L))
    val meanLen = regexp_count(txt, lit("\\S")).cast(DoubleType) / wordsFloor
    val symbols = (regexp_count(txt, lit("#")) +
      regexp_count(txt, lit("\\.\\.\\.")) +
      regexp_count(txt, lit("\\x{2026}"))).cast(LongType)
    val lines = split(txt, "\n")
    val linesFloor = greatest(size(lines), lit(1))
    val bulletRatio = size(filter(lines, l => l.rlike("^\\s*[-*\\x{2022}]")))
      .cast(DoubleType) / linesFloor
    val ellipsisRatio = size(filter(lines, l => l.rlike("(\\.\\.\\.|\\x{2026})\\s*$")))
      .cast(DoubleType) / linesFloor
    val alphaRatio = size(filter(toks, w => w.rlike("[A-Za-z]")))
      .cast(DoubleType) / wordsFloor
    val nStop = GopherStopwords
      .map(w => when(lower(txt).rlike(s"\\b$w\\b"), 1L).otherwise(0L))
      .reduce(_ + _)
    Parallel.fan(docs).select((col("doc_id") +: passThrough.map(col)) ++ Seq(
      nWords.as("n_words"),
      meanLen.as("mean_word_len"),
      (symbols.cast(DoubleType) / wordsFloor).as("symbol_ratio"),
      bulletRatio.as("bullet_ratio"),
      ellipsisRatio.as("ellipsis_ratio"),
      alphaRatio.as("alpha_ratio"),
      nStop.as("n_stop")): _*)
      .select(col("*"),
        (col("n_words") >= t.minWords && col("n_words") <= t.maxWords).as("r_words"),
        (col("mean_word_len") >= t.minMeanWordLen &&
          col("mean_word_len") <= t.maxMeanWordLen).as("r_mean_len"),
        (col("symbol_ratio") <= t.maxSymbolRatio).as("r_symbol"),
        (col("bullet_ratio") <= t.maxBulletRatio).as("r_bullet"),
        (col("ellipsis_ratio") <= t.maxEllipsisRatio).as("r_ellipsis"),
        (col("alpha_ratio") >= t.minAlphaRatio).as("r_alpha"),
        (col("n_stop") >= t.minStopwords).as("r_stop"))
      .withColumn("gopher_keep",
        col("r_words") && col("r_mean_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") && col("r_stop"))
  }

  /** Threshold set for [[c4Rules]] — defaults are the C4 pipeline's
    * published values (Raffel et al. 2020, "Exploring the Limits of
    * Transfer Learning", §2.2: lines must end in terminal punctuation
    * and carry ≥3 words, pages need ≥5 sentences, pages with code
    * braces / "lorem ipsum" / blocklisted words are dropped, lines
    * mentioning javascript are dropped). `badWords` is a parameter —
    * C4 uses a public blocklist; bring your own. */
  final case class C4Thresholds(
    minLineWords: Int = 3, minSentences: Long = 5,
    badWords: Seq[String] = Nil) {
    badWords.foreach(w => require(w.nonEmpty && w.forall(c => c.isLetterOrDigit),
      s"badWords must be plain alphanumeric words, got '$w'"))
  }

  /** A kept C4 line ends in terminal punctuation (period, !, ?, or a
    * closing double quote — the paper's set), optionally followed by
    * trailing whitespace. Anchor-safe across engines because it is only
    * ever applied to SPLIT lines (no embedded newline, so Java's
    * `$`-before-final-newline quirk can't diverge from RE2). */
  val C4LineEnd: String = "[.!?\"]\\s*$"

  /** C4-style cleaning + page filter (Raffel et al. 2020 §2.2) — the
    * companion battery to [[gopherRules]]: Gopher SCORES a page on
    * global ratios, C4 EDITS the page line-by-line and then gates it on
    * page-level tripwires. Line pass: keep lines that end in terminal
    * punctuation, carry at least `minLineWords` words, and do not
    * mention javascript; `clean_text` is the kept lines re-joined.
    * Page rules: enough sentences SURVIVING the line pass (terminal
    * punctuation marks in `clean_text` — C4's "sentence" is exactly the
    * unit its own line filter preserves), no `{` (code page), no
    * "lorem ipsum" (template page), no blocklisted word anywhere
    * (word-boundary match on the raw page, like the reference pipeline
    * — a page is dropped even when the offending line would have been).
    *
    * One projection (plus [[Parallel.fan]]'s size-gated round-robin
    * micro-shuffle): the line array materialises once per
    * row, lambdas filter it in place (no explode), every count is an
    * exact integer — DuckDB-gateable bit-for-bit, stream-admissible as
    * is. Null text yields an empty page that fails the sentence floor.
    * (C4's other half — the three-sentence-span dedup — is corpus-wide
    * state, already covered by the dedup family: [[Curate]] dedupLines
    * and [[ExactSubstr]].) */
  def c4Rules(docs: DataFrame, t: C4Thresholds = C4Thresholds(),
              passThrough: Seq[String] = Nil): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val lines = split(txt, "\n")
    // regexp_count (not regexp_extract_all + size): the word floor only
    // needs the COUNT, materialising a token array per line would be the
    // single biggest allocation in a projection that runs on every page
    val kept = filter(lines, l =>
      l.rlike(C4LineEnd) &&
        regexp_count(l, lit("\\S+")) >= t.minLineWords &&
        !lower(l).contains("javascript"))
    val rBad =
      if (t.badWords.isEmpty) lit(true)
      else !lower(txt).rlike(t.badWords.map(w => s"\\b${w.toLowerCase}\\b")
        .mkString("(", "|", ")"))
    Parallel.fan(docs).select((col("doc_id") +: passThrough.map(col)) ++ Seq(
      array_join(kept, "\n").as("clean_text"),
      size(lines).cast(LongType).as("n_lines"),
      size(kept).cast(LongType).as("n_kept_lines"),
      rBad.as("r_badwords"),
      (!lower(txt).contains("lorem ipsum")).as("r_lorem"),
      (!txt.contains("{")).as("r_brace")): _*)
      .withColumn("n_sentences",
        regexp_count(col("clean_text"), lit("[.!?]")).cast(LongType))
      .withColumn("r_sentences", col("n_sentences") >= t.minSentences)
      .withColumn("c4_keep",
        col("r_sentences") && col("r_badwords") && col("r_lorem") && col("r_brace"))
  }

  /** FastText-style hashed linear classifier INFERENCE: each token (and
    * with `wordNgrams = 2`, each word bigram) hashes into one of
    * `weights.size` buckets; the document logit is `bias + Σ w[bucket]`
    * and `keep` its sign — the exact shape of the quality/toxicity
    * filters real pipelines run over every document (the model is just a
    * weight vector; train it anywhere, paste it here).
    *
    * Determinism contract: weights are quantised to integer MICRO-units
    * (×10⁶) and accumulated as a per-row `aggregate` fold over LONGs —
    * exact, order-independent, engine-identical, no float summation drift
    * — so a DuckDB oracle can gate the scoring path bit-for-bit
    * (`score_micro` is the exact logit; `score` its IEEE double twin).
    * Zero shuffle: tokenisation, hashing, and the fold are one projection
    * behind a Generate barrier (the token array materialises once).
    * Null text scores `bias` alone with 0 features. */
  def scoreLinear(docs: DataFrame, weights: Seq[Double], bias: Double = 0.0,
                  mode: HashMode = HashMode.Default,
                  wordNgrams: Int = 1): DataFrame = {
    require(weights.nonEmpty, "weights must not be empty")
    require(wordNgrams >= 1 && wordNgrams <= 2, "wordNgrams must be 1 or 2")
    def micro(x: Double): Long = math.round(x * 1e6)
    val b = weights.size
    val wLit = array(weights.map(w => lit(micro(w))): _*)
    val toks = filter(split(normText(coalesce(col("text"), lit(""))), " "),
      t => length(t) > 0)
    val bigrams = when(size(col("_toks")) >= 2,
      transform(sequence(lit(1), size(col("_toks")) - 1),
        i => concat(element_at(col("_toks"), i), lit(" "),
          element_at(col("_toks"), i + 1))))
      .otherwise(array().cast(ArrayType(StringType)))
    val feats =
      if (wordNgrams == 2) concat(col("_toks"), bigrams) else col("_toks")
    Parallel.fan(docs)
      .select(col("doc_id"), explode(array(toks)).as("_toks"))
      .select(col("doc_id"), explode(array(feats)).as("_feats"))
      .select(col("doc_id"),
        size(col("_feats")).cast(LongType).as("n_feats"),
        aggregate(col("_feats"), lit(micro(bias)),
          (acc, t) => acc + element_at(wLit,
            pmod(mode.hash(t), lit(b.toLong)).cast(IntegerType) + 1)).as("_sm"))
      .select(col("doc_id"), col("n_feats"),
        col("_sm").as("score_micro"),
        (col("_sm").cast(DoubleType) / lit(1e6)).as("score"),
        (col("_sm") > 0L).as("keep"))
  }

  /** One-pass Naive Bayes TRAINING for [[scoreLinear]] — the trainable
    * half of the fastText-style quality filter (the published pipelines
    * train such filters on reference-vs-crawl labels; CCNet/GPT-3 data
    * work): hashed-unigram log-odds weights
    * `w_b = ln((n_b1+α)/(N_1+αB)) − ln((n_b0+α)/(N_0+αB))` with Laplace
    * smoothing `α`, bias `ln(D_1/D_0)` from the document-count prior.
    * Feature construction (normalised tokens, portable/xx hash, pmod
    * bucket) matches [[scoreLinear]] exactly, so the returned
    * `(weights, bias)` plug straight into it.
    *
    * Scale shape: ONE corpus pass — tokens hash to `buckets` map-side,
    * the shuffle carries ≤ buckets×2 partial counts, and the weight
    * vector (driver-sized by the same contract as scoreLinear's
    * `weights` argument) is computed from the collected bucket counts.
    * Weights round to 6 dp (one ln per class per bucket — the family's
    * transcendental-parity contract), so a DuckDB oracle reproduces
    * training bit for bit. `labelCol` must be a boolean column
    * expression; both classes must be non-empty. */
  def trainNaiveBayes(docs: DataFrame, labelCol: Column, buckets: Int = 64,
                      alpha: Double = 1.0,
                      mode: HashMode = HashMode.Default): (Seq[Double], Double) = {
    require(buckets > 0, "buckets must be positive")
    require(alpha > 0, "alpha must be positive")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val toks = filter(split(normText(coalesce(col("text"), lit(""))), " "),
      t => length(t) > 0)
    val counts = docs
      .select(labelCol.cast(IntegerType).as("_c"), explode(toks).as("_tok"))
      .select(col("_c"),
        pmod(mode.hash(col("_tok")), lit(buckets.toLong)).cast(IntegerType).as("_b"))
      .groupBy(col("_b"))
      .agg(sum(when(col("_c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("_c") === 1, 0L).otherwise(1L)).as("n0"))
      .collect()
    val dRow = docs.agg(
      sum(when(labelCol.cast(IntegerType) === 1, 1L).otherwise(0L)).as("d1"),
      count(lit(1)).as("dt")).collect()(0)
    val d1 = if (dRow.isNullAt(0)) 0L else dRow.getLong(0)
    val d0 = dRow.getLong(1) - d1
    require(d1 > 0 && d0 > 0,
      s"both classes must be non-empty (target=$d1, background=$d0)")
    val t1 = counts.map(_.getLong(1)).sum.toDouble
    val t0 = counts.map(_.getLong(2)).sum.toDouble
    val byB = counts.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val w = (0 until buckets).map { b =>
      val (n1, n0) = byB.getOrElse(b, (0L, 0L))
      r6(math.log((n1 + alpha) / (t1 + alpha * buckets)) -
        math.log((n0 + alpha) / (t0 + alpha * buckets)))
    }
    (w, r6(math.log(d1.toDouble / d0)))
  }

  /** Per-document top-`topK` terms by TF-IDF (`tf × ln(N/df)`, rounded to
    * 6 dp BEFORE ranking so rank and score agree across engines).
    *
    * Scale shape: one explode feeds a (doc, token)-keyed count (map-side
    * combined), document frequency is a second aggregation OVER THE TF
    * FRAME (one row per distinct (doc, token) — never re-reads the
    * corpus), the corpus doc count joins in as a broadcast scalar, and
    * the ranking is [[TopK.topKPerKeyStr]] — O(docs × topK) through the
    * final exchange instead of a per-doc sort window over every distinct
    * term. */
  def tfidf(docs: DataFrame, topK: Int = 5): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(normText(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // persisted + eagerly materialised (a construction-time job — plan-only
    // callers pay it too): `tf` feeds both the df aggregation
    // and the scored join — uncached, each consumer re-tokenises the corpus
    // (the static plan shows two full scan subtrees, no exchange reuse).
    // The cached frame is one row per distinct (doc, token): the compressed
    // token stream, not the corpus.
    Caching.ensureCached(tf)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("_ndocs"))
    val scored = tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("token"),
        round(col("tf") * log(col("_ndocs").cast(DoubleType) / col("df")), 6)
          .as("tfidf"))
    TopK.topKPerKeyStr(scored, "doc_id", "token", "tfidf", topK)
  }

  /** Vocabulary coverage curve: the `topK` most frequent tokens with
    * their cumulative corpus share — the "how big must the tokenizer
    * vocab be to cover X% of tokens" signal. Ties break on the token
    * string for an engine-stable curve.
    *
    * Scale shape (r15 — this was the one single-partition global window
    * left in main): the top-K frame comes from `orderBy().limit(topK)`
    * (TakeOrderedAndProject — a bounded K-row heap per partition, never
    * one task owning the whole vocabulary; a 100 TB web corpus has 1e9+
    * distinct tokens under dirty text). Rank and the cumulative
    * frequency are then a K²-row broadcast triangular self-join INSIDE
    * the K-sized frame — no WindowExec anywhere in the plan
    * (spec-asserted) — and `cum_share` divides the EXACT integer prefix
    * frequency by one broadcast scalar total, so no double-sum ordering
    * can flip the 6 dp rounding. */
  def vocabCoverage(docs: DataFrame, topK: Int = 20): DataFrame = {
    require(topK > 0, "topK must be positive")
    val vocab = vocabulary(docs)
    // corpus token total: one scalar aggregation over the cached
    // vocabulary-sized counts frame, broadcast back
    val total = vocab.agg(sum(col("term_freq")).as("_vc_total"))
    val top = vocab
      .orderBy(col("term_freq").desc, col("token").asc)
      .limit(topK)
      .select(col("token"), col("term_freq"))
    val peers = top.select(col("token").as("_vc_t"), col("term_freq").as("_vc_f"))
    // each row pairs with every row at-or-before it in the (freq desc,
    // token asc) total order: rank = predecessor count, cumulative
    // frequency = predecessor sum — the top-K set is prefix-closed under
    // this order, so staying inside the K frame loses nothing
    top.join(broadcast(peers),
        col("_vc_f") > col("term_freq") ||
          (col("_vc_f") === col("term_freq") && col("_vc_t") <= col("token")))
      .groupBy(col("token"), col("term_freq"))
      .agg(count(lit(1)).as("rank"), sum(col("_vc_f")).as("_vc_cumf"))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("term_freq"),
        round(col("_vc_cumf").cast(DoubleType) / col("_vc_total"), 6)
          .as("cum_share"))
  }

  // ---- n-gram language models ----
  //
  // The LM family (CCNet's perplexity proxy, DSIR importance scoring and
  // the persisted [[LmIndex]]) runs every order through one core:
  // [[gramStream]] tokenises and shingles once at any set of orders,
  // [[ngramCounts]] counts it, [[ngramStatsFromCounts]] normalises per
  // context, [[backoffScore]] scores documents under stupid-backoff
  // model chains, and [[quartileCuts]]/[[bucketBy]] split the scores
  // head/middle/tail. The per-order entry points only fix an order, its
  // defaults and its output columns ([[scoreCols]]).

  /** The one tokenise-and-shingle pass of the LM family: each document's
    * text tokenised once, through a Generate barrier (see
    * [[NearDup.shinglesOf]]), then shingled at every order in `orders`,
    * one row per gram. `keys` (doc_id, a language, a group predicate)
    * ride the projection instead of being re-joined on afterwards, which
    * would cost a corpus-sized exchange. One order gives
    * `(keys…, gram)`; several give `(keys…, k, gram)`. */
  private def gramStream(docs: DataFrame, orders: Seq[Int],
                         keys: Seq[Column]): DataFrame = {
    require(orders.nonEmpty && orders.forall(k => k >= 2 && k <= 8),
      s"orders must be in [2, 8], got ${orders.mkString(", ")}")
    val toks = Parallel.fan(docs).select(
      keys :+ explode(array(split(normText(col("text")), " "))).as("toks"): _*)
    val kept = toks.columns.toSeq.init.map(col)
    def shingles(k: Int): Column = NearDup.shinglesOf(col("toks"), k = k,
      distinct = false, wholeDocFallback = false)
    if (orders.size == 1)
      toks.select(kept :+ explode(array(shingles(orders.head))).as("_gs"): _*)
        .select(kept :+ explode(col("_gs")).as("gram"): _*)
    else
      toks.select(kept :+ explode(concat(orders.sorted.map(k => transform(
          shingles(k), g => struct(lit(k).as("k"), g.as("gram")))): _*)).as("_kg"): _*)
        .select(kept :+ col("_kg.k").as("k") :+ col("_kg.gram").as("gram"): _*)
  }

  /** `df` with its `gram` column split, in place, into words `w1..wk`. */
  private def splitGram(df: DataFrame, k: Int): DataFrame =
    df.select(df.columns.toSeq.flatMap(c =>
      if (c == "gram") (1 to k).map(i => element_at(split(col("gram"), " "), i).as(s"w$i"))
      else Seq(col(c))): _*)

  /** UNPRUNED gram counts of every order in `orders` from ONE corpus
    * tokenisation, grouped by `keys` too: `(keys…, w1..wk, n)` for one
    * order, `(keys…, k, gram, n)` for several (sliced by
    * [[ngramCountsOf]]). Counts are ADDITIVE — two corpora's frames
    * union+sum to the concatenated corpus's counts exactly, which is what
    * makes [[LmIndex.merge]] an exact incremental retrain. The shuffle
    * carries one row per distinct (keys, k, gram) per partition after
    * map-side combine, never the corpus token stream; training several
    * orders costs one corpus scan, not one per order (at 100 TB the scan
    * dominates; Brants et al. 2007 train orders together for the same
    * reason). */
  def ngramCounts(docs: DataFrame, orders: Seq[Int],
                  keys: Seq[Column] = Nil): DataFrame = {
    val grams = gramStream(docs, orders, keys)
    val counts = grams.groupBy(grams.columns.toSeq.map(col): _*)
      .agg(count(lit(1)).as("n"))
    if (orders.size == 1) splitGram(counts, orders.head) else counts
  }

  /** The order-`k` slice of a multi-order [[ngramCounts]] frame, split
    * into word columns `(keys…, w1..wk, n)`. */
  private def ngramCountsOf(kg: DataFrame, k: Int): DataFrame =
    splitGram(kg.filter(col("k") === k).drop("k"), k)

  /** Each order's count layer `k -> (w1..wk, n)`, in `orders`' order, from
    * one tokenisation. Several orders share one cached
    * gram-vocabulary-sized count frame (a construction-time job), so each
    * slice reads it instead of re-scanning the corpus. */
  private[ops] def countLayers(docs: DataFrame,
                               orders: Seq[Int]): Seq[(Int, DataFrame)] =
    if (orders.size == 1) Seq(orders.head -> ngramCounts(docs, orders))
    else {
      val kg = ngramCounts(docs, orders)
      Caching.ensureCached(kg)
      orders.map(k => k -> ngramCountsOf(kg, k))
    }

  /** Context-normalised stats over a count frame `(w1..wk, n)`:
    * `P(wk | w1..wk-1) = n / Σ_w c(w1..wk-1 w)`, the context totals over
    * ALL continuations, THEN the `minCount` prune — so probabilities stay
    * normalised per context. The totals aggregate the already-aggregated
    * count frame (gram-vocabulary-sized, never the corpus). Output
    * `(w1..wk, n, p_cond)`, `p_cond` rounded to 6 dp. */
  def ngramStatsFromCounts(counts: DataFrame, k: Int,
                           minCount: Long): DataFrame =
    prunedWithTotals(counts, k, minCount).select((1 to k).map(i => col(s"w$i")) ++
      Seq(col("n"), round(col("n").cast(DoubleType) / col("_tot"), 6).as("p_cond")): _*)

  /** [[ngramStatsFromCounts]] at order 2 with the 6 dp probability rounded
    * in EXACT INTEGER MICROS: `p_micro = (2n·10⁶ + tot) div 2tot` (half
    * away from zero in pure Long arithmetic), then ONE division of
    * identical values into a double. The double path hits real
    * boundaries: a continuation total of 640 = 2⁷·5 puts every
    * odd-count bigram's n/640 exactly on the .5e-6 round boundary,
    * where Spark (shortest-decimal BigDecimal HALF_UP) and DuckDB
    * resolve differently — observed splitting q_ccnet_dispatch's `es`
    * model at sf0.1. The per-language dispatch uses this variant; the
    * single-model path keeps its double rounding (no boundary value has
    * appeared in its distribution, and switching it would churn the
    * whole LM family's gates for no observed defect). */
  def statsFromCountsExact(counts: DataFrame, minCount: Long = 5): DataFrame =
    prunedWithTotals(counts, 2, minCount)
      .withColumn("_pm", expr("(n * 2000000 + _tot) div (_tot * 2)"))
      .select(col("w1"), col("w2"), col("n"),
        (col("_pm").cast(DoubleType) / lit(1000000.0)).as("p_cond"))

  /** The count rows at or above `minCount`, each with its context total
    * `_tot` over all continuations (pruned AFTER the totals). */
  private def prunedWithTotals(counts: DataFrame, k: Int,
                               minCount: Long): DataFrame = {
    require(k >= 2, s"order must be at least 2, got $k")
    val ctx = (1 until k).map(i => s"w$i")
    counts.join(counts.groupBy(ctx.map(col): _*).agg(sum(col("n")).as("_tot")), ctx)
      .filter(col("n") >= minCount)
  }

  /** Stats for each order in `orders`, pruned at the paired `minCounts`,
    * trained on `docs` from one tokenisation. Every count layer is cached
    * (gram-vocabulary-sized) and materialised in one construction-time
    * job: each layer feeds both its stats join and its context totals,
    * which would otherwise re-tokenise the corpus once each (no exchange
    * reuse across the two subtrees). Plan-only callers pay the job too;
    * the caches live until the ContextCleaner GCs them, so loop callers
    * should clearCache() between batches. */
  private def trainModels(docs: DataFrame, orders: Seq[Int],
                          minCounts: Seq[Long]): Seq[DataFrame] = {
    val layers = countLayers(docs, orders)
    // one job for every layer's cache (r16): separate count() jobs paid
    // ~0.2 s of submission each, and an A/B read dropping the layer
    // caches (stats re-filtering the shared frame per consumer) 0.5 s
    // SLOWER on the order-5 family
    Caching.ensureCachedAll(layers.map(_._2))
    layers.zip(minCounts).map { case ((k, c), m) => ngramStatsFromCounts(c, k, m) }
  }

  /** Corpus bigram language-model statistics `(w1, w2, n, p_cond)` with
    * `P(w2 | w1) = c(w1 w2) / Σ_w c(w1 w)` for every bigram occurring at
    * least `minCount` times — the KenLM-style corpus-stats primitive
    * (fluency scoring, domain drift, generation-artifact detection). */
  def bigramLm(docs: DataFrame, minCount: Long = 5): DataFrame =
    trainModels(docs, Seq(2), Seq(minCount)).head

  /** [[bigramLm]] at order 3: `(w1, w2, w3, n, p_cond)` with
    * `P(w3 | w1 w2)` (production CCNet-lineage filtering scores under
    * higher-order KenLM models; bigrams saturate on short-range
    * structure). */
  def trigramLm(docs: DataFrame, minCount: Long = 5): DataFrame =
    trainModels(docs, Seq(3), Seq(minCount)).head

  /** Each order's score columns: (gram count, mean log-probability). */
  private[ops] def scoreCols(k: Int): (String, String) = k match {
    case 2 => ("n_bigrams", "avg_logp")
    case 3 => ("n_trigrams", "avg_logp3")
    case _ => (s"n_${k}grams", s"avg_logp$k")
  }

  private def requireExactUnk(unkLogP: Double): Unit =
    require(math.abs(unkLogP * 1e9 - math.round(unkLogP * 1e9)) < 1e-6,
      "unkLogP must have at most 9 decimal places (decimal-exact term)")

  /** The stupid-backoff log-probability term (Brants et al. 2007 — the
    * scheme production web-scale LMs use precisely because its scores
    * need no discounting renormalisation, so the whole chain replays in
    * exact SQL) over the probabilities `ps` of a model chain, highest
    * order first: the first model that knows the gram scores
    * `ln(α^j · p_j)` (the oldest context word dropped per hop), with the
    * α products nested right (`α·(α·p)`) so the double arithmetic replays
    * term for term; a gram no model knows pays `unkLogP`. The term rounds
    * to 9 dp as an exact decimal, so its sums are order-independent. */
  private def backoffTerm(ps: Seq[Column], alpha: Double, unkLogP: Double): Column =
    coalesce(ps.zipWithIndex.map { case (p, j) =>
      round(log((1 to j).foldLeft(p)((acc, _) => lit(alpha) * acc)), 9)
    } :+ lit(unkLogP): _*).cast(DecimalType(28, 9))

  /** The per-document score aggregate of the LM family. Each of `sides`
    * is a model chain (`p_cond` stats frames, highest order k first,
    * ending at bigrams) named by its mean column. The document order-k
    * gram stream left-joins every model on the gram's last words — the
    * frames are gram-vocabulary-sized and broadcast when small, so the
    * corpus stream never shuffles — then ONE aggregation on doc_id counts
    * the grams (`nCol`) and sums each side's [[backoffTerm]] as exact
    * decimals; each mean rounds to 6 dp.
    *
    * Batch output keeps every document: one with fewer than k tokens
    * scores 0 over 0 grams through a join back to `docs`. On a streaming
    * frame the joins are stream-static and the aggregation needs an
    * update/complete sink; the join-back (a stream-stream join after an
    * aggregation) is skipped, so streaming output carries only documents
    * with at least one gram — spec-pinned equal to the batch rows for
    * those documents. */
  private def backoffScore(docs: DataFrame, nCol: String,
                           sides: Seq[(String, Seq[DataFrame])],
                           alpha: Double, unkLogP: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    requireExactUnk(unkLogP)
    val k = sides.head._2.size + 1
    def p(s: Int, j: Int): String = s"_p${k - j}_$s"
    val grams = splitGram(gramStream(docs, Seq(k), Seq(col("doc_id"))), k)
    // model j (order k - j) matches the gram's last k - j words
    val joined = sides.zipWithIndex.foldLeft(grams) { case (acc, ((_, models), s)) =>
      models.zipWithIndex.foldLeft(acc) { case (a, (m, j)) =>
        a.join(m.select((1 to k - j).map(i => col(s"w$i").as(s"w${i + j}")) :+
          col("p_cond").as(p(s, j)): _*), (j + 1 to k).map(i => s"w$i"), "left")
      }
    }
    val agg = joined
      .select(col("doc_id") +: sides.zipWithIndex.map { case ((_, models), s) =>
        backoffTerm(models.indices.map(j => col(p(s, j))), alpha, unkLogP).as(s"_l$s")
      }: _*)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as(nCol), sides.indices.map(s => sum(col(s"_l$s")).as(s"_s$s")): _*)
    def mean(s: Int): Column = round(col(s"_s$s").cast(DoubleType) / col(nCol), 6)
    val names = sides.map(_._1)
    if (docs.isStreaming)
      agg.select(col("doc_id") +: col(nCol) +: names.indices.map(s => mean(s).as(names(s))): _*)
    else {
      val n = coalesce(col(nCol), lit(0L))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id") +: n.as(nCol) +: names.indices.map(s =>
          when(n > 0, mean(s)).otherwise(lit(0.0)).as(names(s))): _*)
    }
  }

  /** Stupid-backoff scoring under one model chain (highest order first):
    * `(doc_id, n_Kgrams, avg_logpK)` in [[scoreCols]]' names. */
  private[ops] def lmScoreOf(docs: DataFrame, models: Seq[DataFrame],
                             alpha: Double, unkLogP: Double): DataFrame = {
    val (n, avg) = scoreCols(models.size + 1)
    backoffScore(docs, n, Seq(avg -> models), alpha, unkLogP)
  }

  /** CCNet-style corpus-LM document scoring: every document's mean bigram
    * conditional log-probability under the CORPUS bigram model
    * ([[bigramLm]]) — the perplexity-proxy signal CCNet buckets corpora
    * by (head/middle/tail). High (less negative) `avg_logp` = the
    * document reads like the corpus; very low = noise/garble; suspiciously
    * high = boilerplate repetition. Bigrams the model pruned contribute
    * the fixed `unkLogP` penalty (at most 9 dp). Output
    * `(doc_id, n_bigrams, avg_logp)`; see [[backoffScore]] for the
    * determinism, scale and streaming contract. */
  def lmScore(docs: DataFrame, minCount: Long = 5,
              unkLogP: Double = -10.0): DataFrame =
    lmScoreWith(docs, bigramLm(docs, minCount), unkLogP)

  /** [[lmScore]] against an EXTERNAL reference model — CCNet's actual
    * design: the bigram stats come from a curated reference corpus
    * (their Wikipedia-trained LM), not from the corpus being scored, so
    * "reads like the reference" is the signal rather than "reads like
    * itself". `stats` is any `(w1, w2, p_cond)` frame ([[bigramLm]]
    * output, typically an [[LmIndex]]). */
  def lmScoreWith(docs: DataFrame, stats: DataFrame,
                  unkLogP: Double = -10.0): DataFrame =
    lmScoreOf(docs, Seq(stats), 1.0, unkLogP)

  /** Stupid-backoff trigram scoring against EXTERNAL reference models:
    * each document trigram scores `ln P(w3|w1 w2)` when the trigram
    * survives the reference model's prune, else `ln(α·P(w3|w2))` from the
    * bigram model, else `unkLogP`. `triStats` is a `(w1, w2, w3, p_cond)`
    * frame ([[trigramLm]]), `biStats` a `(w1, w2, p_cond)` frame —
    * typically both from one [[LmIndex]] artifact. Output
    * `(doc_id, n_trigrams, avg_logp3)`. */
  def lmScore3With(docs: DataFrame, triStats: DataFrame, biStats: DataFrame,
                   alpha: Double = 0.4, unkLogP: Double = -10.0): DataFrame =
    lmScoreOf(docs, Seq(triStats, biStats), alpha, unkLogP)

  /** [[lmScore3With]] at the order production web-scale LMs run (KenLM's
    * default and the CCNet filtering order is 5): a 5-gram scores
    * `ln P(w5|w1..w4)`, else backs off through the 4-gram, trigram and
    * bigram models, each hop multiplying α once, else `unkLogP`. The
    * stats frames come from [[ngramStatsFromCounts]], typically an
    * [[LmIndex]] v3 artifact. Output `(doc_id, n_5grams, avg_logp5)`. */
  def lmScore5With(docs: DataFrame, stats5: DataFrame, stats4: DataFrame,
                   triStats: DataFrame, biStats: DataFrame,
                   alpha: Double = 0.4, unkLogP: Double = -10.0): DataFrame =
    lmScoreOf(docs, Seq(stats5, stats4, triStats, biStats), alpha, unkLogP)

  /** Self-scored [[lmScore3With]]: both backoff models train on the
    * corpus being scored, from ONE shared tokenisation, so the corpus is
    * scanned twice in total (train + the scoring stream). The trigram
    * prune is LOWER than the bigram's by default (trigram counts thin out
    * an order of magnitude faster). Production scoring goes through
    * [[LmIndex.score3]] against a persisted reference model. */
  def lmScore3(docs: DataFrame, minCountTri: Long = 3, minCountBi: Long = 5,
               alpha: Double = 0.4, unkLogP: Double = -10.0): DataFrame =
    lmScoreOf(docs, trainModels(docs, Seq(3, 2), Seq(minCountTri, minCountBi)),
      alpha, unkLogP)

  /** Self-scored [[lmScore5With]] ([[lmScore3]]'s posture at order 5):
    * all four backoff models from one shared tokenisation; default
    * prunes thin with order. Production scoring goes through
    * [[LmIndex.score5]]. */
  def lmScore5(docs: DataFrame, minCount5: Long = 2, minCount4: Long = 2,
               minCountTri: Long = 3, minCountBi: Long = 5,
               alpha: Double = 0.4, unkLogP: Double = -10.0): DataFrame =
    lmScoreOf(docs, trainModels(docs, 5 to 2 by -1,
      Seq(minCount5, minCount4, minCountTri, minCountBi)), alpha, unkLogP)

  /** KEY-DISPATCHED LM scoring — [[lmScoreWith]] where `stats` carries
    * one model PER KEY (`(keyCol, w1, w2, p_cond)` — e.g. one bigram LM
    * per language, [[LmIndex.scoreByLang]]'s engine): each document's
    * bigrams join THEIR OWN model on `(key, w1, w2)`, so the whole
    * multi-model dispatch is ONE corpus pass + ONE join + ONE
    * aggregation — never a per-model corpus scan, and (unlike a union
    * of per-model scorings) still a single streaming aggregation, so a
    * streaming `docs` frame scores per micro-batch under the
    * [[lmScoreWith]] contract. Documents whose key has no model rows
    * (an unmodeled language, or a null key) score all-unk — the loudest
    * value an LM can emit, and visible as `avg_logp == unkLogP`.
    * Output `(doc_id, keyCol, n_bigrams, avg_logp)`; the batch branch
    * keeps bigram-less documents with `(0, 0.0)` like [[lmScoreWith]]. */
  def lmScoreByKeyWith(docs: DataFrame, stats: DataFrame, keyCol: String,
                       unkLogP: Double = -10.0): DataFrame = {
    requireExactUnk(unkLogP)
    val agg = splitGram(gramStream(docs, Seq(2), Seq(col("doc_id"), col(keyCol))), 2)
      .join(stats.select(col(keyCol), col("w1"), col("w2"), col("p_cond")),
        Seq(keyCol, "w1", "w2"), "left")
      .select(col("doc_id"), col(keyCol),
        backoffTerm(Seq(col("p_cond")), 1.0, unkLogP).as("_lp"))
      .groupBy(col("doc_id"), col(keyCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_lp")).as("_s"))
      // the 6 dp mean is rounded in EXACT INTEGER MICROS, not through a
      // double division: `_s` is an exact multiple of 1e-9, and the
      // per-language sums land on exact .5e-6 quotient boundaries
      // routinely (small neat models) — where a double `round(s/n, 6)`
      // resolves by the engine's libm luck and DID split Spark from
      // DuckDB at sf0.1. `(2a + d) div 2d` is half-away-from-zero in
      // pure Long arithmetic, identical everywhere; the final /1e6 is
      // one IEEE division of identical inputs.
      .withColumn("_sn", (col("_s") * lit(1000000000L)).cast(LongType))
      .withColumn("_d", col("n_bigrams") * lit(1000L))
      .withColumn("avg_logp",
        when(col("_sn") >= 0,
          expr("(_sn * 2 + _d) div (_d * 2)"))
          .otherwise(-expr("((0 - _sn) * 2 + _d) div (_d * 2)"))
          .cast(DoubleType) / lit(1000000.0))
    if (docs.isStreaming)
      agg.select(col("doc_id"), col(keyCol), col("n_bigrams"), col("avg_logp"))
    else {
      // null-SAFE key equality: a null-key document's all-unk aggregate
      // row must rejoin its input row, not silently drop to (0, 0.0)
      val a = agg.withColumnRenamed("doc_id", "_a_id")
        .withColumnRenamed(keyCol, "_a_key")
      docs.select(col("doc_id"), col(keyCol))
        .join(a, col("doc_id") === col("_a_id") &&
          col(keyCol) <=> col("_a_key"), "left")
        .select(col("doc_id"), col(keyCol),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          when(coalesce(col("n_bigrams"), lit(0L)) > 0, col("avg_logp"))
            .otherwise(lit(0.0)).as("avg_logp"))
    }
  }

  /** Both DSIR sides' model chains (orders highest first) from ONE corpus
    * tokenisation: counts keyed by a group predicate (`true` = target
    * member), cached at gram-vocabulary size, then split into the target
    * models (rows where the predicate held) and the raw models (counts
    * summed over both groups — exactly the whole corpus's counts, since
    * the groups partition it). Identical stats to training every model
    * separately, from one corpus pass. */
  private def dsirModelsOf(docs: DataFrame, targetPred: Column, orders: Seq[Int],
                           minTarget: Seq[Long], minRaw: Seq[Long])
      : (Seq[DataFrame], Seq[DataFrame]) = {
    val grouped = ngramCounts(docs, orders, Seq(targetPred.as("_tgt")))
    // one consumer per model, vocab-sized: count the corpus once
    Caching.ensureCached(grouped)
    def side(counts: DataFrame, minCounts: Seq[Long]): Seq[DataFrame] =
      orders.zip(minCounts).map { case (k, m) => ngramStatsFromCounts(
        if (orders.size == 1) counts else ngramCountsOf(counts, k), k, m) }
    val grams = grouped.columns.toSeq.filterNot(Set("_tgt", "n")).map(col)
    (side(grouped.filter(col("_tgt")).drop("_tgt"), minTarget),
      side(grouped.groupBy(grams: _*).agg(sum(col("n")).as("n")), minRaw))
  }

  /** Both DSIR bigram models `(target, raw)` — [[bigramLm]] on the rows
    * where `targetPred` holds and on the whole corpus — from one corpus
    * tokenisation. */
  def dsirModels(docs: DataFrame, targetPred: Column,
                 minCountTarget: Long = 2,
                 minCountRaw: Long = 5): (DataFrame, DataFrame) = {
    val (t, r) = dsirModelsOf(docs, targetPred, Seq(2),
      Seq(minCountTarget), Seq(minCountRaw))
    (t.head, r.head)
  }

  /** All four DSIR order-3 models `(target tri, target bi, raw tri,
    * raw bi)` from one corpus tokenisation, so [[dsirScore3]] can
    * stupid-backoff under each side. */
  def dsirModels3(docs: DataFrame, targetPred: Column,
                  minCountTriTarget: Long = 2, minCountBiTarget: Long = 2,
                  minCountTriRaw: Long = 3, minCountBiRaw: Long = 5)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (t, r) = dsirModelsOf(docs, targetPred, Seq(3, 2),
      Seq(minCountTriTarget, minCountBiTarget), Seq(minCountTriRaw, minCountBiRaw))
    (t(0), t(1), r(0), r(1))
  }

  /** DSIR scoring under a target and a raw model chain:
    * `(doc_id, n_Kgrams, avg_logp_target, avg_logp_raw, log_ratio)`. */
  private def dsirScoreOf(docs: DataFrame, target: Seq[DataFrame],
                          raw: Seq[DataFrame], alpha: Double,
                          unkLogP: Double): DataFrame =
    backoffScore(docs, scoreCols(target.size + 1)._1,
      Seq("avg_logp_target" -> target, "avg_logp_raw" -> raw), alpha, unkLogP)
      // log_ratio is the difference of the two ROUNDED means, re-rounded:
      // a mean-of-differences spelling can land exactly on a 6 dp rounding
      // boundary and flip the last digit between engines (observed at
      // sf0.1), whereas the difference of two 1e-6 multiples never sits on
      // one — and the value becomes an exact function of the other two
      // output columns
      .withColumn("log_ratio", round(col("avg_logp_target") - col("avg_logp_raw"), 6))

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): every document's mean
    * bigram log-likelihood under a TARGET reference model minus its mean
    * under the RAW corpus model — `log_ratio > 0` reads "more like the
    * target than the background", the signal importance resampling
    * weights by. Both stats frames are [[bigramLm]] output ([[dsirModels]]
    * or [[LmIndex]] artifacts); bigrams unknown to a model pay that
    * model's `unkLogP`. One tokenisation pass: the shared bigram stream
    * joins both vocab-sized models before a single per-doc aggregation
    * ([[backoffScore]]'s contract, streaming included). To complete the
    * DSIR pipeline, quantize `exp(log_ratio)` to integer weights and feed
    * [[Curate.weightedSample]]. Output `(doc_id, n_bigrams,
    * avg_logp_target, avg_logp_raw, log_ratio)`. */
  def dsirScore(docs: DataFrame, targetStats: DataFrame, rawStats: DataFrame,
                unkLogP: Double = -10.0): DataFrame =
    dsirScoreOf(docs, Seq(targetStats), Seq(rawStats), 1.0, unkLogP)

  /** [[dsirScore]] under the ORDER-3 backoff score: each side backs off
    * trigram → α-discounted bigram → `unkLogP`, over the shared trigram
    * stream. Output `(doc_id, n_trigrams, avg_logp_target, avg_logp_raw,
    * log_ratio)`. */
  def dsirScore3(docs: DataFrame, targetTri: DataFrame, targetBi: DataFrame,
                 rawTri: DataFrame, rawBi: DataFrame,
                 alpha: Double = 0.4, unkLogP: Double = -10.0): DataFrame =
    dsirScoreOf(docs, Seq(targetTri, targetBi), Seq(rawTri, rawBi), alpha, unkLogP)

  /** The quartile cut points `(_p25, _p75)` of order-`k` scores over the
    * scorable documents, each rounded to 6 dp — one scalar aggregation,
    * no sort, no window over the corpus. Quartiles, not CCNet's
    * terciles: quarter fractions interpolate engine-exactly (the
    * [[graft.ops.Stats]] determinism contract — a third is not an exact
    * binary fraction, so a tercile cut could differ in its last ulp
    * between engines and flip boundary documents). */
  private[ops] def quartileCuts(scores: DataFrame, k: Int): DataFrame = {
    val (n, avg) = scoreCols(k)
    scores.filter(col(n) > 0)
      .agg(round(percentile(col(avg), lit(0.25)), 6).as("_p25"),
        round(percentile(col(avg), lit(0.75)), 6).as("_p75"))
  }

  /** Order-`k` scores bucketed head (at or above `p75`), middle (at or
    * above `p25`), tail, or `unscored` (no gram):
    * `(doc_id, n_Kgrams, avg_logpK, bucket)`. */
  private[ops] def bucketBy(scores: DataFrame, k: Int, p25: Column,
                            p75: Column): DataFrame = {
    val (n, avg) = scoreCols(k)
    scores
      .withColumn("bucket",
        when(col(n) === 0, lit("unscored"))
          .when(col(avg) >= p75, lit("head"))
          .when(col(avg) >= p25, lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col(n), col(avg), col("bucket"))
  }

  /** Order-`k` scores bucketed against their own quartile cuts, broadcast
    * back as one row. */
  private def selfBuckets(scores: DataFrame, k: Int): DataFrame =
    bucketBy(scores.crossJoin(broadcast(quartileCuts(scores, k))), k,
      col("_p25"), col("_p75"))

  /** CCNet's corpus partitioning completed: bucket every document
    * head / middle / tail by its [[lmScore]] quartile (head = most
    * reference-like); documents with no scorable bigram land in
    * `unscored`. */
  def perplexityBuckets(docs: DataFrame, minCount: Long = 5,
                        unkLogP: Double = -10.0): DataFrame =
    selfBuckets(lmScore(docs, minCount, unkLogP), 2)

  /** [[perplexityBuckets]] under the ORDER-3 backoff score
    * ([[lmScore3]]); the self-calibrated batch twin of
    * [[LmIndex.bucket3]] (spec-pinned equal when the artifact is trained
    * and calibrated on the same corpus at the same prunes). */
  def perplexityBuckets3(docs: DataFrame, minCountTri: Long = 3,
                         minCountBi: Long = 5, alpha: Double = 0.4,
                         unkLogP: Double = -10.0): DataFrame =
    selfBuckets(lmScore3(docs, minCountTri, minCountBi, alpha, unkLogP), 3)

  /** [[perplexityBuckets]] under the ORDER-5 backoff score
    * ([[lmScore5]]); the self-calibrated batch twin of
    * [[LmIndex.bucket5]]. */
  def perplexityBuckets5(docs: DataFrame, minCount5: Long = 2,
                         minCount4: Long = 2, minCountTri: Long = 3,
                         minCountBi: Long = 5, alpha: Double = 0.4,
                         unkLogP: Double = -10.0): DataFrame =
    selfBuckets(lmScore5(docs, minCount5, minCount4, minCountTri,
      minCountBi, alpha, unkLogP), 5)

  /** Per-document unigram token entropy in bits (`H = log2 n − Σ c·ln c /
    * (n·ln 2)`) plus token counts — low entropy flags repetitive/templated
    * text, high entropy flags noise; a standard quality-filter signal.
    *
    * Determinism: the Σ c·ln c term is summed as exact decimals (each
    * token's contribution rounded to 9 dp first) — a plain double sum
    * varies with partition merge order and would make a hash gate flaky.
    * ln 2 is a literal constant so engines can't disagree on it. */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    // NOT fanned (r16): tokenise-then-aggregate is shuffle-bound, not
    // map-bound — an interleaved A/B read the fanned shape 46% slower
    val toks = docs.select(col("doc_id"),
      explode(split(normText(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val agg = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(round(col("c").cast(DoubleType) * log(col("c").cast(DoubleType)), 9)
          .cast(DecimalType(28, 9))).as("_s"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          round((log(col("n_tokens").cast(DoubleType))
            - col("_s").cast(DoubleType) / col("n_tokens"))
            / lit(0.6931471805599453), 6))
          .otherwise(lit(0.0)).as("entropy"))
  }

  /** Truncate each document to its first `maxTokens` whitespace tokens
    * (context-length preparation) — a pure projection over the token
    * array: whole tokens only, case and token content preserved (only
    * inter-token whitespace collapses to single spaces), plus the
    * kept-token count. Empty tokens are filtered BEFORE the slice so
    * leading whitespace never consumes a budget slot. Null text follows
    * the family's empty-doc contract (matching [[windowChunks]]): empty
    * string out, 0 tokens kept — split(null) would otherwise propagate
    * null into both output columns. */
  def truncateTokens(docs: DataFrame, maxTokens: Int,
                     textCol: String = "text"): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    docs
      .withColumn("_tt_toks",
        explode(array(split(coalesce(col(textCol), lit("")), "\\s+"))))
      .withColumn("_tt_kept",
        slice(filter(col("_tt_toks"), t => length(t) > 0), 1, maxTokens))
      .withColumn("n_tokens_kept", size(col("_tt_kept")).cast(LongType))
      .withColumn(textCol, array_join(col("_tt_kept"), " "))
      .drop("_tt_toks", "_tt_kept")
  }

  /** Overlapping context-window chunking — the DUAL of
    * [[graft.ops.Curate.packChunks]]: instead of packing short documents
    * into a budget, split LONG documents into `maxTokens`-token windows
    * advancing by `maxTokens − overlap` tokens, so every token appears in
    * ≥ 1 window and window boundaries share `overlap` tokens of context
    * (the standard long-document preparation for fixed-context models).
    * [[truncateTokens]] is the degenerate keep-first-window-only case.
    *
    * Pure projection + one Generate per doc — no shuffle; the window
    * count is EXACT integer arithmetic (`1 + (n − max + stride − 1) div
    * stride`), so an oracle replicates it with no float ceil. Output rows
    * `(…, window_idx, n_tokens, chunk_text)`; the final window may be
    * shorter, an empty/null document yields one empty window (total, like
    * truncate). */
  def windowChunks(docs: DataFrame, maxTokens: Int, overlap: Int = 0,
                   textCol: String = "text"): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(overlap >= 0 && overlap < maxTokens,
      "overlap must be in [0, maxTokens)")
    val stride = maxTokens - overlap
    docs
      .withColumn("_wc_toks",
        explode(array(filter(split(coalesce(col(textCol), lit("")), "\\s+"),
          t => length(t) > 0))))
      .withColumn("_wc_n", size(col("_wc_toks")))
      .withColumn("_wc_w",
        when(col("_wc_n") <= maxTokens, lit(1))
          .otherwise(lit(1) + expr(s"(_wc_n - $maxTokens + ${stride - 1}) div $stride")
            .cast(IntegerType)))
      .withColumn("window_idx", explode(sequence(lit(0), col("_wc_w") - 1)))
      .withColumn("n_tokens",
        least(lit(maxTokens), col("_wc_n") - col("window_idx") * stride)
          .cast(LongType))
      .withColumn("chunk_text",
        array_join(slice(col("_wc_toks"),
          col("window_idx") * stride + 1, lit(maxTokens)), " "))
      .drop("_wc_toks", "_wc_n", "_wc_w")
  }

  /** Per-source vocabulary drift: `KL(P_source ‖ P_corpus)` over unigram
    * token distributions, in nats — the mixture-monitoring signal that
    * flags a source whose language shifted away from (or dominates) the
    * corpus blend. 0 = indistinguishable from the corpus mix; every term
    * is non-negative-summed over the source's own support (P_corpus > 0
    * wherever P_source > 0 by construction, so the KL is always finite).
    *
    * Determinism: each term `p_s·ln(p_s/p_c)` is computed from EXACT
    * integer counts — the ratio inside the ln is one double division of
    * two exact int64 products, the ln rounds to 9 dp, the term to 9 dp —
    * then decimal-summed per source ([[tokenEntropy]]'s contract).
    * Scale shape: one (source, token) aggregation + a token-keyed join to
    * vocabulary-sized corpus counts + a per-source fold; the corpus text
    * is scanned once, nothing corpus-sized crosses the driver. */
  def vocabDrift(docs: DataFrame,
                 sourceCol: String = "source"): DataFrame = {
    val toks = docs.select(col(sourceCol).as("_vd_src"),
      explode(split(normText(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val st = toks.groupBy(col("_vd_src"), col("token"))
      .agg(count(lit(1)).as("c_st"))
    // persisted + eagerly materialised: corpus totals derive from the
    // same frame (vocabulary-sized cache, the TextOps.vocabulary pattern)
    Caching.ensureCached(st)
    val ct = st.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy(col("_vd_src")).agg(sum(col("c_st")).as("n_s"))
    val total = ct.agg(sum(col("c_t")).as("_n"))
    st.join(ct, Seq("token"))
      .join(ns, Seq("_vd_src"))
      .crossJoin(broadcast(total))
      .select(col("_vd_src"),
        col("n_s"),
        round((col("c_st").cast(DoubleType) / col("n_s")) *
          round(log((col("c_st") * col("_n")).cast(DoubleType) /
            (col("n_s") * col("c_t")).cast(DoubleType)), 9), 9)
          .cast(DecimalType(28, 9)).as("_term"))
      .groupBy(col("_vd_src"))
      .agg(first(col("n_s")).as("n_tokens"), sum(col("_term")).as("_kl"))
      .select(col("_vd_src").as(sourceCol), col("n_tokens"),
        round(col("_kl").cast(DoubleType), 6).as("kl_nats"))
  }

  def fingerprintCol(text: Column): Column = md5(normText(text))

  /** Duplicate-group summary: fingerprint, group size, canonical doc. */
  def fingerprintGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintCol(col("text")).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("group_size"), min(col("doc_id")).as("canonical_doc_id"))

  /** Pointwise-mutual-information collocations: bigrams whose observed
    * count exceeds what their margins predict —
    * `pmi = ln(c₁₂·N / (c₁·c₂))` over the corpus bigram stream (c₁/c₂
    * are the bigram-stream margins, so the three probabilities share one
    * normaliser exactly). The phrase-mining signal (`"new york"`,
    * `"machine learning"`) raw counts can't give: frequent-with-frequent
    * pairs score ~0, genuinely bound pairs score high.
    *
    * Determinism: products go through DECIMAL(38,0) (no long overflow at
    * any corpus size), ONE double division of the two exact products,
    * `ln`, round 6 — the vocab-drift ln-parity contract. `minCount`
    * prunes noise bigrams (PMI is famously unstable at c₁₂ = 1).
    * Scale shape: the LM family's order-2 [[ngramCounts]] (one corpus
    * tokenisation, one bigram-vocabulary-sized aggregation); margins and
    * the N total are aggregates OF the count frame — every join after the
    * first aggregation touches vocabulary-sized frames only. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5): DataFrame = {
    val d38 = DecimalType(38, 0)
    val bc = ngramCounts(docs, Seq(2))
    Caching.ensureCached(bc)
    val m1 = bc.groupBy(col("w1")).agg(sum(col("n")).as("_c1"))
    val m2 = bc.groupBy(col("w2")).agg(sum(col("n")).as("_c2"))
    val tot = bc.agg(sum(col("n")).as("_nn"))
    bc.filter(col("n") >= minCount)
      .join(m1, Seq("w1")).join(m2, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n"),
        round(log((col("n").cast(d38) * col("_nn").cast(d38)).cast(DoubleType) /
          (col("_c1").cast(d38) * col("_c2").cast(d38)).cast(DoubleType)), 6)
          .as("pmi"))
  }

  /** BM25 keyword retrieval: top-`k` documents for a bag of query terms
    * under the standard Okapi scoring —
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl))` with
    * `idf = ln((N − df + ½)/(df + ½) + 1)` — the relevance ranking the
    * TF-IDF projection (`q_tfidf`) doesn't provide, and the retrieval
    * primitive for eval-set mining / targeted corpus slicing. Terms are
    * [[bm25Terms]]; each row is one document, scored and counted in N
    * and df on its own (a repeated `doc_id` is not merged).
    *
    * Determinism: idf and each per-term score round to 9 dp and sum as
    * exact decimals (the lm-score contract); the final score rounds to
    * 6 dp and ranks with a doc_id tie-break. Scale shape: one projection
    * of the [[Parallel.fan]]ned docs gives each row's length and tfs; one
    * aggregate of it (N, Σdl, every df) is broadcast back as one row;
    * only matching rows are scored; the top-k is a TakeOrderedAndProject.
    * No join, no (doc, token) shuffle, no cache: 0 jobs to build, 5 to run. */
  def bm25Rank(docs: DataFrame, queryTerms: Seq[String], topK: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = bm25Terms(queryTerms)
    require(topK > 0, "topK must be positive")
    val norm = normText(col("text"))
    val ix = terms.indices
    val stats = Parallel.fan(docs).select(col("doc_id") +: tokenCount(norm).as("_dl") +:
      ix.map(i => bm25Tf(norm, terms(i)).as(s"_tf$i")): _*)
    val corpus = stats.agg(count(lit(1)).as("_nd"), sum(col("_dl")).as("_sl") +:
        ix.map(i => count_if(col(s"_tf$i") > 0).as(s"_df$i")): _*)
      .select((col("_sl").cast(DoubleType) / col("_nd")).as("_avgdl") +:
        ix.map(i => bm25Idf(col("_nd"), col(s"_df$i")).as(s"_idf$i")): _*)
    stats.filter(ix.map(i => col(s"_tf$i") > 0).reduce(_ || _))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), round(ix.map(i => bm25TermScore(col(s"_tf$i"), col(s"_idf$i"),
        col("_dl").cast(DoubleType), col("_avgdl"), k1, b)).reduce(_ + _)
        .cast(DoubleType), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(topK)
  }

  /** BM25 query terms, trimmed and lower-cased: distinct, each a single
    * non-empty token (a term holding whitespace never equals a token). */
  private[ops] def bm25Terms(queryTerms: Seq[String]): Seq[String] = {
    require(queryTerms.nonEmpty, "queryTerms must not be empty")
    val terms = queryTerms.map(_.trim.toLowerCase)
    require(terms.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      "query terms must be single non-empty tokens")
    require(terms.distinct.size == terms.size,
      "queryTerms must be distinct after normalisation")
    terms
  }

  /** `term`'s tf in [[normText]] output: its whole-token occurrences. */
  private[ops] def bm25Tf(norm: Column, term: String): Column =
    regexp_count(concat(lit(" "), norm, lit(" ")),
      lit("(?<= )" + java.util.regex.Pattern.quote(term) + "(?= )")).cast(LongType)

  /** Okapi idf of a term in `df` of `nd` documents (longs), 9 dp. */
  private[ops] def bm25Idf(nd: Column, df: Column): Column =
    round(log((nd.cast(DoubleType) - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0)), 9)

  /** One term's Okapi score, 9 dp, as DECIMAL(28,9) (exactly 0 at tf 0):
    * [[bm25Rank]] and [[BmIndex.score]] both score through it. */
  private[ops] def bm25TermScore(tf: Column, idf: Column, dl: Column,
                                 avgdl: Column, k1: Double, b: Double): Column =
    when(tf === 0, lit(0.0)).otherwise(round(idf * (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgdl)), 9)).cast(DecimalType(28, 9))

  /** Corpus duplication health summary — the one-row dashboard number
    * the dedup family feeds: exact-duplicate group structure as doc and
    * CHAR shares (docs beyond each group's canonical, and the redundant
    * bytes removing them reclaims). Deterministic canonical = lowest
    * doc_id (the `dedupExact` contract); shares 6 dp. One fingerprint
    * aggregation + one groups-sized fold — the same single shuffle as
    * `fingerprintGroups`. */
  def duplicationStats(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"), col("n_chars"),
      fingerprintCol(col("text")).as("fp"))
    val groups = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("_n"), sum(col("n_chars")).as("_chars"),
        min_by(col("n_chars"), col("doc_id")).as("_canon_chars"))
    groups.agg(
      sum(col("_n")).as("n_docs"),
      count(lit(1)).as("n_groups"),
      sum(col("_n") - 1).as("n_dup_docs"),
      sum(col("_chars")).as("n_chars"),
      sum(col("_chars") - col("_canon_chars")).as("n_redundant_chars"))
      .select(col("n_docs"), col("n_groups"), col("n_dup_docs"),
        round(col("n_dup_docs").cast(DoubleType) / col("n_docs"), 6)
          .as("dup_doc_share"),
        col("n_chars"), col("n_redundant_chars"),
        round(col("n_redundant_chars").cast(DoubleType) / col("n_chars"), 6)
          .as("redundant_char_share"))
  }

  /** Exact dedup: keep the minimum doc_id per fingerprint group. One
    * shuffle on the fingerprint (window), no join. */
  def dedupExact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fingerprint"))
    docs.withColumn("fingerprint", fingerprintCol(col("text")))
      .withColumn("min_doc", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("min_doc"))
      .select(col("doc_id"), col("lang"), col("source"), col("fingerprint"))
  }
}
