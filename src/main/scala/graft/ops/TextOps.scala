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

  /** Corpus bigram language-model statistics: count and conditional
    * probability `P(w2 | w1) = c(w1 w2) / Σ_w c(w1 w)` for every bigram
    * occurring at least `minCount` times — the KenLM-style corpus-stats
    * primitive (fluency scoring, domain drift, generation-artifact
    * detection) at whatever scale the corpus is.
    *
    * Scale shape: one tokenisation pass feeds a bigram-keyed count
    * (map-side combined — the shuffle carries one row per distinct bigram
    * per partition), the `w1` denominators are a second aggregation over
    * the already-aggregated bigram frame (vocabulary-sized, never the
    * corpus), and `minCount` filters AFTER the denominator join so
    * probabilities stay normalised over all continuations. */
  def bigramLm(docs: DataFrame, minCount: Long = 5): DataFrame = {
    val counts = bigramCounts(docs)
    // persisted + eagerly materialised (NOTE: building this frame runs the
    // corpus aggregation as a construction-time job — plan-only callers
    // pay it too): `counts` feeds both the output join
    // and the denominator aggregation — without this the plan re-tokenises
    // the whole corpus for each consumer (no exchange reuse across the two
    // subtrees). The cached frame is bigram-vocabulary-sized, not
    // corpus-sized. Cached until the ContextCleaner GCs it; loop callers
    // should clearCache() between batches.
    Caching.ensureCached(counts)
    statsFromCounts(counts, minCount)
  }

  /** The UNPRUNED bigram count frame `(w1, w2, n)` — [[bigramLm]]'s first
    * aggregation, exposed because counts (unlike pruned conditional
    * probabilities) are ADDITIVE: two corpora's count frames union+sum to
    * the combined corpus's counts exactly, which is what makes
    * [[LmIndex.merge]] an exact incremental retrain. */
  def bigramCounts(docs: DataFrame): DataFrame = {
    val bigrams = NearDup.shinglesOf(col("toks"), k = 2,
      distinct = false, wholeDocFallback = false)
    Parallel.fan(docs)
      .select(explode(array(split(normText(col("text")), " "))).as("toks"))
      .select(explode(array(bigrams)).as("bgs"))
      .select(explode(col("bgs")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .select(element_at(split(col("bigram"), " "), 1).as("w1"),
        element_at(split(col("bigram"), " "), 2).as("w2"), col("n"))
  }

  /** [[bigramCounts]] keyed by a dispatch column (e.g. a language
    * prediction): one tokenisation pass into a `(key, bigram)`-keyed
    * map-side-combined count — the shuffle carries one row per distinct
    * (key, gram) per partition, never the corpus. This is what lets
    * [[LmIndex.buildPerLang]] train EVERY language's model from a single
    * corpus scan instead of one filtered scan per language. Null keys
    * train nothing (dropped here, not downstream). */
  def bigramCountsByKey(docs: DataFrame, keyCol: String): DataFrame = {
    val bigrams = NearDup.shinglesOf(col("toks"), k = 2,
      distinct = false, wholeDocFallback = false)
    Parallel.fan(docs).filter(col(keyCol).isNotNull)
      .select(col(keyCol),
        explode(array(split(normText(col("text")), " "))).as("toks"))
      .select(col(keyCol), explode(array(bigrams)).as("bgs"))
      .select(col(keyCol), explode(col("bgs")).as("bigram"))
      .groupBy(col(keyCol), col("bigram")).agg(count(lit(1)).as("n"))
      .select(col(keyCol),
        element_at(split(col("bigram"), " "), 1).as("w1"),
        element_at(split(col("bigram"), " "), 2).as("w2"), col("n"))
  }

  /** [[statsFromCounts]] with the 6 dp conditional probability rounded
    * in EXACT INTEGER MICROS: `p_micro = (2n·10⁶ + tot) div 2tot` (half
    * away from zero in pure Long arithmetic), then ONE division of
    * identical values into a double. The double path hits real
    * boundaries: a continuation total of 640 = 2⁷·5 puts every
    * odd-count bigram's n/640 exactly on the .5e-6 round boundary,
    * where Spark (shortest-decimal BigDecimal HALF_UP) and DuckDB
    * resolve differently — observed splitting q_ccnet_dispatch's `es`
    * model at sf0.1. The per-language dispatch uses this variant; the
    * single-model [[statsFromCounts]] path keeps its 15-round-green
    * double behavior (no boundary value has ever appeared in its
    * distribution, and switching it would churn the whole LM family's
    * gates for no observed defect). */
  def statsFromCountsExact(counts: DataFrame, minCount: Long = 5): DataFrame = {
    val w1tot = counts.groupBy(col("w1")).agg(sum(col("n")).as("_tot"))
    counts.join(w1tot, Seq("w1"))
      .filter(col("n") >= minCount)
      .withColumn("_pm", expr("(n * 2000000 + _tot) div (_tot * 2)"))
      .select(col("w1"), col("w2"), col("n"),
        (col("_pm").cast(DoubleType) / lit(1000000.0)).as("p_cond"))
  }

  /** [[bigramLm]]'s stats tail over an existing count frame: denominators
    * over ALL continuations, THEN the `minCount` prune — probabilities
    * stay normalised exactly as in the one-shot path. */
  def statsFromCounts(counts: DataFrame, minCount: Long = 5): DataFrame = {
    val w1tot = counts.groupBy(col("w1")).agg(sum(col("n")).as("_tot"))
    counts.join(w1tot, Seq("w1"))
      .filter(col("n") >= minCount)
      .select(col("w1"), col("w2"), col("n"),
        round(col("n").cast(DoubleType) / col("_tot"), 6).as("p_cond"))
  }

  /** CCNet-style corpus-LM document scoring: every document's mean bigram
    * conditional log-probability under the CORPUS bigram model
    * ([[bigramLm]]) — the perplexity-proxy signal CCNet buckets corpora
    * by (head/middle/tail). High (less negative) `avg_logp` = the
    * document reads like the corpus; very low = noise/garble; suspiciously
    * high = boilerplate repetition. Bigrams the model pruned (below
    * `minCount`) contribute the fixed `unkLogP` penalty.
    *
    * Determinism contract mirrors [[tokenEntropy]]: each ln term is
    * rounded to 9 dp and summed as exact decimals — order-independent,
    * engine-reproducible — and the mean rounds to 6 dp. Scale shape: the
    * corpus bigram stream joins the (vocabulary-sized) stats frame on the
    * bigram key, then one per-doc aggregation; documents with < 2 tokens
    * score 0 with 0 bigrams. `unkLogP` must carry ≤ 9 dp. */
  def lmScore(docs: DataFrame, minCount: Long = 5,
              unkLogP: Double = -10.0): DataFrame =
    lmScoreWith(docs, bigramLm(docs, minCount), unkLogP)

  /** [[lmScore]] against an EXTERNAL reference model — CCNet's actual
    * design: the bigram stats come from a curated reference corpus
    * (their Wikipedia-trained LM), not from the corpus being scored, so
    * "reads like the reference" is the signal rather than "reads like
    * itself". `stats` is any `(w1, w2, p_cond)` frame ([[bigramLm]]
    * output, typically persisted from an offline pass).
    *
    * Streaming: on a streaming frame the per-bigram scoring join is
    * stream-static and the per-doc aggregation needs an update/complete
    * sink; the batch path's join-back (which surfaces sub-bigram
    * documents as 0-score rows) is a stream-stream join after an
    * aggregation and is therefore SKIPPED — streaming output carries
    * only documents that produced at least one bigram (spec-pinned equal
    * to the batch rows for those documents). */
  def lmScoreWith(docs: DataFrame, stats: DataFrame,
                  unkLogP: Double = -10.0): DataFrame = {
    require(math.abs(unkLogP * 1e9 - math.round(unkLogP * 1e9)) < 1e-6,
      "unkLogP must have at most 9 decimal places (decimal-exact term)")
    val agg = docBigrams(docs)
      .join(stats.select(col("w1"), col("w2"), col("p_cond")), Seq("w1", "w2"), "left")
      .select(col("doc_id"),
        coalesce(round(log(col("p_cond")), 9), lit(unkLogP))
          .cast(DecimalType(28, 9)).as("_lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_lp")).as("_s"))
    if (docs.isStreaming)
      agg.select(col("doc_id"), col("n_bigrams"),
        round(col("_s").cast(DoubleType) / col("n_bigrams"), 6).as("avg_logp"))
    else
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          when(coalesce(col("n_bigrams"), lit(0L)) > 0,
            round(col("_s").cast(DoubleType) / col("n_bigrams"), 6))
            .otherwise(lit(0.0)).as("avg_logp"))
  }

  /** The per-document bigram stream `(doc_id[, keep…], w1, w2)` every LM
    * scorer consumes — one tokenisation, one shingle pass, no
    * aggregation. `keep` columns (e.g. a language key) ride the
    * projection instead of being re-joined on afterwards, which would
    * cost a corpus-sized doc_id exchange. */
  private def docBigrams(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val bigrams = NearDup.shinglesOf(col("toks"), k = 2,
      distinct = false, wholeDocFallback = false)
    val kept = keep.map(col)
    Parallel.fan(docs)
      .select(col("doc_id") +: kept :+
        explode(array(split(normText(col("text")), " "))).as("toks"): _*)
      .select(col("doc_id") +: kept :+ explode(array(bigrams)).as("bgs"): _*)
      .select(col("doc_id") +: kept :+ explode(col("bgs")).as("bigram"): _*)
      .select(col("doc_id") +: kept :+
        element_at(split(col("bigram"), " "), 1).as("w1") :+
        element_at(split(col("bigram"), " "), 2).as("w2"): _*)
  }

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
    require(math.abs(unkLogP * 1e9 - math.round(unkLogP * 1e9)) < 1e-6,
      "unkLogP must have at most 9 decimal places (decimal-exact term)")
    val agg = docBigrams(docs, Seq(keyCol))
      .join(stats.select(col(keyCol), col("w1"), col("w2"), col("p_cond")),
        Seq(keyCol, "w1", "w2"), "left")
      .select(col("doc_id"), col(keyCol),
        coalesce(round(log(col("p_cond")), 9), lit(unkLogP))
          .cast(DecimalType(28, 9)).as("_lp"))
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

  /** The UNPRUNED trigram count frame `(w1, w2, w3, n)` — the order-3
    * layer of the corpus LM family. Like [[bigramCounts]], counts are
    * ADDITIVE (two corpora's frames union+sum to the concatenated
    * corpus's counts exactly), which is what lets [[LmIndex]]'s trigram
    * layer merge incrementally instead of re-scanning 100 TB per
    * refresh. Scale shape: one tokenisation pass into a trigram-keyed
    * count with map-side combine — the shuffle carries one row per
    * distinct trigram per partition, never the corpus. */
  def trigramCounts(docs: DataFrame): DataFrame = {
    val trigrams = NearDup.shinglesOf(col("toks"), k = 3,
      distinct = false, wholeDocFallback = false)
    Parallel.fan(docs)
      .select(explode(array(split(normText(col("text")), " "))).as("toks"))
      .select(explode(array(trigrams)).as("tgs"))
      .select(explode(col("tgs")).as("trigram"))
      .groupBy(col("trigram")).agg(count(lit(1)).as("n"))
      .select(element_at(split(col("trigram"), " "), 1).as("w1"),
        element_at(split(col("trigram"), " "), 2).as("w2"),
        element_at(split(col("trigram"), " "), 3).as("w3"), col("n"))
  }

  /** [[trigramLm]]'s stats tail over an existing count frame: context
    * denominators `Σ_w c(w1 w2 w)` over ALL continuations, THEN the
    * `minCount` prune — probabilities stay normalised per (w1, w2)
    * context exactly as [[statsFromCounts]] normalises per w1. The
    * context aggregation runs over the already-aggregated trigram
    * frame (vocabulary-sized, never the corpus). */
  def trigramStatsFromCounts(counts: DataFrame, minCount: Long = 5): DataFrame = {
    val ctx = counts.groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("_tot"))
    counts.join(ctx, Seq("w1", "w2"))
      .filter(col("n") >= minCount)
      .select(col("w1"), col("w2"), col("w3"), col("n"),
        round(col("n").cast(DoubleType) / col("_tot"), 6).as("p_cond"))
  }

  /** Corpus trigram language-model statistics: count and conditional
    * probability `P(w3 | w1 w2)` for every trigram occurring at least
    * `minCount` times — the order-3 extension of [[bigramLm]]
    * (production CCNet-lineage filtering scores under higher-order
    * KenLM models; bigrams saturate on short-range structure). Same
    * caching contract as bigramLm: the count frame feeds both the
    * output join and the denominator aggregation, cached at
    * trigram-vocabulary size. */
  def trigramLm(docs: DataFrame, minCount: Long = 5): DataFrame = {
    val counts = trigramCounts(docs)
    Caching.ensureCached(counts)
    trigramStatsFromCounts(counts, minCount)
  }

  /** The per-document trigram stream `(doc_id, w1, w2, w3)` —
    * [[docBigrams]]'s order-3 twin; one tokenisation, one shingle pass,
    * no aggregation. */
  private def docTrigrams(docs: DataFrame): DataFrame = {
    val trigrams = NearDup.shinglesOf(col("toks"), k = 3,
      distinct = false, wholeDocFallback = false)
    Parallel.fan(docs)
      .select(col("doc_id"), explode(array(split(normText(col("text")), " "))).as("toks"))
      .select(col("doc_id"), explode(array(trigrams)).as("tgs"))
      .select(col("doc_id"), explode(col("tgs")).as("trigram"))
      .select(col("doc_id"),
        element_at(split(col("trigram"), " "), 1).as("w1"),
        element_at(split(col("trigram"), " "), 2).as("w2"),
        element_at(split(col("trigram"), " "), 3).as("w3"))
  }

  /** Stupid-backoff trigram scoring against EXTERNAL reference models
    * (Brants et al. 2007 — the scheme production web-scale LMs use
    * precisely because its scores need no discounting renormalisation,
    * so the whole chain stays replayable in exact SQL): each document
    * trigram scores `ln P(w3|w1 w2)` when the trigram survives the
    * reference model's prune, else backs off to `ln(α·P(w3|w2))` from
    * the bigram model (the oldest context word dropped), else the fixed
    * `unkLogP` penalty. Per-term values round to 9 dp and sum as exact
    * decimals ([[lmScoreWith]]'s determinism contract); the mean rounds
    * to 6 dp. Output `(doc_id, n_trigrams, avg_logp3)`; documents with
    * < 3 tokens score 0 over 0 trigrams.
    *
    * `triStats` is a `(w1, w2, w3, p_cond)` frame ([[trigramLm]]);
    * `biStats` a `(w1, w2, p_cond)` frame ([[bigramLm]]) — typically
    * both from one [[LmIndex]] artifact, so the two reference joins are
    * vocabulary-sized (broadcast when small — the corpus trigram stream
    * never shuffles). Streaming: stream-static joins + one stateful
    * aggregation; the batch join-back that surfaces sub-trigram
    * documents as 0-score rows is skipped, exactly like lmScoreWith. */
  def lmScore3With(docs: DataFrame, triStats: DataFrame, biStats: DataFrame,
                   alpha: Double = 0.4, unkLogP: Double = -10.0): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(math.abs(unkLogP * 1e9 - math.round(unkLogP * 1e9)) < 1e-6,
      "unkLogP must have at most 9 decimal places (decimal-exact term)")
    val agg = docTrigrams(docs)
      .join(triStats.select(col("w1"), col("w2"), col("w3"),
        col("p_cond").as("_p3")), Seq("w1", "w2", "w3"), "left")
      .join(biStats.select(col("w1").as("w2"), col("w2").as("w3"),
        col("p_cond").as("_p2")), Seq("w2", "w3"), "left")
      .select(col("doc_id"),
        coalesce(round(log(col("_p3")), 9),
          round(log(lit(alpha) * col("_p2")), 9),
          lit(unkLogP)).cast(DecimalType(28, 9)).as("_lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("_lp")).as("_s"))
    if (docs.isStreaming)
      agg.select(col("doc_id"), col("n_trigrams"),
        round(col("_s").cast(DoubleType) / col("n_trigrams"), 6).as("avg_logp3"))
    else
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
          when(coalesce(col("n_trigrams"), lit(0L)) > 0,
            round(col("_s").cast(DoubleType) / col("n_trigrams"), 6))
            .otherwise(lit(0.0)).as("avg_logp3"))
  }

  /** EVERY order's UNPRUNED counts from ONE corpus tokenisation:
    * `(k, gram, n)` with k ∈ {2..maxOrder} — [[bigramCounts]]'s shuffle
    * shape, the gram key widened by the order discriminator. Shared by
    * the [[LmIndex]] v2/v3 builds and merges and the self-scored
    * [[lmScore3]]/[[lmScore5]], so a multi-order training pass costs
    * one corpus scan, not one per order — at 100 TB the corpus scan
    * dominates an artifact build, and production KenLM-style models are
    * order 5 (Brants et al. 2007 train orders together for the same
    * reason). The shuffle still carries one row per distinct (k, gram)
    * per partition after map-side combine, never the corpus token
    * stream per order. */
  def ngramCountsUpTo(docs: DataFrame, maxOrder: Int): DataFrame = {
    require(maxOrder >= 2 && maxOrder <= 8,
      s"maxOrder must be in [2, 8], got $maxOrder")
    val slices = (2 to maxOrder).map { k =>
      val grams = NearDup.shinglesOf(col("toks"), k = k,
        distinct = false, wholeDocFallback = false)
      transform(grams, g => struct(lit(k).as("k"), g.as("gram")))
    }
    Parallel.fan(docs)
      .select(explode(array(split(normText(col("text")), " "))).as("toks"))
      .select(explode(concat(slices: _*)).as("kg"))
      .select(col("kg.k").as("k"), col("kg.gram").as("gram"))
      .groupBy(col("k"), col("gram")).agg(count(lit(1)).as("n"))
  }

  /** Both orders' counts from one tokenisation — [[ngramCountsUpTo]] at
    * order 3, kept for the v2 [[LmIndex]] layer's call sites. */
  def ngramCounts23(docs: DataFrame): DataFrame = ngramCountsUpTo(docs, 3)

  /** The order-`k` slice of an [[ngramCountsUpTo]] frame, split into
    * word columns `(w1..wk, n)` — [[bigramCounts]]'s shape generalised. */
  def ngramCountsOf(kg: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"order must be at least 2, got $k")
    val words = (1 to k).map(i =>
      element_at(split(col("gram"), " "), i).as(s"w$i"))
    kg.filter(col("k") === k).select(words :+ col("n"): _*)
  }

  /** The order-2 slice of [[ngramCounts23]], in [[bigramCounts]]'s
    * `(w1, w2, n)` shape. */
  def bigramCountsOf(kg: DataFrame): DataFrame = ngramCountsOf(kg, 2)

  /** The order-3 slice of [[ngramCounts23]], in [[trigramCounts]]'s
    * `(w1, w2, w3, n)` shape. */
  def trigramCountsOf(kg: DataFrame): DataFrame = ngramCountsOf(kg, 3)

  /** [[statsFromCounts]]/[[trigramStatsFromCounts]] generalised to any
    * order: context denominators `Σ_w c(w1..w_{k-1} w)` over ALL
    * continuations, THEN the `minCount` prune — probabilities stay
    * normalised per context. The context aggregation runs over the
    * already-aggregated count frame (gram-vocabulary-sized, never the
    * corpus). */
  def ngramStatsFromCounts(counts: DataFrame, k: Int,
                           minCount: Long): DataFrame = {
    require(k >= 2, s"order must be at least 2, got $k")
    val ctxCols = (1 until k).map(i => col(s"w$i"))
    val ctx = counts.groupBy(ctxCols: _*).agg(sum(col("n")).as("_tot"))
    counts.join(ctx, (1 until k).map(i => s"w$i"))
      .filter(col("n") >= minCount)
      .select((1 to k).map(i => col(s"w$i")) ++ Seq(col("n"),
        round(col("n").cast(DoubleType) / col("_tot"), 6).as("p_cond")): _*)
  }

  /** The per-document order-`k` gram stream `(doc_id, w1..wk)` —
    * [[docBigrams]] generalised; one tokenisation, one shingle pass, no
    * aggregation. */
  private def docNgrams(docs: DataFrame, k: Int): DataFrame = {
    val grams = NearDup.shinglesOf(col("toks"), k = k,
      distinct = false, wholeDocFallback = false)
    Parallel.fan(docs)
      .select(col("doc_id"), explode(array(split(normText(col("text")), " "))).as("toks"))
      .select(col("doc_id"), explode(array(grams)).as("gs"))
      .select(col("doc_id"), explode(col("gs")).as("gram"))
      .select(col("doc_id") +:
        (1 to k).map(i => element_at(split(col("gram"), " "), i).as(s"w$i")): _*)
  }

  /** Stupid-backoff order-5 scoring against EXTERNAL reference models —
    * [[lmScore3With]]'s scheme at the order production web-scale LMs
    * actually run (KenLM's default and the CCNet filtering order is 5):
    * each document 5-gram scores `ln P(w5|w1..w4)` when the 5-gram
    * survives its model's prune, else backs off through the 4-gram,
    * trigram and bigram models, each hop multiplying the α discount
    * once (Brants et al. 2007: S(w|ctx) = α^j · P_{k-j}, the oldest
    * context word dropped per hop), else the fixed `unkLogP` penalty.
    * α products NEST right (`α·(α·p)`) so the double arithmetic is
    * engine-replayable term for term; per-term values round to 9 dp
    * and sum as exact decimals, the mean rounds to 6 dp. Output
    * `(doc_id, n_5grams, avg_logp5)`; documents with < 5 tokens score
    * 0 over 0 grams.
    *
    * `stats4`/`stats5` come from [[ngramStatsFromCounts]] (typically an
    * [[LmIndex]] v3 artifact): every reference join is
    * gram-vocabulary-sized and broadcasts when small — the corpus
    * 5-gram stream never shuffles; only the per-doc aggregation and the
    * batch join-back exchange on doc_id. Streaming: stream-static joins
    * + one stateful aggregation, sub-5-gram documents absent, exactly
    * like [[lmScoreWith]]. */
  def lmScore5With(docs: DataFrame, stats5: DataFrame, stats4: DataFrame,
                   triStats: DataFrame, biStats: DataFrame,
                   alpha: Double = 0.4, unkLogP: Double = -10.0): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(math.abs(unkLogP * 1e9 - math.round(unkLogP * 1e9)) < 1e-6,
      "unkLogP must have at most 9 decimal places (decimal-exact term)")
    val a = lit(alpha)
    val agg = docNgrams(docs, 5)
      .join(stats5.select(col("w1"), col("w2"), col("w3"), col("w4"),
        col("w5"), col("p_cond").as("_p5")),
        Seq("w1", "w2", "w3", "w4", "w5"), "left")
      .join(stats4.select(col("w1").as("w2"), col("w2").as("w3"),
        col("w3").as("w4"), col("w4").as("w5"), col("p_cond").as("_p4")),
        Seq("w2", "w3", "w4", "w5"), "left")
      .join(triStats.select(col("w1").as("w3"), col("w2").as("w4"),
        col("w3").as("w5"), col("p_cond").as("_p3")),
        Seq("w3", "w4", "w5"), "left")
      .join(biStats.select(col("w1").as("w4"), col("w2").as("w5"),
        col("p_cond").as("_p2")), Seq("w4", "w5"), "left")
      .select(col("doc_id"),
        coalesce(round(log(col("_p5")), 9),
          round(log(a * col("_p4")), 9),
          round(log(a * (a * col("_p3"))), 9),
          round(log(a * (a * (a * col("_p2")))), 9),
          lit(unkLogP)).cast(DecimalType(28, 9)).as("_lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_5grams"), sum(col("_lp")).as("_s"))
    if (docs.isStreaming)
      agg.select(col("doc_id"), col("n_5grams"),
        round(col("_s").cast(DoubleType) / col("n_5grams"), 6).as("avg_logp5"))
    else
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_5grams"), lit(0L)).as("n_5grams"),
          when(coalesce(col("n_5grams"), lit(0L)) > 0,
            round(col("_s").cast(DoubleType) / col("n_5grams"), 6))
            .otherwise(lit(0.0)).as("avg_logp5"))
  }

  /** Self-scored order-5 wrapper ([[lmScore3]]'s posture at order 5):
    * all four backoff models train on the corpus being scored, from ONE
    * shared tokenisation ([[ngramCountsUpTo]], cached gram-vocabulary-
    * sized) — the corpus is scanned twice total (train + the scoring
    * 5-gram stream), not five times. Default prunes thin with order
    * (5/4-gram counts are an order of magnitude sparser per step);
    * production scoring goes through [[LmIndex.score5]] against a
    * persisted reference model. */
  def lmScore5(docs: DataFrame, minCount5: Long = 2, minCount4: Long = 2,
               minCountTri: Long = 3, minCountBi: Long = 5,
               alpha: Double = 0.4, unkLogP: Double = -10.0): DataFrame = {
    val kg = ngramCountsUpTo(docs, 5)
    // the cached combined frame bridges the four slice builds (without
    // it each slice re-scans the corpus); the cached SLICES keep the
    // stats joins from re-filtering the combined frame per consumer
    // (r16 note: removing the slice caches was A/B-measured 0.5 s
    // SLOWER — the four broadcast stats builds then re-derive their
    // slice twice each from kg, and that repeated filter+split work
    // exceeds the four one-off count() materialisation jobs)
    Caching.ensureCached(kg)
    val slices = (2 to 5).map(k => k -> ngramCountsOf(kg, k)).toMap
    // one materialisation job for all four slice caches (r16) — four
    // sequential count() jobs paid ~0.2 s of submission each for work
    // that is one union away (kg is already materialised, so the
    // concurrent branches race on nothing)
    Caching.ensureCachedAll(slices.values.toSeq)
    lmScore5With(docs,
      ngramStatsFromCounts(slices(5), 5, minCount5),
      ngramStatsFromCounts(slices(4), 4, minCount4),
      ngramStatsFromCounts(slices(3), 3, minCountTri),
      ngramStatsFromCounts(slices(2), 2, minCountBi),
      alpha, unkLogP)
  }

  /** [[perplexityBuckets3]] under the ORDER-5 backoff score — the CCNet
    * head/middle/tail split at the production model order: quartile
    * cuts of [[lmScore5]] over scorable documents (one scalar
    * aggregation broadcast back — no sort, no corpus window), then the
    * bucket projection; sub-5-gram documents bucket `unscored`. The
    * self-calibrated batch twin of [[LmIndex.bucket5]]. */
  def perplexityBuckets5(docs: DataFrame, minCount5: Long = 2,
                         minCount4: Long = 2, minCountTri: Long = 3,
                         minCountBi: Long = 5, alpha: Double = 0.4,
                         unkLogP: Double = -10.0): DataFrame = {
    val scores = lmScore5(docs, minCount5, minCount4, minCountTri,
      minCountBi, alpha, unkLogP)
    val cuts = scores.filter(col("n_5grams") > 0)
      .agg(round(percentile(col("avg_logp5"), lit(0.25)), 6).as("_p25"),
        round(percentile(col("avg_logp5"), lit(0.75)), 6).as("_p75"))
    scores.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("n_5grams") === 0, lit("unscored"))
          .when(col("avg_logp5") >= col("_p75"), lit("head"))
          .when(col("avg_logp5") >= col("_p25"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("n_5grams"), col("avg_logp5"), col("bucket"))
  }

  /** Self-scored convenience wrapper: train both backoff models on the
    * corpus being scored ([[lmScore]]'s posture at order 3). The
    * trigram prune is LOWER than the bigram's by default (trigram
    * counts thin out an order of magnitude faster — minCount 5 at both
    * orders would back nearly everything off). Production scoring goes
    * through [[LmIndex.score3]] against a persisted reference model —
    * this wrapper re-trains per call, but both models come from ONE
    * shared tokenisation ([[ngramCounts23]], cached gram-vocabulary-
    * sized), so the corpus is scanned twice total (train + the scoring
    * trigram stream), not three times. */
  def lmScore3(docs: DataFrame, minCountTri: Long = 3, minCountBi: Long = 5,
               alpha: Double = 0.4, unkLogP: Double = -10.0): DataFrame = {
    val kg = ngramCounts23(docs)
    // three vocabulary-sized caches: kg bridges the two slice builds
    // (without it each slice re-scans the corpus), and the cached
    // SLICES keep repeat scoring from re-filtering the combined frame
    Caching.ensureCached(kg)
    val tri = trigramCountsOf(kg)
    val bi = bigramCountsOf(kg)
    // one materialisation job for both slice caches (r16, see lmScore5)
    Caching.ensureCachedAll(Seq(tri, bi))
    lmScore3With(docs,
      trigramStatsFromCounts(tri, minCountTri),
      statsFromCounts(bi, minCountBi),
      alpha, unkLogP)
  }

  /** Both DSIR models from ONE corpus tokenisation: bigram counts keyed
    * by a group predicate (`true` = target member), persisted at
    * bigram-vocabulary size, then split into the target model (grouped
    * rows where the predicate held) and the raw model (counts summed
    * over both groups — exactly the whole corpus's counts, since groups
    * partition it). Identical stats to calling [[bigramLm]] twice; half
    * the corpus passes. */
  def dsirModels(docs: DataFrame, targetPred: Column,
                 minCountTarget: Long = 2,
                 minCountRaw: Long = 5): (DataFrame, DataFrame) = {
    val bigrams = NearDup.shinglesOf(col("toks"), k = 2,
      distinct = false, wholeDocFallback = false)
    val grouped = Parallel.fan(docs)
      .select(targetPred.as("_tgt"),
        explode(array(split(normText(col("text")), " "))).as("toks"))
      .select(col("_tgt"), explode(array(bigrams)).as("bgs"))
      .select(col("_tgt"), explode(col("bgs")).as("bigram"))
      .groupBy(col("_tgt"), col("bigram")).agg(count(lit(1)).as("n"))
      .select(col("_tgt"),
        element_at(split(col("bigram"), " "), 1).as("w1"),
        element_at(split(col("bigram"), " "), 2).as("w2"), col("n"))
    // same persist rationale as bigramLm: two consumers, vocab-sized
    Caching.ensureCached(grouped)
    val target = statsFromCounts(
      grouped.filter(col("_tgt")).select(col("w1"), col("w2"), col("n")),
      minCountTarget)
    val raw = statsFromCounts(
      grouped.groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("n")),
      minCountRaw)
    (target, raw)
  }

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): every document's mean
    * bigram log-likelihood under a TARGET reference model minus its mean
    * under the RAW corpus model — `log_ratio > 0` reads "more like the
    * target than the background", the signal importance resampling
    * weights by. Both stats frames are [[bigramLm]] output (typically
    * [[graft.ops.LmIndex]] artifacts); bigrams unknown to a model pay
    * that model's `unkLogP`.
    *
    * One tokenisation pass: the shared bigram stream left-joins BOTH
    * vocab-sized stats frames before a single per-doc aggregation — the
    * whole op adds one map-side join over [[lmScoreWith]]'s shape, not a
    * second corpus scan. Determinism follows the family contract: 9 dp
    * ln terms summed as exact decimals; `log_ratio` is the difference of
    * the two rounded means re-rounded to 6 dp (engine-stable — see the
    * inline note). To complete the DSIR pipeline, quantize
    * `exp(log_ratio)` to integer weights and feed
    * [[Curate.weightedSample]].
    *
    * Streaming: same contract as [[lmScoreWith]] — stream-static joins
    * plus an update/complete-mode aggregation, sub-bigram documents
    * absent (the batch path surfaces them as 0-score rows). */
  def dsirScore(docs: DataFrame, targetStats: DataFrame, rawStats: DataFrame,
                unkLogP: Double = -10.0): DataFrame = {
    require(math.abs(unkLogP * 1e9 - math.round(unkLogP * 1e9)) < 1e-6,
      "unkLogP must have at most 9 decimal places (decimal-exact term)")
    val agg = docBigrams(docs)
      .join(targetStats.select(col("w1"), col("w2"), col("p_cond").as("_pt")),
        Seq("w1", "w2"), "left")
      .join(rawStats.select(col("w1"), col("w2"), col("p_cond").as("_pr")),
        Seq("w1", "w2"), "left")
      .select(col("doc_id"),
        coalesce(round(log(col("_pt")), 9), lit(unkLogP))
          .cast(DecimalType(28, 9)).as("_lt"),
        coalesce(round(log(col("_pr")), 9), lit(unkLogP))
          .cast(DecimalType(28, 9)).as("_lr"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("_lt")).as("_st"), sum(col("_lr")).as("_sr"))
    // log_ratio is the difference of the two ROUNDED means, re-rounded:
    // a mean-of-differences spelling can land exactly on a 6 dp rounding
    // boundary and flip the last digit between engines (observed at
    // sf0.1), whereas the difference of two 1e-6 multiples never sits on
    // one — and the value becomes an exact function of the other two
    // output columns
    def withRatio(base: DataFrame): DataFrame = base.withColumn("log_ratio",
      round(col("avg_logp_target") - col("avg_logp_raw"), 6))
    if (docs.isStreaming)
      withRatio(agg.select(col("doc_id"), col("n_bigrams"),
        round(col("_st").cast(DoubleType) / col("n_bigrams"), 6)
          .as("avg_logp_target"),
        round(col("_sr").cast(DoubleType) / col("n_bigrams"), 6)
          .as("avg_logp_raw")))
    else {
      val n = coalesce(col("n_bigrams"), lit(0L))
      def mean(s: Column): Column =
        when(n > 0, round(s.cast(DoubleType) / col("n_bigrams"), 6))
          .otherwise(lit(0.0))
      withRatio(docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), n.as("n_bigrams"),
          mean(col("_st")).as("avg_logp_target"),
          mean(col("_sr")).as("avg_logp_raw")))
    }
  }

  /** All four DSIR order-3 models from ONE corpus tokenisation —
    * [[dsirModels]] lifted to the backoff pair: per group (target =
    * rows where `targetPred` holds, raw = the whole corpus, i.e. counts
    * summed over both groups) a trigram AND a bigram model, so
    * [[dsirScore3]] can stupid-backoff under each side. The pass emits
    * both orders' shingles into a single (group, k, gram)-keyed
    * map-side-combined count (the [[ngramCountsUpTo]] shape with the
    * group key prepended); everything downstream is gram-vocabulary-
    * sized. Identical stats to training the four models separately;
    * one quarter of the corpus passes. */
  def dsirModels3(docs: DataFrame, targetPred: Column,
                  minCountTriTarget: Long = 2, minCountBiTarget: Long = 2,
                  minCountTriRaw: Long = 3, minCountBiRaw: Long = 5)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val bi = NearDup.shinglesOf(col("toks"), k = 2,
      distinct = false, wholeDocFallback = false)
    val tri = NearDup.shinglesOf(col("toks"), k = 3,
      distinct = false, wholeDocFallback = false)
    val grouped = Parallel.fan(docs)
      .select(targetPred.as("_tgt"),
        explode(array(split(normText(col("text")), " "))).as("toks"))
      .select(col("_tgt"), explode(concat(
        transform(bi, g => struct(lit(2).as("k"), g.as("gram"))),
        transform(tri, g => struct(lit(3).as("k"), g.as("gram"))))).as("kg"))
      .select(col("_tgt"), col("kg.k").as("k"), col("kg.gram").as("gram"))
      .groupBy(col("_tgt"), col("k"), col("gram")).agg(count(lit(1)).as("n"))
    // same persist rationale as dsirModels: four consumers, vocab-sized
    Caching.ensureCached(grouped)
    def slice(k: Int, targetOnly: Boolean): DataFrame = {
      val base =
        if (targetOnly) grouped.filter(col("_tgt"))
          .select(col("k"), col("gram"), col("n"))
        else grouped.groupBy(col("k"), col("gram")).agg(sum(col("n")).as("n"))
      ngramCountsOf(base, k)
    }
    (ngramStatsFromCounts(slice(3, targetOnly = true), 3, minCountTriTarget),
      ngramStatsFromCounts(slice(2, targetOnly = true), 2, minCountBiTarget),
      ngramStatsFromCounts(slice(3, targetOnly = false), 3, minCountTriRaw),
      ngramStatsFromCounts(slice(2, targetOnly = false), 2, minCountBiRaw))
  }

  /** [[dsirScore]] under the ORDER-3 backoff score — the higher-order
    * importance signal the r14 trigram layer makes one composition
    * away: every document's mean stupid-backoff log-likelihood under
    * the TARGET models minus its mean under the RAW models, each side
    * backing off trigram → α-discounted bigram → that side's `unkLogP`
    * ([[lmScore3With]]'s term discipline: 9 dp per-term rounding, exact
    * decimal sums, 6 dp means, ratio = difference of the rounded means
    * re-rounded — see [[dsirScore]]'s inline note for why).
    *
    * One tokenisation pass: the shared trigram stream left-joins all
    * FOUR vocab-sized stats frames before a single per-doc aggregation
    * — two map-side joins over [[dsirScore]]'s shape, never a second
    * corpus scan. Streaming: stream-static joins + one update/complete
    * aggregation; sub-trigram documents absent (batch surfaces them as
    * 0-score rows). Output `(doc_id, n_trigrams, avg_logp_target,
    * avg_logp_raw, log_ratio)`. */
  def dsirScore3(docs: DataFrame, targetTri: DataFrame, targetBi: DataFrame,
                 rawTri: DataFrame, rawBi: DataFrame,
                 alpha: Double = 0.4, unkLogP: Double = -10.0): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(math.abs(unkLogP * 1e9 - math.round(unkLogP * 1e9)) < 1e-6,
      "unkLogP must have at most 9 decimal places (decimal-exact term)")
    val a = lit(alpha)
    val agg = docTrigrams(docs)
      .join(targetTri.select(col("w1"), col("w2"), col("w3"),
        col("p_cond").as("_p3t")), Seq("w1", "w2", "w3"), "left")
      .join(targetBi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("p_cond").as("_p2t")), Seq("w2", "w3"), "left")
      .join(rawTri.select(col("w1"), col("w2"), col("w3"),
        col("p_cond").as("_p3r")), Seq("w1", "w2", "w3"), "left")
      .join(rawBi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("p_cond").as("_p2r")), Seq("w2", "w3"), "left")
      .select(col("doc_id"),
        coalesce(round(log(col("_p3t")), 9), round(log(a * col("_p2t")), 9),
          lit(unkLogP)).cast(DecimalType(28, 9)).as("_lt"),
        coalesce(round(log(col("_p3r")), 9), round(log(a * col("_p2r")), 9),
          lit(unkLogP)).cast(DecimalType(28, 9)).as("_lr"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(col("_lt")).as("_st"), sum(col("_lr")).as("_sr"))
    def withRatio(base: DataFrame): DataFrame = base.withColumn("log_ratio",
      round(col("avg_logp_target") - col("avg_logp_raw"), 6))
    if (docs.isStreaming)
      withRatio(agg.select(col("doc_id"), col("n_trigrams"),
        round(col("_st").cast(DoubleType) / col("n_trigrams"), 6)
          .as("avg_logp_target"),
        round(col("_sr").cast(DoubleType) / col("n_trigrams"), 6)
          .as("avg_logp_raw")))
    else {
      val n = coalesce(col("n_trigrams"), lit(0L))
      def mean(s: Column): Column =
        when(n > 0, round(s.cast(DoubleType) / col("n_trigrams"), 6))
          .otherwise(lit(0.0))
      withRatio(docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), n.as("n_trigrams"),
          mean(col("_st")).as("avg_logp_target"),
          mean(col("_sr")).as("avg_logp_raw")))
    }
  }

  /** CCNet's corpus partitioning completed: bucket every document
    * head / middle / tail by its [[lmScore]] percentile (head = most
    * reference-like). CCNet cuts at terciles; quartile cuts are used here
    * because quarter fractions interpolate engine-exactly (the
    * [[graft.ops.Stats]] determinism contract — a third is not an exact
    * binary fraction, so a tercile cut could differ in its last ulp
    * between engines and flip boundary documents). Documents with no
    * scorable bigram land in `unscored`.
    *
    * Scale shape: scoring is [[lmScore]]'s shape; the two cut points are
    * ONE scalar aggregation broadcast back — no sort, no window over the
    * corpus. */
  def perplexityBuckets(docs: DataFrame, minCount: Long = 5,
                        unkLogP: Double = -10.0): DataFrame = {
    val scores = lmScore(docs, minCount, unkLogP)
    val cuts = scores.filter(col("n_bigrams") > 0)
      .agg(round(percentile(col("avg_logp"), lit(0.25)), 6).as("_p25"),
        round(percentile(col("avg_logp"), lit(0.75)), 6).as("_p75"))
    scores.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("n_bigrams") === 0, lit("unscored"))
          .when(col("avg_logp") >= col("_p75"), lit("head"))
          .when(col("avg_logp") >= col("_p25"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("n_bigrams"), col("avg_logp"), col("bucket"))
  }

  /** [[perplexityBuckets]] under the ORDER-3 backoff score: quartile
    * cuts of [[lmScore3]] (computed on scorable documents only, rounds
    * to 6 dp — the engine-exact quarter-fraction contract), then
    * head/middle/tail per document; sub-trigram documents bucket
    * `unscored`. The self-calibrated batch twin of
    * [[LmIndex.bucket3]] (spec-pinned equal when the artifact is
    * trained and calibrated on the same corpus at the same prunes). */
  def perplexityBuckets3(docs: DataFrame, minCountTri: Long = 3,
                         minCountBi: Long = 5, alpha: Double = 0.4,
                         unkLogP: Double = -10.0): DataFrame = {
    val scores = lmScore3(docs, minCountTri, minCountBi, alpha, unkLogP)
    val cuts = scores.filter(col("n_trigrams") > 0)
      .agg(round(percentile(col("avg_logp3"), lit(0.25)), 6).as("_p25"),
        round(percentile(col("avg_logp3"), lit(0.75)), 6).as("_p75"))
    scores.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("n_trigrams") === 0, lit("unscored"))
          .when(col("avg_logp3") >= col("_p75"), lit("head"))
          .when(col("avg_logp3") >= col("_p25"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("n_trigrams"), col("avg_logp3"), col("bucket"))
  }

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
    * Scale shape: reuses [[bigramCounts]] (one corpus tokenisation, one
    * bigram-vocabulary-sized aggregation); margins and the N total are
    * aggregates OF the count frame — every join after the first
    * aggregation touches vocabulary-sized frames only. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5): DataFrame = {
    val d38 = DecimalType(38, 0)
    val bc = bigramCounts(docs)
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
