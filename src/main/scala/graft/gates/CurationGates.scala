package graft
package gates

import graft.ops.{Curate, HashMode, TextOps}
import org.apache.spark.sql.functions._

import Shared._

/** Corpus curation and packing: cleaning batteries, sampling and mixing,
  * composed curation pipelines, splits and sequence packing. */
object CurationGates {

  // q_curation_ingest fixture constants — spliced VERBATIM into both the
  // Spark construction and the oracle SQL (single definition, the
  // pattern-constant convention). Footer carries no terminal mark (a
  // boilerplate line, never a sentence); the block is the duplicated
  // 3-sentence span; extras keep every page over the C4 sentence floor
  // and the Gopher stopword/word floors; injections are one per
  // doc_id % 4 class.
  private val IngestFooter = "Subscribe to our newsletter for updates and offers today"
  private val IngestBlock =
    "Shared alpha beta gamma. Shared delta epsilon zeta. Shared eta theta iota."
  private val IngestExtras =
    "The first extra sentence is here with all of the usual words. " +
    "It keeps the page over every quality floor that matters to us. " +
    "These sentences carry common stopwords and letters that have weight with them. " +
    "This last extra closes out the page with a clean period here."
  private val IngestInjCard = "Pay 4539578763621486 for this now."
  private val IngestInjEmail = "Mail bob@example.com about this today."
  // the m=3 dirt class: a quote-terminated TRAILING line — C4's line
  // filter keeps it (ends on a closing quote), the sentence-span
  // rebuild drops it (no terminal mark), and the chain must COUNT the
  // drop (n_tail_dropped — flags emitted, never silently applied)
  private val IngestTail =
    "He said the page continues \"beyond the last period\""
  private val IngestEval =
    "Zibbleflort quandrosine veltapark mizzenbrook caltrovane siphonelle " +
    "drakemoor pellucidar quintavex norrelbane taskerfield ombrelline " +
    "juddervast wexfordia."

  /** The q_gopher_rules oracle, reusable as a subquery by the composed
    * pipeline gate (DuckDB allows WITH inside a derived table). */
  private def gopherRulesSql: String =
    """WITH g AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
         |    CAST(len(regexp_extract_all(text, '\S')) AS DOUBLE)
         |      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS mean_word_len,
         |    CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.'))
         |      + len(regexp_extract_all(text, '\x{2026}')) AS DOUBLE)
         |      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS symbol_ratio,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(l, '^\s*[-*\x{2022}]'))) AS DOUBLE)
         |      / greatest(len(string_split(text, chr(10))), 1) AS bullet_ratio,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(l, '(\.\.\.|\x{2026})\s*$'))) AS DOUBLE)
         |      / greatest(len(string_split(text, chr(10))), 1) AS ellipsis_ratio,
         |    CAST(len(list_filter(regexp_extract_all(text, '\S+'),
         |        w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
         |      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS alpha_ratio,
         |    CAST(CAST(regexp_matches(lower(text), '\bthe\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\bbe\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\bto\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\bof\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\band\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\bthat\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\bhave\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\bwith\b') AS INT) AS BIGINT) AS n_stop
         |  FROM documents)
         |SELECT *,
         |  (r_words AND r_mean_len AND r_symbol AND r_bullet AND r_ellipsis
         |    AND r_alpha AND r_stop) AS gopher_keep
         |FROM (
         |  SELECT g.*,
         |    n_words >= 30 AND n_words <= 100000 AS r_words,
         |    mean_word_len >= 4.0 AND mean_word_len <= 10.0 AS r_mean_len,
         |    symbol_ratio <= 0.1 AS r_symbol,
         |    bullet_ratio <= 0.9 AS r_bullet,
         |    ellipsis_ratio <= 0.3 AS r_ellipsis,
         |    alpha_ratio >= 0.8 AS r_alpha,
         |    n_stop >= 1 AS r_stop
         |  FROM g)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // the FULL crawl->text ingest pipeline, oracle-gated end to end:
    // stripHtml FIRST (entity decode can MANUFACTURE mojibake — a page
    // carrying &#195;&#169; decodes to the double-encoding the repair
    // must then fix; reversed order misses it), fixMojibake BEFORE
    // cleanControlChars (the C1 controls the class strips ARE the
    // repair's evidence — the spec-pinned order contract, now gated),
    // nfc LAST (over repaired + cleaned text). Dirt classes are
    // EXCLUSIVE per row (doc_id % 13 picks one) so each stage's
    // transform is independently checkable in the oracle
    Gate("q_ingest_clean", (s, d) => {
      val garbled = new String(
        " café won’t".getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val m = col("doc_id") % 13
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(m === 0, concat(lit("<div class=\"x\"><p>"), col("text"),
          lit("</p><script>var x = 1 < 2;</script><!-- c --><b>bold</b> &amp; A&#66;&#x43;&nbsp;end</div>")))
        .when(m === 1, concat(col("text"), lit(garbled)))
        .when(m === 2, concat(lit("\uFEFF"), col("text"),
          lit(" zero\u200Bwidth\u0007 soft\u00ADhyphen")))
        .when(m === 3, concat(col("text"), lit(" cafe\u0301 nai\u0308ve caf\u00e9")))
        .otherwise(col("text")).as("t2"))
      val cleaned = TextOps.nfc(TextOps.cleanControlChars(
        TextOps.fixMojibake(TextOps.stripHtml(col("t2")))))
      dirty.select(col("doc_id"), cleaned.as("clean_text"),
        (cleaned =!= col("t2")).as("changed"))
    },
      // the composed ingest pipeline: per-class stages re-expressed with
      // the SAME shared constants ($ss/$cm/$tg tags, $cc controls,
      // nfc_normalize) in the SAME order the Spark pipeline applies them
      // (collapse+trim inside the html stage, control strip after, NFC
      // last); the mojibake class states the repaired suffix as golden
      // (the q_mojibake precedent — DuckDB has no encoding surface).
      // changed = clean_text != t2 in both engines, no class special-case
      {
      val ss = graft.ops.TextOps.ScriptStyleBlock
      val cm = graft.ops.TextOps.HtmlComment
      val tg = graft.ops.TextOps.HtmlTagOrDecl
      val cc = graft.ops.TextOps.ControlClass
      s"""WITH dirty AS (
        |  SELECT doc_id, text,
        |    CASE doc_id % 13
        |      WHEN 0 THEN '<div class="x"><p>' || text || '</p><script>var x = 1 < 2;</script><!-- c --><b>bold</b> &amp; A&#66;&#x43;&nbsp;end</div>'
        |      WHEN 1 THEN text || ' caf' || chr(195) || chr(169) || ' won' || chr(226) || chr(128) || chr(153) || 't'
        |      WHEN 2 THEN chr(65279) || text || ' zero' || chr(8203) || 'width' || chr(7) || ' soft' || chr(173) || 'hyphen'
        |      WHEN 3 THEN text || ' cafe' || chr(769) || ' nai' || chr(776) || 've caf' || chr(233)
        |      ELSE text END AS t2
        |  FROM documents),
        |cleaned AS (
        |  SELECT doc_id, t2, nfc_normalize(regexp_replace(
        |    CASE doc_id % 13
        |      WHEN 0 THEN trim(regexp_replace(
        |        replace(replace(replace(replace(
        |          regexp_replace(regexp_replace(regexp_replace(t2,
        |            '$ss', ' ', 'g'), '$cm', ' ', 'g'), '$tg', ' ', 'g'),
        |          '&amp;', '&'), '&#66;', 'B'), '&#x43;', 'C'), '&nbsp;', ' '),
        |        '\\s+', ' ', 'g'))
        |      WHEN 1 THEN trim(regexp_replace(
        |        text || ' caf' || chr(233) || ' won' || chr(8217) || 't',
        |        '\\s+', ' ', 'g'))
        |      ELSE trim(regexp_replace(t2, '\\s+', ' ', 'g')) END,
        |    '$cc', '', 'g')) AS clean_text
        |  FROM dirty)
        |SELECT doc_id, clean_text, clean_text != t2 AS changed
        |FROM cleaned""".stripMargin
    },
      // budget: 0.570 s warmed (r10).
      Some(Pin(0.74, 0.365))),
    // C4 cleaning battery (Raffel et al. 2020 §2.2): the corpus is
    // single-line with no punctuation, so every page is built as a
    // uniform 5-line synthetic document (3 survive the line pass -> 3
    // sentences) plus ONE exclusive dirt class on doc_id % 19: a lorem
    // ipsum template line (page tripwire), a code brace (tripwire), a
    // javascript menu line (LINE dropped, page survives — clean_text
    // must differ), a blocklisted word (tripwire). minSentences = 3 is
    // the synthetic-page calibration of the paper's 5
    Gate("q_c4_rules", (s, d) => {
      val m = col("doc_id") % 19
      val dirty = t(s, d, "documents").select(col("doc_id"), concat(
        col("text"),
        lit(".\nKeep this line yes?\nAnother fine sentence stays here." +
          "\ntoo short.\nno terminal punctuation here"),
        when(m === 0, lit("\nlorem ipsum dolor sit amet."))
          .when(m === 1, lit("\nA brace { landed here."))
          .when(m === 2, lit("\nMenu requires javascript to render."))
          .when(m === 3, lit("\nVisit our casino tonight!"))
          .otherwise(lit(""))).as("text"))
      TextOps.c4Rules(dirty, TextOps.C4Thresholds(minSentences = 3,
        badWords = Seq("casino", "viagra")))
    },
      // C4 battery twin: same synthetic page, same dirt classes; the line
      // pass is a list_filter lambda with the SAME three predicates
      // (terminal punct incl. closing quote, >=3 words, no javascript),
      // sentences counted on the SURVIVING text in both engines. Patterns
      // are line-local after the split, so Java's $-before-final-newline
      // quirk cannot diverge from RE2 (TextOps.C4LineEnd scaladoc)
      """WITH dirty AS (
        |  SELECT doc_id,
        |    text || '.' || chr(10) || 'Keep this line yes?' || chr(10) ||
        |    'Another fine sentence stays here.' || chr(10) || 'too short.' || chr(10) ||
        |    'no terminal punctuation here' ||
        |    CASE doc_id % 19
        |      WHEN 0 THEN chr(10) || 'lorem ipsum dolor sit amet.'
        |      WHEN 1 THEN chr(10) || 'A brace { landed here.'
        |      WHEN 2 THEN chr(10) || 'Menu requires javascript to render.'
        |      WHEN 3 THEN chr(10) || 'Visit our casino tonight!'
        |      ELSE '' END AS t2
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, t2,
        |    list_filter(string_split(t2, chr(10)), l ->
        |      regexp_matches(l, '[.!?"]\s*$')
        |      AND len(regexp_extract_all(l, '\S+')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept,
        |    len(string_split(t2, chr(10))) AS n_raw_lines
        |  FROM dirty),
        |g AS (
        |  SELECT doc_id,
        |    array_to_string(kept, chr(10)) AS clean_text,
        |    CAST(n_raw_lines AS BIGINT) AS n_lines,
        |    CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |    NOT regexp_matches(lower(t2), '\b(casino|viagra)\b') AS r_badwords,
        |    NOT contains(lower(t2), 'lorem ipsum') AS r_lorem,
        |    NOT contains(t2, '{') AS r_brace,
        |    CAST(len(regexp_extract_all(array_to_string(kept, chr(10)), '[.!?]')) AS BIGINT) AS n_sentences
        |  FROM f)
        |SELECT doc_id, clean_text, n_lines, n_kept_lines, r_badwords, r_lorem,
        |  r_brace, n_sentences, n_sentences >= 3 AS r_sentences,
        |  (n_sentences >= 3 AND r_badwords AND r_lorem AND r_brace) AS c4_keep
        |FROM g""".stripMargin,
      // budget: 0.720 s warmed (r10).
      Some(Pin(0.94, 0.266))),
    // thresholds recalibrated to the synthetic corpus (10-99 words, no
    // newlines/symbols) so the rule booleans actually vary; operator
    // defaults are the published Gopher values
    Gate("q_gopher_rules", (s, d) =>
      TextOps.gopherRules(t(s, d, "documents"),
        TextOps.GopherThresholds(minWords = 30, minMeanWordLen = 4.0,
          minStopwords = 1)), gopherRulesSql,
      Some(Pin(0.86, 0.576))),
    Gate("q_sample_hash", (s, d) =>
      Curate.sampleByHash(t(s, d, "documents"), "doc_id", 10, HashMode.Portable)
        .select(col("doc_id"), col("lang"), col("source")),
      s"""SELECT doc_id, lang, source FROM documents
        |WHERE ${h60("'sample:' || CAST(doc_id AS VARCHAR)")} % 100 < 10""".stripMargin),
    // multilingual temperature rebalancing (alpha=0.5) sized to 40% of
    // the corpus — rates are engine-exact (sqrt + fixed-point + integral
    // division; see temperatureRates scaladoc)
    Gate("q_temperature_rates", (s, d) =>
      Curate.temperatureRates(t(s, d, "documents"), "lang", targetPercent = 40),
      // temperature rates: sqrt weight fixed-pointed at 1e6, exact integer
      // totals, HUGEINT integral division — mirrors temperatureRates step
      // for step (sqrt is correctly-rounded IEEE, so w6 is bit-identical)
      """WITH stats AS (SELECT lang, count(*) AS n FROM documents
        |    WHERE lang IS NOT NULL GROUP BY lang),
        |  s AS (SELECT lang, n,
        |    CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS w6 FROM stats),
        |  tot AS (SELECT sum(w6) AS tw, sum(n) AS tn FROM s)
        |SELECT lang, n, least(100, CAST(
        |    (40::HUGEINT * tn * w6) // (tw * n) AS BIGINT)) AS rate
        |FROM s, tot""".stripMargin),
    Gate("q_temperature_mix", (s, d) =>
      Curate.temperatureMix(t(s, d, "documents"), "lang", targetPercent = 40,
        mode = HashMode.Portable)
        .select(col("doc_id"), col("lang"), col("source")),
      s"""WITH stats AS (SELECT lang, count(*) AS n FROM documents
        |    WHERE lang IS NOT NULL GROUP BY lang),
        |  s AS (SELECT lang, n,
        |    CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS w6 FROM stats),
        |  tot AS (SELECT sum(w6) AS tw, sum(n) AS tn FROM s),
        |  rates AS (SELECT lang, least(100, CAST(
        |      (40::HUGEINT * tn * w6) // (tw * n) AS BIGINT)) AS rate FROM s, tot)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE ${h60("'tmix:' || CAST(doc_id AS VARCHAR)")} % 100 < r.rate""".stripMargin,
      // budget: 0.47 s warmed (r7).
      Some(Pin(0.61, 0.257))),
    // reproducible epoch-1 training order over 8 shards
    Gate("q_epoch_order", (s, d) =>
      Curate.epochOrder(t(s, d, "documents"), epoch = 1, nShards = 8,
        mode = HashMode.Portable),
      s"""SELECT doc_id, CAST(h % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM (SELECT doc_id,
        |  ${h60("'epoch1:' || CAST(doc_id AS VARCHAR)")} AS h FROM documents)""".stripMargin,
      Some(Pin(0.16, 0.134))),
    Gate("q_source_cap", (s, d) =>
      Curate.capPerSource(t(s, d, "documents"), cap = 10)
        .select(col("doc_id"), col("source")),
      """SELECT doc_id, source FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) <= 10""".stripMargin,
      Some(Pin(0.59, 0.345, baseline = true))),
    Gate("q_stratified_sample", (s, d) =>
      Curate.stratifiedSample(t(s, d, "documents"), Seq("lang", "source"),
        k = 3, mode = HashMode.Portable)
        .select(col("doc_id"), col("lang"), col("source")),
      s"""SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ${h60("'strat:' || CAST(doc_id AS VARCHAR)")} AS h
        |  FROM documents)
        |QUALIFY row_number() OVER (PARTITION BY lang, source
        |  ORDER BY h ASC, doc_id ASC) <= 3""".stripMargin,
      Some(Pin(0.39, 0.357))),
    Gate("q_weighted_sample", (s, d) =>
      Curate.weightedSample(t(s, d, "documents"), k = 25, weightCol = "n_chars",
        mode = HashMode.Portable)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      // sequential-Poisson priority: EXACT integer arithmetic end to end —
      // DuckDB `//` is floor division, Spark `div` truncates, identical for
      // the non-negative Portable hash
      s"""SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      ${h60("'wsamp:' || CAST(doc_id AS VARCHAR)")} // n_chars AS pri
        |    FROM documents WHERE n_chars > 0)
        |  ORDER BY pri ASC, doc_id ASC LIMIT 25)""".stripMargin,
      Some(Pin(0.38, 0.209))),
    Gate("q_window_chunks", (s, d) =>
      TextOps.windowChunks(t(s, d, "documents"), maxTokens = 30, overlap = 10)
        .select(col("doc_id"), col("window_idx"), col("n_tokens"),
          col("chunk_text")),
      // stride = 30 - 10 = 20; window count is pure integer arithmetic in
      // both engines ((n - 30 + 19) // 20), slices are token-aligned
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(coalesce(text, ''), '\S+') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) <= 30 THEN 1
        |         ELSE 1 + (len(toks) - 30 + 19) // 20 END AS nw
        |  FROM t),
        |x AS (SELECT doc_id, toks, n, unnest(generate_series(0, nw - 1)) AS wi FROM w)
        |SELECT doc_id, CAST(wi AS INT) AS window_idx,
        |  CAST(least(30, n - wi * 20) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[wi*20+1 : wi*20+30], ' ') AS chunk_text
        |FROM x""".stripMargin,
      Some(Pin(0.44, 0.209))),
    Gate("q_upsample", (s, d) =>
      Curate.upsampleBySource(t(s, d, "documents"),
        Map("src0" -> 2.5, "src1" -> 0.3, "src2" -> 0.0),
        mode = HashMode.Portable)
        .select(col("doc_id"), col("source"), col("copy")),
      s"""WITH f AS (
        |  SELECT d.doc_id, d.source,
        |    CASE d.source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 0 ELSE 1 END
        |    + CASE WHEN ${h60("'upsample:' || CAST(doc_id AS VARCHAR)")} % 100 <
        |        (CASE d.source WHEN 'src0' THEN 50 WHEN 'src1' THEN 30 WHEN 'src2' THEN 0 ELSE 0 END)
        |      THEN 1 ELSE 0 END AS copies
        |  FROM documents d)
        |SELECT doc_id, source, CAST(unnest(generate_series(1, copies)) AS INT) AS copy
        |FROM f WHERE copies > 0""".stripMargin,
      Some(Pin(0.32, 0.107))),
    // end-to-end curation pipeline: quality filter → exact dedup →
    // weighted mixture → split assignment, composed exactly as a user
    // would chain them — gates that the operators compose, not just that
    // each works alone
    Gate("q_curation_pipeline", (s, d) => {
      val quality = TextOps.textQuality(t(s, d, "documents"))
        .filter(col("keep")).select(col("doc_id"))
      val docs = t(s, d, "documents").join(quality, Seq("doc_id"), "left_semi")
      val deduped = TextOps.dedupExact(docs)
      val mixed = Curate.mixBySource(deduped,
        Map("src0" -> 0, "src1" -> 25, "src2" -> 50), defaultPercent = 75,
        mode = HashMode.Portable)
      Curate.assignSplits(mixed,
        Seq("train" -> 80, "val" -> 10, "test" -> 10), mode = HashMode.Portable)
        .select(col("doc_id"), col("lang"), col("source"), col("split"))
    },
      s"""WITH q AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      0.4 * least($ntok / 100.0, 1.0) + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '$punct')) AS DOUBLE) / greatest(length(text), 1))
        |        + 0.3 * least(CAST(len(regexp_extract_all(lower(text), '\\b(the|a|an|of|to|and|in|is|it|that|for|on|with|as)\\b')) AS DOUBLE) / greatest($ntok, 1) * 5.0, 1.0) AS score
        |    FROM documents)
        |  WHERE score >= 0.5),
        |kept AS (SELECT d.* FROM documents d JOIN q USING (doc_id)),
        |dd AS (
        |  SELECT doc_id, lang, source FROM (
        |    SELECT doc_id, lang, source,
        |      md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        |    FROM kept)
        |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)),
        |mixed AS (
        |  SELECT * FROM dd
        |  WHERE ${h60("'mix:' || CAST(doc_id AS VARCHAR)")} % 100 <
        |    CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 25
        |                WHEN 'src2' THEN 50 ELSE 75 END)
        |SELECT doc_id, lang, source,
        |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang, source,
        |  ${h60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS h FROM mixed)""".stripMargin),
    // the round-6 pipeline: quality-rule battery → exact dedup →
    // multi-epoch upsampling → context-window chunking, composed exactly
    // as a user would chain them into a training-ready chunk table
    Gate("q_curation_pipeline2", (s, d) => {
      val docs = t(s, d, "documents")
      val kept = docs.join(
        TextOps.gopherRules(docs, TextOps.GopherThresholds(minWords = 30,
          minMeanWordLen = 4.0, minStopwords = 1))
          .filter(col("gopher_keep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val canon = kept.join(TextOps.dedupExact(kept).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val up = Curate.upsampleBySource(canon,
        Map("src0" -> 2.5, "src1" -> 0.3, "src2" -> 0.0),
        mode = HashMode.Portable)
      TextOps.windowChunks(up, maxTokens = 30, overlap = 10)
        .select(col("doc_id"), col("source"), col("copy"), col("window_idx"),
          col("n_tokens"), col("chunk_text"))
    },
      s"""WITH keepids AS (
        |  SELECT doc_id FROM ($gopherRulesSql) gg WHERE gg.gopher_keep),
        |k AS (SELECT d.* FROM documents d JOIN keepids USING (doc_id)),
        |fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        |  FROM k),
        |canon AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS m FROM fp)
        |  WHERE doc_id = m),
        |c AS (SELECT k.* FROM k JOIN canon USING (doc_id)),
        |u AS (
        |  SELECT doc_id, source, text,
        |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 0 ELSE 1 END
        |    + CASE WHEN ${h60("'upsample:' || CAST(doc_id AS VARCHAR)")} % 100 <
        |        (CASE source WHEN 'src0' THEN 50 WHEN 'src1' THEN 30 WHEN 'src2' THEN 0 ELSE 0 END)
        |      THEN 1 ELSE 0 END AS copies
        |  FROM c),
        |uc AS (
        |  SELECT doc_id, source, text,
        |    CAST(unnest(generate_series(1, copies)) AS INT) AS copy
        |  FROM u WHERE copies > 0),
        |t2 AS (
        |  SELECT doc_id, source, copy,
        |    regexp_extract_all(coalesce(text, ''), '\\S+') AS toks
        |  FROM uc),
        |w2 AS (
        |  SELECT *, len(toks) AS n,
        |    CASE WHEN len(toks) <= 30 THEN 1
        |         ELSE 1 + (len(toks) - 30 + 19) // 20 END AS nw
        |  FROM t2),
        |x2 AS (
        |  SELECT doc_id, source, copy, toks, n,
        |    unnest(generate_series(0, nw - 1)) AS wi
        |  FROM w2)
        |SELECT doc_id, source, copy, CAST(wi AS INT) AS window_idx,
        |  CAST(least(30, n - wi * 20) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[wi*20+1 : wi*20+30], ' ') AS chunk_text
        |FROM x2""".stripMargin,
      Some(Pin(1.54, 0.941))),
    // the COMPOSED stateless ingest-curation chain (StreamCurate — the
    // production shape: offline artifacts over the governed corpus, a
    // pure projection chain over arrivals that runs identically on
    // readStream, spec-pinned). Fixture: the corpus gets a shared
    // boilerplate footer LINE and a duplicated 3-sentence BLOCK on
    // every doc (so both artifacts are non-trivial); arrivals re-wrap
    // the same pages in html plus ONE exclusive injection on doc_id % 4
    // (Luhn-valid card / email / a 14-invented-token eval sentence /
    // nothing). The 8 exact-duplicate corpus texts at sf0.1 exercise
    // the dup branch: their line-1 is corpus-frequent, so the line
    // stage removes it whole (n_boiler=2, no block sentences left for
    // the span stage) — the oracle models both branches.
    // not benched: corpus-wide, but it re-runs seven already-benched stage
    // families end to end, so benching it would double-count every one — the
    // q_substr_strip precedent; its cost profile lives in PERF.md r11.
    Gate("q_curation_ingest", (s, d) => {
      val m = col("doc_id") % 4
      val docs = t(s, d, "documents")
      val corpus = docs.select(col("doc_id"),
        concat(col("text"),
          lit(". " + IngestBlock + "\n" + IngestFooter)).as("text"))
      val arrivals = docs.select(col("doc_id"),
        concat(lit("<p>"), col("text"),
          lit(". " + IngestBlock + "</p>\n" + IngestFooter + "\n"),
          when(m === 0, lit(IngestInjCard + " "))
            .when(m === 1, lit(IngestInjEmail + " "))
            .when(m === 2, lit(IngestEval + " "))
            .otherwise(lit("")),
          lit(IngestExtras),
          // m=3's exclusive dirt: the quote-terminated trailing line
          when(m === 3, lit("\n" + IngestTail)).otherwise(lit(""))).as("text"))
      val arts = graft.stream.StreamCurate.Artifacts(
        frequentLines = Curate.frequentLines(corpus),
        frequentShingles = graft.ops.ExactSubstr.frequentShingles(corpus),
        evalDocs = {
          import s.implicits._
          Seq((0L, IngestEval)).toDF("doc_id", "text")
        })
      graft.stream.StreamCurate.curate(arrivals, arts)
    },
      // the ingest-chain oracle recomputes the whole composed pipeline
      // from the fixture constants: line/span artifacts reduce to their
      // SEMANTICS (a line stripped iff corpus-frequent; the block span
      // always stripped; a DUPLICATE corpus text makes its line-1
      // corpus-frequent, so dup docs lose the whole line at the LINE
      // stage — n_boiler 2, n_dup 0), then the C4 line battery, the
      // default-threshold Gopher metrics over the composed text, the
      // m-class contamination/card/email facts, and the final redacted
      // string — the Bloom filters, shingle hashing, and sentence
      // machinery are all on the hook against a plain-string recompute
      s"""WITH dup AS (
        |  SELECT text FROM documents GROUP BY text HAVING count(*) > 1),
        |base AS (
        |  SELECT d.doc_id, d.doc_id % 4 AS m,
        |    (dup.text IS NOT NULL) AS is_dup, d.text
        |  FROM documents d LEFT JOIN dup ON dup.text = d.text),
        |comp AS (
        |  SELECT doc_id, m, is_dup,
        |    -- t3: the FINAL text (post span-rebuild, single line)
        |    (CASE WHEN is_dup THEN '' ELSE text || '. ' END) ||
        |    (CASE m WHEN 0 THEN 'Pay [CARD] for this now. '
        |            WHEN 1 THEN 'Mail [EMAIL] about this today. '
        |            WHEN 2 THEN '$IngestEval '
        |            ELSE '' END) ||
        |    '$IngestExtras' AS t3,
        |    -- tc4: the PRE-span text the C4/Gopher stages read (the
        |    -- duplicated block still present, lines intact)
        |    (CASE WHEN is_dup THEN ''
        |          ELSE text || '. $IngestBlock' || chr(10) END) ||
        |    (CASE m WHEN 0 THEN 'Pay [CARD] for this now. '
        |            WHEN 1 THEN 'Mail [EMAIL] about this today. '
        |            WHEN 2 THEN '$IngestEval '
        |            ELSE '' END) ||
        |    '$IngestExtras' ||
        |    (CASE WHEN m = 3 THEN chr(10) || '$IngestTail' ELSE '' END) AS tc4
        |  FROM base),
        |c4 AS (
        |  SELECT *,
        |    array_to_string(list_filter(string_split(tc4, chr(10)), l ->
        |      regexp_matches(l, '[.!?"]\\s*$$')
        |        AND len(regexp_extract_all(l, '\\S+')) >= 3
        |        AND NOT contains(lower(l), 'javascript')), chr(10)) AS t4
        |  FROM comp),
        |c4f AS (
        |  SELECT *,
        |    (CAST(len(regexp_extract_all(t4, '[.!?]')) AS BIGINT) >= 5
        |      AND NOT contains(lower(tc4), 'lorem ipsum')
        |      AND NOT contains(tc4, '{')) AS c4_keep
        |  FROM c4),
        |g AS (
        |  SELECT *,
        |    CAST(len(regexp_extract_all(t4, '\\S+')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(t4, '\\S')) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(t4, '\\S+')), 1) AS mean_word_len,
        |    CAST(len(regexp_extract_all(t4, '#')) + len(regexp_extract_all(t4, '\\.\\.\\.'))
        |      + len(regexp_extract_all(t4, '\\x{2026}')) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(t4, '\\S+')), 1) AS symbol_ratio,
        |    CAST(len(list_filter(string_split(t4, chr(10)),
        |        l -> regexp_matches(l, '^\\s*[-*\\x{2022}]'))) AS DOUBLE)
        |      / greatest(len(string_split(t4, chr(10))), 1) AS bullet_ratio,
        |    CAST(len(list_filter(string_split(t4, chr(10)),
        |        l -> regexp_matches(l, '(\\.\\.\\.|\\x{2026})\\s*$$'))) AS DOUBLE)
        |      / greatest(len(string_split(t4, chr(10))), 1) AS ellipsis_ratio,
        |    CAST(len(list_filter(regexp_extract_all(t4, '\\S+'),
        |        w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(t4, '\\S+')), 1) AS alpha_ratio,
        |    CAST(CAST(regexp_matches(lower(t4), '\\bthe\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\bbe\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\bto\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\bof\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\band\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\bthat\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\bhave\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\bwith\\b') AS INT) AS BIGINT) AS n_stop
        |  FROM c4f),
        |gk AS (
        |  SELECT *,
        |    (n_words >= 50 AND n_words <= 100000
        |      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |      AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
        |      AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
        |      AND n_stop >= 2) AS gopher_keep
        |  FROM g)
        |SELECT doc_id,
        |  t3 AS text,
        |  (c4_keep AND gopher_keep AND NOT (m = 2)) AS keep,
        |  c4_keep, gopher_keep,
        |  (m = 2) AS might_contaminated,
        |  CAST(CASE WHEN is_dup THEN 2 ELSE 1 END AS BIGINT) AS n_boilerplate_lines,
        |  CAST(CASE WHEN is_dup THEN 0 ELSE 3 END AS BIGINT) AS n_dup_sentences,
        |  CAST(CASE WHEN m = 3 THEN 1 ELSE 0 END AS BIGINT) AS n_tail_dropped,
        |  CAST(CASE WHEN m = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_cards,
        |  CAST(CASE WHEN m = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_redactions
        |FROM gk""".stripMargin),
    Gate("q_split_assign", (s, d) =>
      Curate.assignSplits(t(s, d, "documents"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10), mode = HashMode.Portable)
        .select(col("doc_id"), col("source"), col("split")),
      s"""SELECT doc_id, source,
        |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |  ${h60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS h FROM documents)""".stripMargin),
    Gate("q_mixture", (s, d) =>
      Curate.mixBySource(t(s, d, "documents"),
        Map("src0" -> 0, "src1" -> 25, "src2" -> 50), defaultPercent = 75,
        mode = HashMode.Portable)
        .select(col("doc_id"), col("source")),
      s"""SELECT doc_id, source FROM documents
        |WHERE ${h60("'mix:' || CAST(doc_id AS VARCHAR)")} % 100 <
        |  CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 25
        |              WHEN 'src2' THEN 50 ELSE 75 END""".stripMargin),
    Gate("q_pack_chunks", (s, d) =>
      // tokenCount (regexp_count of \S+) rather than size(split(...)):
      // the latter counts 1 for empty text, diverging from the oracle
      // shards = 1 pinned: the oracle computes the exact id-ordered
      // layout. (The METHOD default is AutoShards — data-sized bounded
      // tasks — which CurateSpec covers; at gate scale auto resolves to
      // 1, but the gate should not depend on that.)
      Curate.packChunks(
        t(s, d, "documents").withColumn("n_tokens",
          TextOps.tokenCount(col("text"))),
        budget = 512, shards = 1)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("chunk_id")),
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0) AS BIGINT) AS chunk_id
        |FROM t""".stripMargin,
      // budget: RE-BASED in r10 with bisect evidence (PERF.md r10): every
      // line of this dataflow (packChunks shards=1 branch, tokenCount,
      // T.load, the query body) is byte-identical between the r5 baseline pin
      // and HEAD — the drift (0.165 -> 0.42 idle warmed best-of-3) is harness
      // context, not code: the warm-up pass grew 13 -> 83 queries and the r8
      // round-robin experiment already measured that JIT/codegen-cache thrash
      // at ~1.5x uniform. New base = r10 idle TimeTool warmed best-of-3 0.425
      // × 1.3.
      // pin: re-based r10 (idle TimeTool warmed best-of-3) after a git bisect
      // proved the dataflow byte-identical to the r5 pin — the 0.165 original
      // is unreproducible under the 6x-larger warm-up pass (PERF.md r10).
      Some(Pin(0.55, 0.425, baseline = true))),
    // chunk ids -> actual packed sequences (deterministic id-ordered concat)
    Gate("q_pack_text", (s, d) =>
      Curate.packText(
        Curate.packChunks(
          t(s, d, "documents").withColumn("n_tokens",
            TextOps.tokenCount(col("text"))),
          budget = 512, shards = 1))
        .select(col("source"), col("chunk_id"), col("n_docs"), col("packed_text")),
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, text,
        |    CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0) AS BIGINT) AS chunk_id
        |  FROM t)
        |SELECT source, chunk_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  string_agg(text, ' ' ORDER BY doc_id ASC) AS packed_text
        |FROM c GROUP BY 1, 2""".stripMargin),
    Gate("q_truncate", (s, d) =>
      TextOps.truncateTokens(t(s, d, "documents"), maxTokens = 32)
        .select(col("doc_id"), col("text"), col("n_tokens_kept")),
      """SELECT doc_id,
        |  array_to_string(regexp_extract_all(text, '\S+')[1:32], ' ') AS text,
        |  CAST(least(len(regexp_extract_all(text, '\S+')), 32) AS BIGINT) AS n_tokens_kept
        |FROM documents""".stripMargin),
    // the sharded (bounded-task) path: per-(source, shard) running sums +
    // broadcast prefix offsets are provably equal to ONE running sum in
    // shard-major (shard, id) order — which is exactly what the oracle
    // computes, so the distributed construction is gated end-to-end
    Gate("q_pack_chunks_sharded", (s, d) =>
      Curate.packChunks(
        t(s, d, "documents").withColumn("n_tokens",
          TextOps.tokenCount(col("text"))),
        budget = 512, shards = 4)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("chunk_id")),
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY source
        |    ORDER BY doc_id % 4 ASC, doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0) AS BIGINT) AS chunk_id
        |FROM t""".stripMargin,
      // budget: RE-BASED in r10 with q_pack_chunks (same bisect evidence):
      // r10 idle TimeTool warmed best-of-3 0.514 × 1.3.
      // pin: re-based r10 with q_pack_chunks; the 0.260 original is
      // unreproducible for the same reason.
      Some(Pin(0.67, 0.514, baseline = true)))
  )
}
