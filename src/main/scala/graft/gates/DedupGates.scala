package graft
package gates

import graft.ops.{Curate, ExactSubstr, Fuzzy, HashMode, NearDup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Exact, substring, line, MinHash, SimHash and fuzzy deduplication, and
  * benchmark decontamination. */
object DedupGates {

  /** The 13-gram decontamination oracle — shared verbatim by
    * q_decontaminate (exact) and q_decontaminate_bloom (bloom-prefiltered,
    * output-identical by construction). */
  private def decontaminateSql: String =
    s"""WITH $toksCte,
      |p AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos, toks FROM t),
      |g13 AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[pos:pos+12], ' ') AS gram
      |  FROM p WHERE pos + 12 <= len(toks)),
      |ev AS (SELECT DISTINCT gram FROM g13 WHERE doc_id < 50)
      |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      |FROM g13 s JOIN ev ON ev.gram = s.gram
      |WHERE s.doc_id >= 50
      |GROUP BY 1""".stripMargin

  /** Shared CTE chain for the ExactSubstr gates (l = 20): duplicated
    * window detection + per-doc island merge; `selectSpans` picks the
    * spans output, else the stripped-text output. */
  private def substrCtes: String = {
    val l = 20
    s"""WITH $toksCte,
        |u AS (SELECT doc_id, toks,
        |  unnest(generate_series(1, len(toks) - ${l - 1})) AS pos FROM t),
        |w AS (SELECT doc_id, pos,
        |  md5(array_to_string(toks[pos:pos+${l - 1}], ' ')) AS wh FROM u),
        |dd AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2),
        |p AS (SELECT w.doc_id, w.pos FROM w JOIN dd USING (wh)),
        |brk AS (SELECT doc_id, pos,
        |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $l
        |       THEN 0 ELSE 1 END AS b
        |  FROM p),
        |isl AS (SELECT doc_id, pos, sum(b) OVER (
        |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
        |  FROM brk),
        |sp AS (SELECT doc_id, min(pos) AS start_tok, max(pos) + ${l - 1} AS end_tok
        |  FROM isl GROUP BY doc_id, g)""".stripMargin
  }

  private def substrSpansSql(selectSpans: Boolean): String =
    if (selectSpans)
      s"""$substrCtes
        |SELECT doc_id, CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(end_tok AS BIGINT) AS end_tok,
        |  CAST(end_tok - start_tok + 1 AS BIGINT) AS n_tokens
        |FROM sp""".stripMargin
    else
      s"""$substrCtes,
        |$substrKeptCtes
        |SELECT t.doc_id, coalesce(agg.txt, '') AS text
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin

  /** Shared strip tail: tokens outside every span, re-joined in order. */
  private def substrKeptCtes: String =
    """e AS (SELECT doc_id, unnest(toks) AS tok,
      |  generate_subscripts(toks, 1) AS pos FROM t),
      |kept AS (
      |  SELECT e.doc_id, e.tok, e.pos
      |  FROM e LEFT JOIN sp ON sp.doc_id = e.doc_id
      |    AND e.pos BETWEEN sp.start_tok AND sp.end_tok
      |  WHERE sp.doc_id IS NULL),
      |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt,
      |  count(*) AS n_kept
      |  FROM kept GROUP BY doc_id)""".stripMargin

  /** q_substr_strip_flag oracle: the exact strip plus the flag path's
    * token accounting. `n_tokens` follows the engine's split contract
    * (an empty doc counts one empty token — greatest(len, 1));
    * `n_removed` counts real tokens cut, identical in both spellings. */
  private def substrStripFlagSql: String =
    s"""$substrCtes,
      |$substrKeptCtes
      |SELECT t.doc_id, coalesce(agg.txt, '') AS text,
      |  CAST(greatest(len(t.toks), 1) AS BIGINT) AS n_tokens,
      |  CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
      |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin

  /** Shared shingle prologue mirroring `NearDup.explodedShingles` including
    * the whole-doc fallback for documents with < 3 tokens (`shinglesOf`'s
    * `wholeDocFallback`); `shf` keeps positional order for winnowing, `d`
    * is the distinct set, `n` the per-doc distinct-shingle counts. */
  private def shingleCtes: String =
    """t AS (
      |  SELECT doc_id,
      |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
      |  FROM documents),
      |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
      |sh AS (
      |  SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle, a.pos
      |  FROM e a
      |  JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |  JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
      |shf AS (
      |  SELECT doc_id, shingle, pos FROM sh
      |  UNION ALL
      |  SELECT doc_id, array_to_string(toks, ' ') AS shingle, 1 AS pos
      |  FROM t WHERE len(toks) < 3),
      |d AS (SELECT DISTINCT doc_id, shingle FROM shf),
      |n AS (SELECT doc_id, count(*) AS nsh FROM d GROUP BY 1)""".stripMargin

  /** The 32 seeded minhash aggregates — double hashing `min(h1 + i*h2)`
    * over the per-shingle digest halves, the DuckDB spelling of
    * `HashMode.Portable.seededHash(i)` (requires a `prep` CTE providing
    * h1/h2). */
  private def minhashSigSql: String =
    (0 until NearDup.MinHashK)
      .map(i => s"    min(h1 + $i * h2) AS mh$i")
      .mkString(",\n")

  /** Per-shingle digest halves matching `HashMode.Portable.minhashPrep`. */
  private def minhashPrepCte: String =
    """prep AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
      |    CAST(('0x' || substr(md5(shingle), 17, 13)) AS BIGINT) AS h2
      |  FROM d)""".stripMargin

  /** The full MinHash-LSH pair pipeline as CTEs (after [[shingleCtes]]):
    * signatures → bands → size-blocked candidates → exact verify →
    * `pr(doc_a, doc_b, jaccard)`. ONE definition — q_dedup_minhash reads
    * `pr` directly and q_dedup_cluster builds components over it, so the
    * two gated queries can never drift apart. */
  private def minhashPairCtes: String =
    s"""$minhashPrepCte,
      |sig AS (
      |  SELECT doc_id,
      |$minhashSigSql
      |  FROM prep GROUP BY 1),
      |banded AS (
      |$minhashBandsSql),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM banded x
      |  JOIN banded y ON y.band = x.band AND y.band_hash = x.band_hash
      |    AND x.doc_id < y.doc_id
      |  JOIN n nx ON nx.doc_id = x.doc_id
      |  JOIN n ny ON ny.doc_id = y.doc_id
      |  WHERE least(nx.nsh, ny.nsh) >= 0.7 * greatest(nx.nsh, ny.nsh)),
      |p AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS common
      |  FROM cand c
      |  JOIN d x ON x.doc_id = c.doc_a
      |  JOIN d y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      |  GROUP BY 1, 2),
      |pr AS (
      |  SELECT doc_a, doc_b,
      |    round(CAST(common AS DOUBLE) / (na.nsh + nb.nsh - common), 6) AS jaccard
      |  FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
      |  WHERE round(CAST(common AS DOUBLE) / (na.nsh + nb.nsh - common), 6) >= 0.7)""".stripMargin

  /** The 8 LSH band hashes over 4-signature slices, as a UNION ALL. */
  private def minhashBandsSql: String = {
    val rows = NearDup.MinHashK / NearDup.MinHashBands
    (0 until NearDup.MinHashBands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => s"mh$i").mkString(", ")
      s"  SELECT doc_id, $b AS band, ${h60(s"concat_ws(':', $cols)")} AS band_hash FROM sig"
    }.mkString("\n  UNION ALL\n")
  }

  /** ±1 vote per bit of the 60-bit portable hash (simhash twin). */
  private def simhashVoteSql: String =
    (0 until 60)
      .map(j => s"    sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n")

  /** Fold the 60 vote signs back into one BIGINT. */
  private def simhashFoldSql: String =
    (0 until 60)
      .map(j => s"(CASE WHEN b$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")

  /** The sentence-span fixture of q_dedup_sentences and
    * q_frequent_shingles: a doc-unique opener carrying the corpus text,
    * a SHARED 3-sentence block on every 4th doc, a doc-unique closer. */
  private def sentencePages(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"), concat(
      lit("Doc "), col("doc_id").cast("string"), lit(" says "), col("text"), lit("."),
      when(col("doc_id") % 4 === 0,
        lit(" Shared sentence one. Shared sentence two. Shared sentence three."))
        .otherwise(lit("")),
      lit(" Doc "), col("doc_id").cast("string"), lit(" closes now.")).as("text"))

  /** [[sentencePages]] in SQL (`dirty`), split into whitespace-trimmed
    * sentences (`t`), and the start of every 3-sentence shingle (`u`). */
  private val sentenceCtes: String =
    """dirty AS (
      |  SELECT doc_id,
      |    'Doc ' || doc_id || ' says ' || text || '.' ||
      |    CASE WHEN doc_id % 4 = 0
      |      THEN ' Shared sentence one. Shared sentence two. Shared sentence three.'
      |      ELSE '' END ||
      |    ' Doc ' || doc_id || ' closes now.' AS t2
      |  FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(regexp_extract_all(coalesce(t2, ''), '[^.!?]*[.!?]'),
      |      s -> regexp_replace(s, '^\s+|\s+$', '')), s -> s != '') AS sents
      |  FROM dirty),
      |u AS (SELECT doc_id, sents,
      |  unnest(generate_series(1, len(sents) - 2)) AS pos FROM t)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // C4's third component: duplicated 3-sentence-span removal, keep
    // first. Pages get a doc-unique opener (carries doc_id + the corpus
    // text), every 4th doc a SHARED 3-sentence block, a doc-unique
    // closer — so exactly one interior shingle repeats across the class,
    // the lowest doc_id keeps it, every later one loses those 3
    // sentences; 2-sentence non-class docs shingle nothing
    Gate("q_dedup_sentences", (s, d) =>
      graft.ops.ExactSubstr.dedupSentenceSpans(sentencePages(s, d)),
      // sentence-span dedup twin: the same shingle/rank chain with KEEPER
      // PROTECTION — a sentence is removed iff a flagged (rk>1) shingle
      // covers it and no keeper (rk=1) shingle of the doc does; the
      // lookaround-free sentence regex, the WHITESPACE trim (regex, not
      // trim() — both engines' trim() strips spaces only, and sentencesCol
      // r11 moved to an all-whitespace trim so line-break-adjacent
      // sentences match their artifact twins), and the
      // md5-of-joined-shingle are the Spark spellings verbatim.
      // coalesce(t2, '') keeps the oracle total like the Spark side
      // (concat of a NULL text is NULL)
      s"""WITH $sentenceCtes,
        |w AS (SELECT doc_id, pos,
        |  md5(array_to_string(sents[pos:pos+2], ' ')) AS sh FROM u),
        |r AS (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rk,
        |  count(*) OVER (PARTITION BY sh) AS cnt FROM w),
        |p AS (SELECT doc_id, pos FROM r WHERE cnt >= 2 AND rk > 1),
        |kp AS (SELECT doc_id, pos FROM r WHERE cnt >= 2 AND rk = 1),
        |e AS (SELECT doc_id, unnest(sents) AS s,
        |  generate_subscripts(sents, 1) AS spos FROM t),
        |cov AS (SELECT DISTINCT e.doc_id, e.spos
        |  FROM e JOIN p ON p.doc_id = e.doc_id
        |    AND e.spos BETWEEN p.pos AND p.pos + 2),
        |prot AS (SELECT DISTINCT e.doc_id, e.spos
        |  FROM e JOIN kp ON kp.doc_id = e.doc_id
        |    AND e.spos BETWEEN kp.pos AND kp.pos + 2),
        |rem AS (SELECT doc_id, spos FROM cov
        |  EXCEPT SELECT doc_id, spos FROM prot),
        |kept AS (
        |  SELECT e.doc_id, e.s, e.spos
        |  FROM e LEFT JOIN rem ON rem.doc_id = e.doc_id AND rem.spos = e.spos
        |  WHERE rem.doc_id IS NULL),
        |agg AS (SELECT doc_id, string_agg(s, ' ' ORDER BY spos) AS txt,
        |  count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.txt, '') AS clean_text,
        |  CAST(len(t.sents) AS BIGINT) AS n_sentences,
        |  CAST(len(t.sents) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,
      // budget: 0.767 s warmed (r10).
      Some(Pin(1.0, 0.361))),
    Gate("q_boilerplate", (s, d) => Curate.boilerplateRatio(t(s, d, "documents")),
      s"""WITH $toksCte,
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |g AS (
        |  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS gram
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |           JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
        |df AS (SELECT gram, count(*) AS nd FROM g GROUP BY 1),
        |boiler AS (SELECT gram FROM df WHERE nd >= 3),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
        |nb AS (SELECT g.doc_id, count(*) AS n_boiler FROM g JOIN boiler USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(tot.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(nb.n_boiler, 0) AS BIGINT) AS n_boiler,
        |  CASE WHEN coalesce(tot.n_grams, 0) > 0
        |       THEN round(CAST(coalesce(nb.n_boiler, 0) AS DOUBLE) / tot.n_grams, 6)
        |       ELSE 0.0 END AS boiler_ratio
        |FROM documents d LEFT JOIN tot ON tot.doc_id = d.doc_id
        |  LEFT JOIN nb ON nb.doc_id = d.doc_id""".stripMargin,
      Some(Pin(0.74, 0.572))),
    Gate("q_fingerprint", (s, d) => TextOps.fingerprintGroups(t(s, d, "documents")),
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  CAST(count(*) AS BIGINT) AS group_size, min(doc_id) AS canonical_doc_id
        |FROM documents GROUP BY 1""".stripMargin),
    Gate("q_dedup_exact", (s, d) => TextOps.dedupExact(t(s, d, "documents")),
      """SELECT doc_id, lang, source, fingerprint FROM (
        |  SELECT doc_id, lang, source,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents)
        |QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fingerprint)""".stripMargin,
      Some(Pin(0.31, 0.240, baseline = true))),
    Gate("q_containment", (s, d) =>
      NearDup.containmentPairs(t(s, d, "documents"), threshold = 0.5,
        maxShingleDf = 100),
      s"""WITH $shingleCtes,
        |keep AS (SELECT shingle FROM d GROUP BY shingle HAVING count(*) <= 100),
        |kd AS (SELECT d.doc_id, d.shingle FROM d JOIN keep USING (shingle)),
        |kn AS (SELECT doc_id, count(*) AS nk FROM kd GROUP BY 1),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM kd a JOIN kd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, cont_a, cont_b, greatest(cont_a, cont_b) AS containment
        |FROM (
        |  SELECT doc_a, doc_b,
        |    round(CAST(common AS DOUBLE) / ka.nk, 6) AS cont_a,
        |    round(CAST(common AS DOUBLE) / kb.nk, 6) AS cont_b
        |  FROM pr JOIN kn ka ON ka.doc_id = doc_a JOIN kn kb ON kb.doc_id = doc_b)
        |WHERE greatest(cont_a, cont_b) >= 0.5""".stripMargin),
    Gate("q_dedup_ngram", (s, d) => NearDup.ngramPairs(t(s, d, "documents")),
      s"""WITH $shingleCtes,
        |p AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        |  FROM d x JOIN d y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(common AS DOUBLE) / (na.nsh + nb.nsh - common), 6) AS jaccard
        |FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
        |WHERE round(CAST(common AS DOUBLE) / (na.nsh + nb.nsh - common), 6) >= 0.7""".stripMargin),
    Gate("q_substr_spans", (s, d) =>
      ExactSubstr.duplicatedSpans(t(s, d, "documents"), l = 20),
      // exact-substring dedup: duplicated length-20 token windows, merged per
      // doc into maximal spans (ExactSubstr); md5-of-window parity with Spark
      substrSpansSql(selectSpans = true),
      // benched: the cost driver of the spans computation q_substr_strip
      // shares.
      // budget: 1.07 s warmed (r6).
      Some(Pin(1.39, 1.066))),
    // the doc-level duplication score a RefinedWeb-style budget filter
    // thresholds on: span cover size / token count, 0.0 for clean and
    // sub-window-length docs (total — every doc emits a row)
    Gate("q_dup_fraction", (s, d) =>
      ExactSubstr.dupFraction(t(s, d, "documents"), l = 20),
      // the doc-level reduction of the same span CTE chain: disjoint span
      // cover summed per doc over the total token count, 0.0 coalesced
      s"""$substrCtes,
        |dfr AS (
        |  SELECT doc_id, sum(end_tok - start_tok + 1) AS ndup
        |  FROM sp GROUP BY doc_id),
        |tokc AS (SELECT doc_id, len(toks) AS n_tokens FROM t)
        |SELECT tokc.doc_id, CAST(tokc.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(coalesce(dfr.ndup, 0) AS BIGINT) AS n_dup_tokens,
        |  CASE WHEN tokc.n_tokens > 0
        |       THEN round(CAST(coalesce(dfr.ndup, 0) AS DOUBLE) / tokc.n_tokens, 6)
        |       ELSE 0.0 END AS dup_fraction
        |FROM tokc LEFT JOIN dfr USING (doc_id)""".stripMargin),
    // not benched: it shares the spans computation; q_substr_spans is the
    // cost driver and is what gets benched.
    Gate("q_substr_strip", (s, d) => {
      val docs = t(s, d, "documents")
      ExactSubstr.stripSpans(docs, ExactSubstr.duplicatedSpans(docs, l = 20))
    }, substrSpansSql(selectSpans = false)),
    // Bloom-probe twin gated on the exact semantics (same precedent as
    // q_decontaminate_bloom): at fpp 1e-6 over this corpus the flag path
    // is output-identical to the span pipeline, and the oracle proves it
    Gate("q_substr_strip_flag", (s, d) => {
      val docs = t(s, d, "documents")
      ExactSubstr.stripSubstrFlag(docs,
        ExactSubstr.frequentWindows(docs, l = 20), l = 20)
    }, substrStripFlagSql),
    // hash-based dedup ops run in HashMode.Portable here so the DuckDB
    // oracle can recompute identical signatures; the library default stays
    // xxhash64. Bench resolves THIS map, so it times the Portable path —
    // deliberately: the benched code is exactly the hash-gated code
    // (within ~6% of xxhash64 after the double-hashing rewrite, PERF.md)
    Gate("q_dedup_minhash", (s, d) =>
      NearDup.minhashPairs(t(s, d, "documents"), mode = HashMode.Portable),
      // portable-hash twins of the LSH pipelines: DuckDB recomputes the exact
      // 60-bit md5-derived signatures NearDup produces under HashMode.Portable,
      // so banding/candidate selection is replicated bit-for-bit
      s"""WITH $shingleCtes,
        |$minhashPairCtes
        |SELECT doc_a, doc_b, jaccard FROM pr""".stripMargin,
      Some(Pin(1.91, 1.183, baseline = true))),
    Gate("q_dedup_simhash", (s, d) =>
      NearDup.simhashPairs(t(s, d, "documents"), maxHamming = 3, mode = HashMode.Portable),
      s"""WITH tk AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+')) AS tok
        |  FROM documents),
        |hh AS (SELECT doc_id, ${h60("tok")} AS h FROM tk),
        |v AS (
        |  SELECT doc_id,
        |$simhashVoteSql
        |  FROM hh GROUP BY 1),
        |s AS (SELECT doc_id, $simhashFoldSql AS simhash FROM v)
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
        |FROM s x JOIN s y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin),
    Gate("q_winnow_pairs", (s, d) =>
      NearDup.winnowPairs(t(s, d, "documents"), mode = HashMode.Portable),
      s"""WITH $shingleCtes,
        |hh AS (
        |  SELECT doc_id, pos, ${h60("shingle")} AS h,
        |    count(*) OVER (PARTITION BY doc_id) AS nh
        |  FROM shf),
        |wins AS (
        |  SELECT doc_id, pos, nh,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        |  FROM hh),
        |fp AS (
        |  SELECT DISTINCT doc_id, fingerprint FROM (
        |    SELECT doc_id, m AS fingerprint FROM wins WHERE nh >= 4 AND pos <= nh - 3
        |    UNION ALL
        |    SELECT doc_id, min(h) AS fingerprint FROM hh WHERE nh < 4 GROUP BY doc_id))
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS common_fingerprints
        |FROM fp x JOIN fp y ON y.fingerprint = x.fingerprint AND x.doc_id < y.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 3""".stripMargin),
    Gate("q_dedup_cluster", (s, d) => {
      val docs = t(s, d, "documents")
      NearDup.canonicalDocs(docs, NearDup.minhashPairs(docs, mode = HashMode.Portable))
        .select(col("doc_id"), col("cluster"), col("is_canonical"))
    },
      s"""WITH RECURSIVE $shingleCtes,
        |$minhashPairCtes,
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pr
        |  UNION SELECT doc_b, doc_a FROM pr),
        |reach AS (
        |  SELECT src AS doc_id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst),
        |cl AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY 1)
        |SELECT doc.doc_id, coalesce(cl.cluster, doc.doc_id) AS cluster,
        |  doc.doc_id = coalesce(cl.cluster, doc.doc_id) AS is_canonical
        |FROM documents doc LEFT JOIN cl ON cl.doc_id = doc.doc_id""".stripMargin),
    // keep-best policy: longest text survives each cluster (n_chars is an
    // integer score — cross-engine argmax with no float comparison)
    // not benched: its cost is duplicateClusters' iterative loop, already
    // characterised via q_dedup_cluster's absence for the same reason.
    Gate("q_dedup_keep_best", (s, d) => {
      val docs = t(s, d, "documents")
      NearDup.canonicalDocsBest(docs,
        NearDup.minhashPairs(docs, mode = HashMode.Portable), "n_chars")
        .select(col("doc_id"), col("cluster"), col("canonical_id"),
          col("is_canonical"))
    },
      s"""WITH RECURSIVE $shingleCtes,
        |$minhashPairCtes,
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pr
        |  UNION SELECT doc_b, doc_a FROM pr),
        |reach AS (
        |  SELECT src AS doc_id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst),
        |cl AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY 1),
        |m AS (
        |  SELECT doc.doc_id, coalesce(cl.cluster, doc.doc_id) AS cluster, doc.n_chars
        |  FROM documents doc LEFT JOIN cl ON cl.doc_id = doc.doc_id),
        |best AS (
        |  SELECT cluster, doc_id AS canonical_id FROM m
        |  QUALIFY row_number() OVER (PARTITION BY cluster
        |    ORDER BY n_chars DESC, doc_id ASC) = 1)
        |SELECT m.doc_id, m.cluster, best.canonical_id,
        |  m.doc_id = best.canonical_id AS is_canonical
        |FROM m JOIN best USING (cluster)""".stripMargin),
    // typo-distance self-pairs over part names, blocked by first token +
    // the built-in complete length banding
    // not benched: the synthetic 8-word name vocabulary makes blocks
    // corpus/8-sized, so its sf0.1 cost is the deliberate within-block
    // quadratic — characterised in PERF.md, same precedent as
    // q_dedup_cluster/q_dedup_keep_best.
    Gate("q_fuzzy_join", (s, d) =>
      Fuzzy.fuzzyDedupPairs(
        t(s, d, "part").withColumn("tok0", expr("split_part(p_name, ' ', 1)")),
        textCol = "p_name", maxDist = 2, idCol = "p_partkey",
        blockCols = Seq("tok0")),
      // blocked fuzzy self-join: first-token block + adjacent length bands
      // (width maxDist+1 = 3) exactly as Fuzzy.fuzzyDedupPairs derives them
      """WITH p AS (SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS tok0,
        |    CAST(floor(length(p_name) / 3) AS BIGINT) AS band FROM part)
        |SELECT a.p_partkey AS a_p_partkey, b.p_partkey AS b_p_partkey,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist, a.tok0
        |FROM p a JOIN p b ON a.tok0 = b.tok0
        |  AND b.band BETWEEN a.band - 1 AND a.band + 1
        |WHERE a.p_partkey < b.p_partkey
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2""".stripMargin),
    // the synthetic corpus is single-line; manufacture deterministic
    // multi-line docs (every " the " becomes a newline) so the gate
    // exercises real split → frequency → removal → ordered reassembly
    Gate("q_line_dedup", (s, d) =>
      Curate.dedupLines(
        t(s, d, "documents")
          .withColumn("text", regexp_replace(col("text"), " the ", "\n")),
        minDocs = 3),
      // the oracle removes by raw line text where the Spark side removes by
      // 64-bit line hash — equal outputs absent a hash collision, which the
      // gate therefore also pins
      """WITH lined AS (
        |  SELECT doc_id, replace(text, ' the ', chr(10)) AS text FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
        |  FROM lined),
        |freq AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (SELECT doc_id, pos, line FROM l
        |         WHERE line NOT IN (SELECT line FROM freq))
        |SELECT d.doc_id,
        |  coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text,
        |  CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(string_split(d.text, chr(10))) - count(k.line) AS BIGINT) AS n_removed
        |FROM lined d LEFT JOIN kept k USING (doc_id)
        |GROUP BY d.doc_id, d.text""".stripMargin,
      Some(Pin(0.77, 0.463))),
    // the LineIndex counting stages on the oracle hook: the persisted
    // artifact's exact (h1, h2, count) frames — digest halves replayed
    // in DuckDB via the composable md5 spelling (Md5Hash60's contract),
    // fixtures lined like q_line_dedup / duplicated like
    // q_dedup_sentences so each frequency class is non-empty
    Gate("q_frequent_lines", (s, d) =>
      Curate.frequentLines(
        t(s, d, "documents")
          .withColumn("text", regexp_replace(col("text"), " the ", "\n")),
        minDocs = 3),
      // the LineIndex counting stages: digest halves via the composable
      // md5 spelling (h1 = hex chars 1-15, h2 = 17-29 — Md5Hash60's
      // bit-identity contract), counts per the kind's semantics
      // (distinct docs for lines, occurrences for windows/shingles)
      """WITH lined AS (
        |  SELECT doc_id, replace(text, ' the ', chr(10)) AS text FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(string_split(coalesce(text, ''), chr(10))) AS line
        |  FROM lined)
        |SELECT
        |  CAST(('0x' || substr(md5(line), 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(md5(line), 17, 13)) AS BIGINT) AS h2,
        |  count(DISTINCT doc_id) AS line_df
        |FROM l GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3""".stripMargin),
    Gate("q_frequent_windows", (s, d) =>
      graft.ops.ExactSubstr.frequentWindows(t(s, d, "documents")),
      s"""WITH $toksCte,
        |u AS (SELECT doc_id, toks,
        |  unnest(generate_series(1, len(toks) - 19)) AS pos FROM t),
        |w AS (SELECT md5(array_to_string(toks[pos:pos+19], ' ')) AS m FROM u)
        |SELECT
        |  CAST(('0x' || substr(m, 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(m, 17, 13)) AS BIGINT) AS h2,
        |  count(*) AS win_df
        |FROM w GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    Gate("q_frequent_shingles", (s, d) =>
      graft.ops.ExactSubstr.frequentShingles(sentencePages(s, d)),
      s"""WITH $sentenceCtes,
        |w AS (SELECT md5(array_to_string(sents[pos:pos+2], ' ')) AS m FROM u)
        |SELECT
        |  CAST(('0x' || substr(m, 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(m, 17, 13)) AS BIGINT) AS h2,
        |  count(*) AS n_occ
        |FROM w GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    // NEAR-dup decontamination: the exact 13-gram join catches verbatim
    // leakage; REPHRASED/lightly-edited eval overlap needs the minhash
    // machinery. The eval set (doc_id < 50, the q_decontaminate
    // convention) is signatured into a MinhashIndex ONCE; the corpus
    // probes it (build-once/probe-many — at 100 TB the eval set is tiny
    // and the corpus never self-joins); verified Jaccard >= 0.7 pairs
    // reduce to a per-corpus-doc contamination verdict.
    Gate("q_decontaminate_near", (s, d) => {
      val docs = t(s, d, "documents")
      val dir = s"$gateScratch/nearix"
      graft.ops.MinhashIndex.build(
        docs.filter(col("doc_id") < 50), dir, mode = HashMode.Portable)
      // pairs are (doc_a < doc_b); eval ids < 50 <= corpus ids, so
      // doc_b is always the corpus side
      graft.ops.MinhashIndex.probeVerified(
          s, dir, docs.filter(col("doc_id") >= 50), docs)
        .groupBy(col("doc_b"))
        .agg(count(lit(1)).cast("long").as("n_near"),
          max(col("jaccard")).as("max_jaccard"))
        .select(col("doc_b").as("doc_id"), col("n_near"), col("max_jaccard"))
    },
      // the near-decontamination oracle reads the SAME pr pair frame as
      // q_dedup_minhash/q_dedup_cluster (one LSH pipeline, three gates)
      // restricted to eval x corpus pairs — the probe contract is exactly
      // "minhashPairs on the new x corpus subset"
      s"""WITH $shingleCtes,
        |$minhashPairCtes
        |SELECT doc_b AS doc_id, CAST(count(*) AS BIGINT) AS n_near,
        |  max(jaccard) AS max_jaccard
        |FROM pr WHERE doc_a < 50 AND doc_b >= 50
        |GROUP BY doc_b""".stripMargin),
    Gate("q_decontaminate", (s, d) => {
      val docs = t(s, d, "documents")
      Curate.contamination(docs.filter(col("doc_id") >= 50),
        docs.filter(col("doc_id") < 50))
    }, decontaminateSql),
    // the scale path: bloom prefilter on the corpus gram stream, then the
    // same exact verify join — gated output-identical to q_decontaminate
    Gate("q_decontaminate_bloom", (s, d) => {
      val docs = t(s, d, "documents")
      Curate.contaminationBloom(docs.filter(col("doc_id") >= 50),
        docs.filter(col("doc_id") < 50))
    },
      // the bloom path must be indistinguishable from the exact path —
      // literally the same oracle
      decontaminateSql)
  )
}
