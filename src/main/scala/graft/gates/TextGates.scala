package graft
package gates

import graft.ops.{Curate, HashMode, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Shared._

/** Text cleaning, scoring and language models: normalisation, IR
  * statistics, classifiers, n-gram LMs, DSIR, perplexity buckets and the
  * CCNet pipeline. */
object TextGates {

  /** The trained-language-ID prediction frame both gates that consume
    * it share (q_lang_id_trained, q_ccnet_pipeline's split stage) — ONE
    * train/infer invocation with the gate parameters, so the Spark side
    * stays in lockstep with the single `langIdTrainedSql` the oracle
    * side embeds for both. */
  private def trainedLangPredictions(docs: DataFrame): DataFrame = {
    val model = TextOps.trainLangNb(docs, col("lang"), buckets = 64,
      nGram = 3, mode = HashMode.Portable)
    // inference hashes under the model's own recorded mode (Portable)
    TextOps.langIdNb(docs, model)
  }

  /** The q_lm_score3 oracle, reused as a subquery by q_ppl_buckets3. */
  private def lmScore3Sql: String =
    s"""WITH $toksCte,
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b3 AS (
        |  SELECT a.doc_id, a.tok AS w1, c.tok AS w2, d.tok AS w3
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1
        |           JOIN e d ON d.doc_id = a.doc_id AND d.pos = a.pos + 2),
        |tc AS (SELECT w1, w2, w3, count(*) AS n FROM b3 GROUP BY 1, 2, 3),
        |ct AS (SELECT w1, w2, sum(n) AS tot FROM tc GROUP BY 1, 2),
        |st3 AS (
        |  SELECT w1, w2, w3, round(CAST(n AS DOUBLE) / tot, 6) AS p3
        |  FROM tc JOIN ct USING (w1, w2) WHERE n >= 3),
        |b2 AS (
        |  SELECT a.tok AS w1, c.tok AS w2
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |bc AS (SELECT w1, w2, count(*) AS n FROM b2 GROUP BY 1, 2),
        |wt AS (SELECT w1, sum(n) AS tot FROM bc GROUP BY 1),
        |st2 AS (
        |  SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p2
        |  FROM bc JOIN wt USING (w1) WHERE n >= 5),
        |terms AS (
        |  SELECT b3.doc_id,
        |    coalesce(round(ln(st3.p3), 9), round(ln(0.4 * st2.p2), 9), -10.0) AS lp
        |  FROM b3
        |  LEFT JOIN st3 ON st3.w1 = b3.w1 AND st3.w2 = b3.w2 AND st3.w3 = b3.w3
        |  LEFT JOIN st2 ON st2.w1 = b3.w2 AND st2.w2 = b3.w3),
        |agg AS (
        |  SELECT doc_id, count(*) AS nt, sum(CAST(lp AS DECIMAL(28,9))) AS s
        |  FROM terms GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(nt, 0) AS BIGINT) AS n_trigrams,
        |  CASE WHEN coalesce(nt, 0) > 0 THEN round(CAST(s AS DOUBLE) / nt, 6)
        |       ELSE 0.0 END AS avg_logp3
        |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id""".stripMargin

  /** The q_lm_score5 oracle, reused as a subquery by q_ppl_buckets5 —
    * the q_lm_score3 recipe at the production order: count/stats CTEs
    * for orders 5 (prune 2), 4 (prune 2), 3 (prune 3) and 2 (prune 5),
    * then the stupid-backoff chain with the α discount compounding once
    * per hop, NESTED RIGHT (`0.4 * (0.4 * p)`) so every double
    * multiplication replays the engine's association bit for bit. */
  private def lmScore5Sql: String =
    s"""WITH $toksCte,
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b5 AS (
        |  SELECT a.doc_id, a.tok AS w1, b.tok AS w2, c.tok AS w3, d.tok AS w4, f.tok AS w5
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |           JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |           JOIN e d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3
        |           JOIN e f ON f.doc_id = a.doc_id AND f.pos = a.pos + 4),
        |c5 AS (SELECT w1, w2, w3, w4, w5, count(*) AS n FROM b5 GROUP BY 1, 2, 3, 4, 5),
        |x5 AS (SELECT w1, w2, w3, w4, sum(n) AS tot FROM c5 GROUP BY 1, 2, 3, 4),
        |st5 AS (
        |  SELECT w1, w2, w3, w4, w5, round(CAST(n AS DOUBLE) / tot, 6) AS p5
        |  FROM c5 JOIN x5 USING (w1, w2, w3, w4) WHERE n >= 2),
        |b4 AS (
        |  SELECT a.tok AS w1, b.tok AS w2, c.tok AS w3, d.tok AS w4
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |           JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |           JOIN e d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3),
        |c4 AS (SELECT w1, w2, w3, w4, count(*) AS n FROM b4 GROUP BY 1, 2, 3, 4),
        |x4 AS (SELECT w1, w2, w3, sum(n) AS tot FROM c4 GROUP BY 1, 2, 3),
        |st4 AS (
        |  SELECT w1, w2, w3, w4, round(CAST(n AS DOUBLE) / tot, 6) AS p4
        |  FROM c4 JOIN x4 USING (w1, w2, w3) WHERE n >= 2),
        |b3 AS (
        |  SELECT a.tok AS w1, c.tok AS w2, d.tok AS w3
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1
        |           JOIN e d ON d.doc_id = a.doc_id AND d.pos = a.pos + 2),
        |c3 AS (SELECT w1, w2, w3, count(*) AS n FROM b3 GROUP BY 1, 2, 3),
        |x3 AS (SELECT w1, w2, sum(n) AS tot FROM c3 GROUP BY 1, 2),
        |st3 AS (
        |  SELECT w1, w2, w3, round(CAST(n AS DOUBLE) / tot, 6) AS p3
        |  FROM c3 JOIN x3 USING (w1, w2) WHERE n >= 3),
        |b2 AS (
        |  SELECT a.tok AS w1, c.tok AS w2
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |c2 AS (SELECT w1, w2, count(*) AS n FROM b2 GROUP BY 1, 2),
        |x2 AS (SELECT w1, sum(n) AS tot FROM c2 GROUP BY 1),
        |st2 AS (
        |  SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p2
        |  FROM c2 JOIN x2 USING (w1) WHERE n >= 5),
        |terms AS (
        |  SELECT b5.doc_id,
        |    coalesce(round(ln(st5.p5), 9),
        |      round(ln(0.4 * st4.p4), 9),
        |      round(ln(0.4 * (0.4 * st3.p3)), 9),
        |      round(ln(0.4 * (0.4 * (0.4 * st2.p2))), 9),
        |      -10.0) AS lp
        |  FROM b5
        |  LEFT JOIN st5 ON st5.w1 = b5.w1 AND st5.w2 = b5.w2 AND st5.w3 = b5.w3
        |    AND st5.w4 = b5.w4 AND st5.w5 = b5.w5
        |  LEFT JOIN st4 ON st4.w1 = b5.w2 AND st4.w2 = b5.w3 AND st4.w3 = b5.w4
        |    AND st4.w4 = b5.w5
        |  LEFT JOIN st3 ON st3.w1 = b5.w3 AND st3.w2 = b5.w4 AND st3.w3 = b5.w5
        |  LEFT JOIN st2 ON st2.w1 = b5.w4 AND st2.w2 = b5.w5),
        |agg AS (
        |  SELECT doc_id, count(*) AS ng, sum(CAST(lp AS DECIMAL(28,9))) AS s
        |  FROM terms GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(ng, 0) AS BIGINT) AS n_5grams,
        |  CASE WHEN coalesce(ng, 0) > 0 THEN round(CAST(s AS DOUBLE) / ng, 6)
        |       ELSE 0.0 END AS avg_logp5
        |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id""".stripMargin

  /** The q_lm_score CTE chain over an arbitrary `(doc_id, text)` source
    * relation — parametrized (r15) so the CCNet composition gate can
    * train/score the LM on a predicted-language SLICE instead of the
    * whole table; `lmScoreSql` below is the whole-table instantiation. */
  private def lmScoreCtesFrom(src: String): String =
    s"""t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+') AS toks
        |  FROM $src),
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b2 AS (
        |  SELECT a.doc_id, a.tok AS w1, c.tok AS w2
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |bc AS (SELECT w1, w2, count(*) AS n FROM b2 GROUP BY 1, 2),
        |wt AS (SELECT w1, sum(n) AS tot FROM bc GROUP BY 1),
        |st AS (
        |  SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p
        |  FROM bc JOIN wt USING (w1) WHERE n >= 5),
        |terms AS (
        |  SELECT b2.doc_id, coalesce(round(ln(st.p), 9), -10.0) AS lp
        |  FROM b2 LEFT JOIN st ON st.w1 = b2.w1 AND st.w2 = b2.w2),
        |agg AS (
        |  SELECT doc_id, count(*) AS nb, sum(CAST(lp AS DECIMAL(28,9))) AS s
        |  FROM terms GROUP BY 1)""".stripMargin

  /** The lmScore final select over [[lmScoreCtesFrom]]' `agg`. */
  private def lmScoreSelectFrom(src: String): String =
    s"""SELECT d.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        |  CASE WHEN coalesce(nb, 0) > 0 THEN round(CAST(s AS DOUBLE) / nb, 6)
        |       ELSE 0.0 END AS avg_logp
        |FROM $src d LEFT JOIN agg ON agg.doc_id = d.doc_id""".stripMargin

  /** The q_lm_score oracle, reused as a subquery by q_ppl_buckets. */
  private def lmScoreSql: String =
    s"WITH ${lmScoreCtesFrom("documents")}\n${lmScoreSelectFrom("documents")}"

  /** The q_lang_id_trained oracle (training replayed bit for bit —
    * char-trigram extraction, h60%64 buckets, per-(lang, bucket) counts
    * → 6 dp per-class log-likelihood → micro-int weights + priors →
    * scoring join, argmax via the (total DESC, lang ASC) window); also
    * embedded by the q_ccnet_pipeline composition as its
    * language-split stage. */
  private def langIdTrainedSql: String =
    s"""WITH nt AS (
       |  SELECT doc_id, lang,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
       |  FROM documents),
       |gi AS (SELECT doc_id, lang, s,
       |  unnest(generate_series(1, greatest(length(s) - 2, 0))) AS i FROM nt),
       |f AS (SELECT doc_id, lang,
       |  CAST(${h60("substr(s, CAST(i AS INT), 3)")} % 64 AS INT) AS bkt FROM gi),
       |langs AS (SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL),
       |dc AS (SELECT lang, CAST(count(*) AS DOUBLE) AS d
       |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
       |dt AS (SELECT CAST(count(*) AS DOUBLE) AS tot FROM documents
       |  WHERE lang IS NOT NULL),
       |cnt AS (SELECT lang, bkt, count(*) AS n FROM f GROUP BY 1, 2),
       |tc AS (SELECT lang, CAST(sum(n) AS DOUBLE) AS t FROM cnt GROUP BY 1),
       |wts AS (SELECT l.lang, gs.bkt,
       |  CAST(round(round(ln((coalesce(n, 0) + 1.0) / (coalesce(t, 0) + 64.0)), 6)
       |    * 1000000, 0) AS BIGINT) AS wt
       |  FROM langs l
       |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bkt) gs
       |  LEFT JOIN tc ON tc.lang = l.lang
       |  LEFT JOIN cnt ON cnt.lang = l.lang AND cnt.bkt = gs.bkt),
       |pri AS (SELECT dc.lang,
       |  CAST(round(round(ln(d / tot), 6) * 1000000, 0) AS BIGINT) AS pm
       |  FROM dc, dt),
       |sc AS (SELECT f.doc_id, w.lang, sum(w.wt) AS sm
       |  FROM f JOIN wts w ON w.bkt = f.bkt GROUP BY 1, 2),
       |tot AS (SELECT d.doc_id, p.lang AS cls, coalesce(sm, 0) + pm AS total
       |  FROM documents d CROSS JOIN pri p
       |  LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.lang = p.lang),
       |best AS (SELECT doc_id, cls AS predicted_lang, total FROM tot
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY total DESC, cls ASC) = 1),
       |nf AS (SELECT doc_id, count(*) AS n FROM f GROUP BY 1)
       |SELECT d.doc_id, d.lang, b.predicted_lang,
       |  b.predicted_lang = d.lang AS correct,
       |  CAST(coalesce(nf.n, 0) AS BIGINT) AS n_feats,
       |  CAST(b.total AS BIGINT) AS score_micro
       |FROM documents d JOIN best b USING (doc_id)
       |LEFT JOIN nf USING (doc_id)""".stripMargin

  /** Shared DSIR CTE chain (through per-doc decimal sums `agg`): bigram
    * stream over `documents`, src0-trained target model (minCount 2),
    * whole-corpus raw model (minCount 5). */
  private def dsirCtes: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
      |  FROM documents),
      |e AS (SELECT doc_id, source, unnest(toks) AS tok,
      |  generate_subscripts(toks, 1) AS pos FROM t),
      |b2 AS (
      |  SELECT a.doc_id, a.source, a.tok AS w1, c.tok AS w2
      |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
      |bct AS (SELECT w1, w2, count(*) AS n FROM b2 WHERE source = 'src0' GROUP BY 1, 2),
      |wtt AS (SELECT w1, sum(n) AS tot FROM bct GROUP BY 1),
      |smt AS (SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p
      |  FROM bct JOIN wtt USING (w1) WHERE n >= 2),
      |bcr AS (SELECT w1, w2, count(*) AS n FROM b2 GROUP BY 1, 2),
      |wtr AS (SELECT w1, sum(n) AS tot FROM bcr GROUP BY 1),
      |smr AS (SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p
      |  FROM bcr JOIN wtr USING (w1) WHERE n >= 5),
      |terms AS (
      |  SELECT b2.doc_id,
      |    coalesce(round(ln(smt.p), 9), -10.0) AS lt,
      |    coalesce(round(ln(smr.p), 9), -10.0) AS lr
      |  FROM b2 LEFT JOIN smt ON smt.w1 = b2.w1 AND smt.w2 = b2.w2
      |          LEFT JOIN smr ON smr.w1 = b2.w1 AND smr.w2 = b2.w2),
      |agg AS (SELECT doc_id, count(*) AS nb,
      |  sum(CAST(lt AS DECIMAL(28,9))) AS st, sum(CAST(lr AS DECIMAL(28,9))) AS sr
      |  FROM terms GROUP BY 1)""".stripMargin

  /** Shared ORDER-3 DSIR CTE chain (through per-doc decimal sums `agg`):
    * one shared trigram/bigram stream over `documents`, src0-trained
    * target models (tri/bi prunes 2/2), whole-corpus raw models (3/5),
    * each side's term the stupid-backoff coalesce of the q_lm_score3
    * recipe. */
  private def dsir3Ctes: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
      |  FROM documents),
      |e AS (SELECT doc_id, source, unnest(toks) AS tok,
      |  generate_subscripts(toks, 1) AS pos FROM t),
      |b3 AS (
      |  SELECT a.doc_id, a.source, a.tok AS w1, b.tok AS w2, c.tok AS w3
      |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |           JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
      |b2 AS (
      |  SELECT a.doc_id, a.source, a.tok AS w1, b.tok AS w2
      |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
      |tc3t AS (SELECT w1, w2, w3, count(*) AS n FROM b3 WHERE source = 'src0' GROUP BY 1, 2, 3),
      |cx3t AS (SELECT w1, w2, sum(n) AS tot FROM tc3t GROUP BY 1, 2),
      |st3t AS (SELECT w1, w2, w3, round(CAST(n AS DOUBLE) / tot, 6) AS p
      |  FROM tc3t JOIN cx3t USING (w1, w2) WHERE n >= 2),
      |tc2t AS (SELECT w1, w2, count(*) AS n FROM b2 WHERE source = 'src0' GROUP BY 1, 2),
      |cx2t AS (SELECT w1, sum(n) AS tot FROM tc2t GROUP BY 1),
      |st2t AS (SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p
      |  FROM tc2t JOIN cx2t USING (w1) WHERE n >= 2),
      |tc3r AS (SELECT w1, w2, w3, count(*) AS n FROM b3 GROUP BY 1, 2, 3),
      |cx3r AS (SELECT w1, w2, sum(n) AS tot FROM tc3r GROUP BY 1, 2),
      |st3r AS (SELECT w1, w2, w3, round(CAST(n AS DOUBLE) / tot, 6) AS p
      |  FROM tc3r JOIN cx3r USING (w1, w2) WHERE n >= 3),
      |tc2r AS (SELECT w1, w2, count(*) AS n FROM b2 GROUP BY 1, 2),
      |cx2r AS (SELECT w1, sum(n) AS tot FROM tc2r GROUP BY 1),
      |st2r AS (SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p
      |  FROM tc2r JOIN cx2r USING (w1) WHERE n >= 5),
      |terms AS (
      |  SELECT b3.doc_id,
      |    coalesce(round(ln(st3t.p), 9), round(ln(0.4 * st2t.p), 9), -10.0) AS lt,
      |    coalesce(round(ln(st3r.p), 9), round(ln(0.4 * st2r.p), 9), -10.0) AS lr
      |  FROM b3
      |  LEFT JOIN st3t ON st3t.w1 = b3.w1 AND st3t.w2 = b3.w2 AND st3t.w3 = b3.w3
      |  LEFT JOIN st2t ON st2t.w1 = b3.w2 AND st2t.w2 = b3.w3
      |  LEFT JOIN st3r ON st3r.w1 = b3.w1 AND st3r.w2 = b3.w2 AND st3r.w3 = b3.w3
      |  LEFT JOIN st2r ON st2r.w1 = b3.w2 AND st2r.w2 = b3.w3),
      |agg AS (SELECT doc_id, count(*) AS nt,
      |  sum(CAST(lt AS DECIMAL(28,9))) AS st, sum(CAST(lr AS DECIMAL(28,9))) AS sr
      |  FROM terms GROUP BY 1)""".stripMargin

  /** Fixed toy weight vector for the hashed-classifier gate (64 buckets,
    * values in [-0.50, 0.50]) — a stand-in for any externally trained
    * model; the oracle inlines the SAME micro-unit values. */
  private val ClassifierWeights: Seq[Double] =
    (0 until 64).map(i => (((i * 37) % 101) - 50) / 100.0)
  private def classifierValues: String =
    ClassifierWeights.zipWithIndex
      .map { case (w, i) => s"($i, ${math.round(w * 1e6)})" }.mkString(", ")

  /** The DSIR sampling tail of q_dsir_sample and q_dsir3_sample: each
    * scorable doc weighted by its shifted 6dp log-ratio (a monotone
    * integer map, no transcendental exp in the gate), then k = 25
    * sequential-Poisson weighted sampling. */
  private def dsirSample(docs: DataFrame, scorable: DataFrame): DataFrame = {
    val weighted = docs.join(
      scorable.select(col("doc_id"),
        greatest(lit(1L),
          round((col("log_ratio") + lit(10.0)) * 1000, 0).cast("long"))
          .as("dsir_w")),
      Seq("doc_id"))
    Curate.weightedSample(weighted, k = 25, weightCol = "dsir_w",
      mode = HashMode.Portable)
      .select(col("doc_id"), col("source"), col("dsir_w"))
  }

  /** [[dsirSample]] in SQL, after an `sc(doc_id, log_ratio)` CTE: the
    * q_weighted_sample priority spelling over the DSIR weights. */
  private val dsirSampleSql: String =
    s"""w AS (SELECT doc_id,
      |    greatest(1, CAST(round((log_ratio + 10.0) * 1000, 0) AS BIGINT)) AS dsir_w
      |  FROM sc),
      |kk AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |      ${h60("'wsamp:' || CAST(doc_id AS VARCHAR)")} // dsir_w AS pri
      |    FROM w)
      |  ORDER BY pri ASC, doc_id ASC LIMIT 25)
      |SELECT d.doc_id, d.source, w.dsir_w
      |FROM documents d JOIN w USING (doc_id) JOIN kk USING (doc_id)""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_text_stats", (s, d) => TextOps.textStats(t(s, d, "documents")),
      s"""SELECT doc_id,
         |  CAST($ntok AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '\\w{1,4}|[^\\w\\s]')) AS BIGINT) AS n_tokens_bpe,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(regexp_extract_all(text, '$punct')) AS BIGINT) AS n_punct,
         |  CAST(len(regexp_extract_all(text, '$punct')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
         |  CAST(len(regexp_extract_all(text, '\\S')) AS DOUBLE) / greatest($ntok, 1) AS avg_token_len
         |FROM documents""".stripMargin),
    // Unicode NFC normalization through the native codegen'd expression
    // (graft_nfc): the testdata is ASCII, so denormalized combining-mark
    // dirt is injected deterministically (the dirtied-FK precedent) and
    // spelled identically in the oracle; `changed` pins that the fast
    // path leaves clean rows byte-identical while dirty rows compose
    Gate("q_unicode_nfc", (s, d) => {
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" cafe\u0301 nai\u0308ve caf\u00e9")))
          .otherwise(col("text")).as("t2"))
      dirty.select(col("doc_id"),
        TextOps.nfc(col("t2")).as("norm_text"),
        (TextOps.nfc(col("t2")) =!= col("t2")).as("changed"))
    },
      """WITH dirty AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' cafe' || chr(769) || ' nai' || chr(776) || 've caf' || chr(233)
        |      ELSE text END AS t2
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(t2) AS norm_text,
        |  nfc_normalize(t2) != t2 AS changed
        |FROM dirty""".stripMargin,
      // benched: a corpus-wide cleaning projection — the paths that touch
      // every byte of a 100 TB corpus, so a regression here may not ride
      // along outside the gate.
      // budget: 0.289 s warmed (r10).
      Some(Pin(0.38, 0.096))),
    // invisible-character stripping (the NFC pair's other half):
    // deterministic zero-width/control dirt injected in both engines —
    // ZWSP U+200B mid-word, BOM U+FEFF prefix, BEL U+0007, soft hyphen
    // U+00AD — n_removed pins the exact per-row char count
    Gate("q_clean_text", (s, d) => {
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("\uFEFF"), col("text"),
            lit(" zero\u200Bwidth\u0007 soft\u00ADhyphen")))
          .otherwise(col("text")).as("t2"))
      dirty.select(col("doc_id"),
        TextOps.cleanControlChars(col("t2")).as("clean_text"),
        (length(col("t2")) - length(TextOps.cleanControlChars(col("t2"))))
          .cast("long").as("n_removed"))
    },
      // the SAME ControlClass constant drives both engines (\x{…} means
      // the same thing in Java regex and RE2 — the PunctClass convention);
      // dirt via chr(): 65279 = BOM, 8203 = ZWSP, 7 = BEL, 173 = SHY
      {
      val cc = graft.ops.TextOps.ControlClass
      s"""WITH dirty AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN chr(65279) || text || ' zero' || chr(8203) || 'width' || chr(7) || ' soft' || chr(173) || 'hyphen'
        |      ELSE text END AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(t2, '$cc', '', 'g') AS clean_text,
        |  CAST(length(t2) - length(regexp_replace(t2, '$cc', '', 'g')) AS BIGINT) AS n_removed
        |FROM dirty""".stripMargin
    },
      // budget: 0.326 s warmed (r10).
      Some(Pin(0.43, 0.172))),
    // NFKC compatibility folding gated on GOLDEN VALUES: the injected
    // dirt (ﬁ ligature U+FB01, full-width Ａ U+FF21, circled ① U+2460)
    // folds to plain ASCII "fine A1", which the oracle states directly —
    // the expected text never contains a non-ASCII char, so the check
    // is byte-exact with zero cross-engine normalization dependence
    Gate("q_unicode_nfkc", (s, d) => {
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" \ufb01ne \uff21\u2460")))
          .otherwise(col("text")).as("t2"))
      dirty.select(col("doc_id"),
        TextOps.nfkc(col("t2")).as("norm_text"),
        (TextOps.nfkc(col("t2")) =!= col("t2")).as("changed"))
    },
      // same deterministic combining-mark dirt (chr() keeps the SQL pure
      // ASCII: 769 = U+0301 combining acute, 776 = U+0308 combining
      // diaeresis, 233 = precomposed U+00E9), normalized by DuckDB's own
      // utf8proc NFC — an independent normalizer implementation agreeing
      // byte-for-byte with java.text.Normalizer
      // NFKC golden values: the folded form of the injected dirt is pure
      // ASCII, stated directly
      """SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN text || ' fine A1' ELSE text END AS norm_text,
        |  doc_id % 11 = 0 AS changed
        |FROM documents""".stripMargin),
    // mojibake repair: the dirt is the double-encoding of a known
    // string (computed here by actually UTF-8-encoding and misreading
    // as Latin-1 — not hand-typed); Spark runs the general guarded
    // decode(encode(...)) repair over the whole column, the oracle
    // states the expected REPAIRED text directly (golden values, the
    // q_multimodal_decode precedent — DuckDB has no encoding surface)
    Gate("q_mojibake", (s, d) => {
      val garbled = new String(
        " café won’t".getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(garbled)))
          .otherwise(col("text")).as("t2"))
      dirty.select(col("doc_id"),
        TextOps.fixMojibake(col("t2")).as("fixed_text"),
        (TextOps.fixMojibake(col("t2")) =!= col("t2")).as("changed"))
    },
      // golden-values oracle: DuckDB independently states the repaired
      // text (233 = U+00E9 é, 8217 = U+2019 right single quote) the
      // guarded decode(encode(...)) repair must reproduce on dirty rows,
      // and that clean rows pass through byte-identical
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0
        |    THEN text || ' caf' || chr(233) || ' won' || chr(8217) || 't'
        |    ELSE text END AS fixed_text,
        |  doc_id % 7 = 0 AS changed
        |FROM documents""".stripMargin,
      // budget: 0.304 s warmed (r10).
      Some(Pin(0.40, 0.185))),
    // HTML/markup stripping: deterministic markup wraps every 13th
    // document — a script payload with a bare '<' (exercises non-greedy
    // block removal), a style block, a comment, nested tags, and named +
    // decimal + hex + nbsp entities. The oracle runs the SAME three tag
    // regexes (shared constants — the ControlClass convention) and
    // decodes the injected entities by chained replace, exact here
    // because the corpus carries no '&' at all
    Gate("q_html_strip", (s, d) => {
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(
          lit("<div class=\"x\"><p>"), col("text"),
          lit("</p><script>var x = 1 < 2;</script><style>p { color: red }" +
            "</style><!-- hidden --><b>bold</b> &amp; A&#66;&#x43;&nbsp;end</div>")))
          .otherwise(col("text")).as("t2"))
      dirty.select(col("doc_id"),
        TextOps.stripHtml(col("t2")).as("clean_text"),
        (TextOps.stripHtml(col("t2")) =!= col("t2")).as("changed"))
    },
      // the three tag-strip regexes are the SHARED constants (Java regex
      // and RE2 read them identically: inline (?is), non-greedy, \b, no
      // backreferences); entity decode — the one step RE2 cannot express
      // generally (no chr() of a capture) — is chained replace over
      // exactly the injected entities, which equals the general one-pass
      // decoder because the corpus text contains no '&' (verified: 0 rows
      // at every sf). Same whitespace collapse + trim on both sides.
      {
      val ss = graft.ops.TextOps.ScriptStyleBlock
      val cm = graft.ops.TextOps.HtmlComment
      val tg = graft.ops.TextOps.HtmlTagOrDecl
      s"""WITH dirty AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0
        |      THEN '<div class="x"><p>' || text || '</p><script>var x = 1 < 2;</script><style>p { color: red }</style><!-- hidden --><b>bold</b> &amp; A&#66;&#x43;&nbsp;end</div>'
        |      ELSE text END AS t2
        |  FROM documents),
        |stripped AS (
        |  SELECT doc_id, t2,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(regexp_replace(t2,
        |          '$ss', ' ', 'g'), '$cm', ' ', 'g'), '$tg', ' ', 'g'),
        |        '&amp;', '&'), '&#66;', 'B'), '&#x43;', 'C'), '&nbsp;', ' '),
        |      '\\s+', ' ', 'g')) AS clean_text
        |  FROM dirty)
        |SELECT doc_id, clean_text, clean_text != t2 AS changed
        |FROM stripped""".stripMargin
    },
      // budget: 0.390 s warmed (r10).
      Some(Pin(0.51, 0.184))),
    Gate("q_tfidf", (s, d) => TextOps.tfidf(t(s, d, "documents")),
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, token,
        |    round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN df USING (token) CROSS JOIN nd)
        |SELECT doc_id, token, CAST(rank AS BIGINT) AS "rank", tfidf FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token ASC) AS rank
        |  FROM s)
        |WHERE rank <= 5""".stripMargin),
    // PMI collocations: bigrams bound tighter than their margins predict
    Gate("q_pmi", (s, d) => TextOps.pmiCollocations(t(s, d, "documents")),
      // PMI over the shared bigram stream: margins and N from the count
      // frame itself (one normaliser), HUGEINT products (== Spark's
      // DECIMAL(38,0) here), one double division, ln, round 6
      s"""WITH $toksCte,
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b AS (
        |  SELECT a.tok AS w1, c.tok AS w2
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |bc AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY 1, 2),
        |m1 AS (SELECT w1, sum(n) AS c1 FROM bc GROUP BY 1),
        |m2 AS (SELECT w2, sum(n) AS c2 FROM bc GROUP BY 1),
        |tt AS (SELECT sum(n) AS nn FROM bc)
        |SELECT bc.w1, bc.w2, CAST(bc.n AS BIGINT) AS n,
        |  round(ln(CAST(CAST(bc.n AS HUGEINT) * nn AS DOUBLE) /
        |           CAST(CAST(c1 AS HUGEINT) * c2 AS DOUBLE)), 6) AS pmi
        |FROM bc JOIN m1 USING (w1) JOIN m2 USING (w2), tt
        |WHERE bc.n >= 5""".stripMargin,
      // benched: PMI margins off the shared bigram frame.
      // budget: 0.65 s warmed (r8).
      Some(Pin(0.84, 0.412))),
    // Okapi BM25 top-20 for a fixed keyword query
    Gate("q_bm25", (s, d) =>
      TextOps.bm25Rank(t(s, d, "documents"), Seq("hash", "join", "spark")),
      // BM25: idf and per-term scores round 9dp then decimal-sum (the
      // lm-score contract); every double literal spelled EXACTLY as the
      // Spark expression computes it ((1.2 + 1.0), (1.0 - 0.75))
      """WITH lens AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+')) AS dl
        |  FROM documents),
        |c AS (SELECT count(*) AS nd,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
        |tk AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk
        |  WHERE tok IN ('hash', 'join', 'spark') GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |idf AS (SELECT tok,
        |    round(ln((CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0), 9) AS idf
        |  FROM df, c),
        |s AS (SELECT tf.doc_id,
        |    CAST(round(idf.idf * (tf.tf * (1.2 + 1.0)) /
        |      (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * lens.dl / c.avgdl)), 9)
        |      AS DECIMAL(28,9)) AS s
        |  FROM tf JOIN idf USING (tok) JOIN lens USING (doc_id), c),
        |sc AS (SELECT doc_id, round(CAST(sum(s) AS DOUBLE), 6) AS score
        |  FROM s GROUP BY 1)
        |SELECT doc_id, score FROM sc
        |QUALIFY row_number() OVER (ORDER BY score DESC, doc_id ASC) <= 20""".stripMargin,
      // benched: BM25 with query-filtered explode + TakeOrderedAndProject.
      // budget: 0.65 s warmed (r8).
      Some(Pin(0.85, 0.511))),
    Gate("q_text_quality", (s, d) => TextOps.textQuality(t(s, d, "documents")),
      s"""SELECT doc_id, n_tokens, stop_ratio, punct_ratio, score, score >= 0.5 AS keep
         |FROM (
         |  SELECT doc_id, n_tokens, stop_ratio, punct_ratio,
         |    0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - punct_ratio) + 0.3 * least(stop_ratio * 5.0, 1.0) AS score
         |  FROM (
         |    SELECT doc_id,
         |      CAST($ntok AS BIGINT) AS n_tokens,
         |      CAST(len(regexp_extract_all(lower(text), '\\b(the|a|an|of|to|and|in|is|it|that|for|on|with|as)\\b')) AS DOUBLE) / greatest($ntok, 1) AS stop_ratio,
         |      CAST(len(regexp_extract_all(text, '$punct')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio
         |    FROM documents))""".stripMargin,
      Some(Pin(0.53, 0.289, baseline = true))),
    Gate("q_lang_id", (s, d) => TextOps.langId(t(s, d, "documents")),
      """SELECT doc_id, lang, predicted_lang, predicted_lang = lang AS correct
        |FROM (
        |  SELECT doc_id, lang,
        |    CASE WHEN zh > 0 THEN 'zh'
        |         WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |         WHEN de >= fr AND de >= es THEN 'de'
        |         WHEN fr >= es THEN 'fr'
        |         ELSE 'es' END AS predicted_lang
        |  FROM (
        |    SELECT doc_id, lang,
        |      len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]')) AS zh,
        |      len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|it|you|that|for)\b')) AS en,
        |      len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu|ich|mit)\b')) AS de,
        |      len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un|une|des|que|pour)\b')) AS fr,
        |      len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|un|una|que|por|para)\b')) AS es
        |    FROM documents))""".stripMargin),
    // TRAINED language ID (r15): multi-class hashed-char-trigram Naive
    // Bayes trained on the corpus's own labels in one pass, scored as
    // exact integer-micro per-class logits, argmax with ties to the
    // first class in sorted order — training AND inference replayed
    // bit-for-bit by the oracle (the q_nb_classify precedent)
    Gate("q_lang_id_trained", (s, d) => {
      val docs = t(s, d, "documents")
      trainedLangPredictions(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("predicted_lang"),
          (col("predicted_lang") === col("lang")).as("correct"),
          col("n_feats"), col("score_micro"))
    },
      // multi-class NB training replicated in SQL (the q_nb_classify
      // recipe, one log-likelihood table per class instead of one
      // log-odds vector): char-trigram features off the normText twin,
      // per-(lang, bucket) counts -> 6dp per-class log-likelihood ->
      // micro-int weights + priors -> the scoring join, argmax via the
      // (total DESC, lang ASC) window — the engine's struct-max tie order
      langIdTrainedSql,
      // benched: trained language ID — the char-trigram training pass + the
      // integer-micro argmax inference, both corpus-wide projections.
      // budget: 3.530 s warmed (r15). The base already carries the r15
      // char-array rewrite (substr's per-window UTF-8 boundary scan was
      // O(len²) per document — 32.6 s → 3.53 s at sf0.1): the budget pins the
      // fixed shape so the quadratic cannot quietly return.
      // pin: pinned from r15's first settled full-harness run (rc=0,
      // vs_baseline 0.950, run_factor/pin_factor both 1.000).
      Some(Pin(4.59, 3.714))),
    Gate("q_text_repetition", (s, d) => TextOps.repetition(t(s, d, "documents")),
      s"""WITH $toksCte,
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b AS (
        |  SELECT a.doc_id, a.tok || ' ' || c.tok AS bg
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |agg AS (
        |  SELECT doc_id, count(*) AS nb, count(DISTINCT bg) AS nd FROM b GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(nd, 0) AS BIGINT) AS n_distinct_bigrams,
        |  CASE WHEN coalesce(nb, 0) > 0
        |       THEN 1.0 - CAST(nd AS DOUBLE) / nb ELSE 0.0 END AS repetition_ratio
        |FROM t LEFT JOIN agg ON agg.doc_id = t.doc_id""".stripMargin),
    Gate("q_classifier_score", (s, d) =>
      TextOps.scoreLinear(t(s, d, "documents"), ClassifierWeights,
        bias = 7.5, mode = HashMode.Portable),
      // buckets via the portable 60-bit hash; weights joined as micro-unit
      // BIGINTs so the sum is exact integer arithmetic in both engines
      s"""WITH t AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+')) AS tok
         |  FROM documents),
         |f AS (SELECT doc_id, CAST(${h60("tok")} % 64 AS INT) AS bkt FROM t),
         |w AS (SELECT * FROM (VALUES $classifierValues) AS w(bkt, wt)),
         |s AS (SELECT f.doc_id, count(*) AS nf, sum(wt) AS sm
         |      FROM f JOIN w ON w.bkt = f.bkt GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(nf, 0) AS BIGINT) AS n_feats,
         |  CAST(coalesce(sm, 0) + 7500000 AS BIGINT) AS score_micro,
         |  CAST(CAST(coalesce(sm, 0) + 7500000 AS BIGINT) AS DOUBLE) / 1000000.0 AS score,
         |  (coalesce(sm, 0) + 7500000) > 0 AS keep
         |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id""".stripMargin,
      Some(Pin(0.59, 0.333))),
    // TRAINED classifier: Naive Bayes log-odds weights fit on the corpus
    // itself (target = src0 docs) in one pass, then scored with the same
    // scoreLinear inference path the static-weight gate uses
    Gate("q_nb_classify", (s, d) => {
      val docs = t(s, d, "documents")
      val (w, bias) = TextOps.trainNaiveBayes(docs,
        col("source") === "src0", buckets = 64, mode = HashMode.Portable)
      TextOps.scoreLinear(docs, w, bias, mode = HashMode.Portable)
    },
      // NB training replicated in SQL: bucket counts -> 6dp log-odds ->
      // micro-int weights -> the scoring join; same feature spelling as
      // q_classifier_score
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+')) AS tok
         |  FROM documents),
         |f AS (SELECT doc_id,
         |  CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS c,
         |  CAST(${h60("tok")} % 64 AS INT) AS bkt FROM t),
         |cnt AS (SELECT bkt,
         |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
         |  sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS n0
         |  FROM f GROUP BY 1),
         |tot AS (SELECT CAST(sum(n1) AS DOUBLE) AS t1, CAST(sum(n0) AS DOUBLE) AS t0 FROM cnt),
         |dc AS (SELECT CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS DOUBLE) AS d1,
         |  CAST(count(*) AS DOUBLE) AS dt FROM documents),
         |wts AS (SELECT gs.bkt,
         |  CAST(round(round(ln((coalesce(n1, 0) + 1.0) / (t1 + 64.0))
         |    - ln((coalesce(n0, 0) + 1.0) / (t0 + 64.0)), 6) * 1000000, 0) AS BIGINT) AS wt
         |  FROM (SELECT unnest(generate_series(0, 63)) AS bkt) gs
         |  LEFT JOIN cnt ON cnt.bkt = gs.bkt, tot),
         |bs AS (SELECT CAST(round(round(ln(d1 / (dt - d1)), 6) * 1000000, 0) AS BIGINT) AS bm FROM dc),
         |s AS (SELECT f.doc_id, count(*) AS nf, sum(wt) AS sm
         |      FROM f JOIN wts ON wts.bkt = f.bkt GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(nf, 0) AS BIGINT) AS n_feats,
         |  CAST(coalesce(sm, 0) + bm AS BIGINT) AS score_micro,
         |  CAST(CAST(coalesce(sm, 0) + bm AS BIGINT) AS DOUBLE) / 1000000.0 AS score,
         |  (coalesce(sm, 0) + bm) > 0 AS keep
         |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id, bs""".stripMargin,
      // budget: 0.87 s warmed (r6).
      Some(Pin(1.14, 0.667))),
    Gate("q_bigram_lm", (s, d) => TextOps.bigramLm(t(s, d, "documents")),
      s"""WITH $toksCte,
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b AS (
        |  SELECT a.tok AS w1, c.tok AS w2
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |bc AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY 1, 2),
        |wt AS (SELECT w1, sum(n) AS tot FROM bc GROUP BY 1)
        |SELECT w1, w2, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / tot, 6) AS p_cond
        |FROM bc JOIN wt USING (w1) WHERE n >= 5""".stripMargin,
      Some(Pin(0.31, 0.283))),
    // order-3 LM layer: trigram stats at the family-default prune, and
    // stupid-backoff document scoring (trigram hit → α-discounted
    // bigram → unk penalty) at the operator defaults
    // not benched: its counting pass runs INSIDE q_lm_score3 — the
    // q_substr_strip precedent; its corpus growth is ScaleBudget's
    // trigram_counts band instead.
    Gate("q_trigram_lm", (s, d) => TextOps.trigramLm(t(s, d, "documents")),
      // trigram stats: context denominators over ALL (w1,w2) continuations
      // BEFORE the minCount prune, exactly like the bigram oracle
      s"""WITH $toksCte,
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b3 AS (
        |  SELECT a.tok AS w1, c.tok AS w2, d.tok AS w3
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1
        |           JOIN e d ON d.doc_id = a.doc_id AND d.pos = a.pos + 2),
        |tc AS (SELECT w1, w2, w3, count(*) AS n FROM b3 GROUP BY 1, 2, 3),
        |ct AS (SELECT w1, w2, sum(n) AS tot FROM tc GROUP BY 1, 2)
        |SELECT w1, w2, w3, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / tot, 6) AS p_cond
        |FROM tc JOIN ct USING (w1, w2) WHERE n >= 5""".stripMargin),
    Gate("q_lm_score3", (s, d) => TextOps.lmScore3(t(s, d, "documents")),
      // stupid backoff: ln(p3) when the trigram survives its prune
      // (minCount 3), else ln(0.4 · p2) from the bigram model (minCount
      // 5, oldest context word dropped), else the fixed -10 penalty —
      // each term rounded 9 dp then decimal-summed (the lm-score
      // contract); the backoff bigram keys on the trigram's (w2, w3)
      lmScore3Sql,
      // benched: stupid-backoff scoring — trains BOTH reference models and
      // scores the corpus trigram stream, so it is the order-3 family's cost
      // driver.
      // budget: 1.976 s warmed (r14).
      // pin: pinned from r14's first settled full-harness run (sf0.1, idle
      // box, the only context pins are comparable in).
      Some(Pin(2.57, 1.849))),
    // order-5 LM (r15 — the KenLM production order): all four backoff
    // models from ONE shared tokenisation, stupid backoff 5→4→3→2 with
    // the α discount compounding per hop (α^j nested right so the
    // double arithmetic is engine-replayable)
    Gate("q_lm_score5", (s, d) => TextOps.lmScore5(t(s, d, "documents")),
      // order-5 stupid backoff: ln(p5) when the 5-gram survives its prune
      // (minCount 2), else the α^j-discounted 4/3/2-gram chain (prunes
      // 2/3/5, oldest context word dropped per hop, α products nested
      // right), else the fixed -10 penalty — the q_lm_score3 contract at
      // the production order
      lmScore5Sql,
      // benched: the order-5 family's cost driver — trains all FOUR backoff
      // models from one tokenisation and scores the 5-gram stream.
      // budget: 2.779 s warmed (r15).
      // pin: pinned from r15's first settled full-harness run (rc=0,
      // vs_baseline 0.950, run_factor/pin_factor both 1.000).
      Some(Pin(3.61, 2.496))),
    Gate("q_entropy", (s, d) => TextOps.tokenEntropy(t(s, d, "documents")),
      s"""WITH $toksCte,
        |e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM e GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, sum(c) AS n, count(*) AS nd,
        |    sum(CAST(round(c * ln(c), 9) AS DECIMAL(28,9))) AS s
        |  FROM c GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(a.nd, 0) AS BIGINT) AS n_distinct,
        |  CASE WHEN coalesce(a.n, 0) > 0
        |       THEN round((ln(CAST(a.n AS DOUBLE)) - CAST(a.s AS DOUBLE) / a.n)
        |                  / 0.6931471805599453, 6)
        |       ELSE 0.0 END AS entropy
        |FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id""".stripMargin,
      Some(Pin(0.66, 0.523))),
    Gate("q_lm_score", (s, d) => TextOps.lmScore(t(s, d, "documents")),
      // per-term ln rounded to 9 dp then decimal-summed (the q_entropy
      // determinism contract); pruned bigrams take the fixed -10 penalty
      lmScoreSql,
      Some(Pin(1.53, 0.915))),
    // DSIR importance scoring: target model = the src0 slice (minCount 2 —
    // a 25-doc reference corpus needs the lower prune bar to carry any
    // bigrams), raw model = the whole corpus at the family default
    Gate("q_dsir", (s, d) => {
      val docs = t(s, d, "documents")
      val (tgt, raw) = TextOps.dsirModels(docs, col("source") === "src0")
      TextOps.dsirScore(docs, tgt, raw)
    },
      // DSIR: one shared bigram stream scored under the src0-trained target
      // model (minCount 2) and the whole-corpus raw model (minCount 5);
      // decimal sums, ratio from the rounded means
      s"""$dsirCtes
        |SELECT d.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        |  CASE WHEN coalesce(nb, 0) > 0 THEN round(CAST(st AS DOUBLE) / nb, 6)
        |       ELSE 0.0 END AS avg_logp_target,
        |  CASE WHEN coalesce(nb, 0) > 0 THEN round(CAST(sr AS DOUBLE) / nb, 6)
        |       ELSE 0.0 END AS avg_logp_raw,
        |  round(CASE WHEN coalesce(nb, 0) > 0 THEN round(CAST(st AS DOUBLE) / nb, 6)
        |             ELSE 0.0 END
        |      - CASE WHEN coalesce(nb, 0) > 0 THEN round(CAST(sr AS DOUBLE) / nb, 6)
        |             ELSE 0.0 END, 6) AS log_ratio
        |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id""".stripMargin,
      // budget: 1.43 s warmed (r6), re-based TIGHTER after the
      // single-tokenisation dsirModels rewrite (1.66 -> 1.43) so the win
      // cannot silently regress.
      Some(Pin(1.86, 1.521))),
    // the full DSIR pipeline: scorable docs get an integer weight from the
    // shifted 6dp log-ratio (monotone; exp() would put a transcendental in
    // the gate), then sequential-Poisson weighted sampling picks k = 25
    Gate("q_dsir_sample", (s, d) => {
      val docs = t(s, d, "documents")
      val (tgt, raw) = TextOps.dsirModels(docs, col("source") === "src0")
      dsirSample(docs, TextOps.dsirScore(docs, tgt, raw).filter(col("n_bigrams") > 0))
    },
      // the complete DSIR pipeline: scorable docs weighted by the shifted
      // 6dp log-ratio (monotone integer map, no transcendental exp in the
      // gate), then sequential-Poisson weighted sampling — q_weighted_sample's
      // exact priority spelling over the DSIR weights
      s"""$dsirCtes,
        |sc AS (SELECT doc_id,
        |    round(round(CAST(st AS DOUBLE) / nb, 6)
        |        - round(CAST(sr AS DOUBLE) / nb, 6), 6) AS log_ratio
        |  FROM agg),
        |$dsirSampleSql""".stripMargin),
    // DSIR under the order-3 backoff model (r15): all four models (target
    // tri/bi at prune 2, raw tri/bi at the 3/5 family defaults) from ONE
    // grouped tokenisation; each side backs off trigram → α·bigram → unk
    Gate("q_dsir3", (s, d) => {
      val docs = t(s, d, "documents")
      val (tt, tb, rt, rb) = TextOps.dsirModels3(docs, col("source") === "src0")
      TextOps.dsirScore3(docs, tt, tb, rt, rb)
    },
      // order-3 DSIR: the shared trigram stream scored under four models
      // (src0-trained target tri/bi at prunes 2/2, whole-corpus raw at
      // 3/5), each side the stupid-backoff coalesce; decimal sums, ratio
      // from the rounded means — the q_dsir contract one order up
      s"""$dsir3Ctes
        |SELECT d.doc_id, CAST(coalesce(nt, 0) AS BIGINT) AS n_trigrams,
        |  CASE WHEN coalesce(nt, 0) > 0 THEN round(CAST(st AS DOUBLE) / nt, 6)
        |       ELSE 0.0 END AS avg_logp_target,
        |  CASE WHEN coalesce(nt, 0) > 0 THEN round(CAST(sr AS DOUBLE) / nt, 6)
        |       ELSE 0.0 END AS avg_logp_raw,
        |  round(CASE WHEN coalesce(nt, 0) > 0 THEN round(CAST(st AS DOUBLE) / nt, 6)
        |             ELSE 0.0 END
        |      - CASE WHEN coalesce(nt, 0) > 0 THEN round(CAST(sr AS DOUBLE) / nt, 6)
        |             ELSE 0.0 END, 6) AS log_ratio
        |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id""".stripMargin,
      // benched: order-3 DSIR — four models from one grouped tokenisation
      // plus the doubly-joined trigram scoring stream.
      // budget: 2.978 s warmed (r15).
      // pin: pinned from r15's first settled full-harness run (rc=0,
      // vs_baseline 0.950, run_factor/pin_factor both 1.000).
      Some(Pin(3.87, 2.794))),
    // the order-3 DSIR pipeline composed end to end (the q_dsir_sample
    // recipe over the backoff score): scorable docs weighted by the
    // shifted 6dp log-ratio, then sequential-Poisson weighted sampling
    // not benched: it is q_dsir3 plus the already-benched weighted-sample
    // tail.
    Gate("q_dsir3_sample", (s, d) => {
      val docs = t(s, d, "documents")
      val (tt, tb, rt, rb) = TextOps.dsirModels3(docs, col("source") === "src0")
      dsirSample(docs, TextOps.dsirScore3(docs, tt, tb, rt, rb).filter(col("n_trigrams") > 0))
    },
      // the order-3 DSIR pipeline end to end: the q_dsir_sample
      // weight/priority tail over the backoff log-ratio
      s"""$dsir3Ctes,
        |sc AS (SELECT doc_id,
        |    round(round(CAST(st AS DOUBLE) / nt, 6)
        |        - round(CAST(sr AS DOUBLE) / nt, 6), 6) AS log_ratio
        |  FROM agg),
        |$dsirSampleSql""".stripMargin),
    Gate("q_ppl_buckets", (s, d) => TextOps.perplexityBuckets(t(s, d, "documents")),
      // quartile cuts via quantile_cont — quarter-fraction interpolation is
      // engine-exact (Stats contract), both sides round cuts to 6 dp
      s"""WITH sc AS (SELECT * FROM ($lmScoreSql) s0),
        |cuts AS (
        |  SELECT round(quantile_cont(avg_logp, 0.25), 6) AS p25,
        |    round(quantile_cont(avg_logp, 0.75), 6) AS p75
        |  FROM sc WHERE n_bigrams > 0)
        |SELECT doc_id, n_bigrams, avg_logp,
        |  CASE WHEN n_bigrams = 0 THEN 'unscored'
        |       WHEN avg_logp >= p75 THEN 'head'
        |       WHEN avg_logp >= p25 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN cuts""".stripMargin),
    Gate("q_ppl_buckets3", (s, d) => TextOps.perplexityBuckets3(t(s, d, "documents")),
      // order-3 buckets: quartile cuts via quantile_cont over the backoff
      // scores (the q_ppl_buckets recipe at order 3)
      s"""WITH sc AS (SELECT * FROM ($lmScore3Sql) s0),
        |cuts AS (
        |  SELECT round(quantile_cont(avg_logp3, 0.25), 6) AS p25,
        |    round(quantile_cont(avg_logp3, 0.75), 6) AS p75
        |  FROM sc WHERE n_trigrams > 0)
        |SELECT doc_id, n_trigrams, avg_logp3,
        |  CASE WHEN n_trigrams = 0 THEN 'unscored'
        |       WHEN avg_logp3 >= p75 THEN 'head'
        |       WHEN avg_logp3 >= p25 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN cuts""".stripMargin),
    // not benched: it is q_lm_score5 plus one scalar quartile aggregation —
    // the double-count precedent; the counting stage's corpus growth is
    // ScaleBudget's ngram5_counts band.
    Gate("q_ppl_buckets5", (s, d) => TextOps.perplexityBuckets5(t(s, d, "documents")),
      // order-5 buckets: quartile cuts via quantile_cont over the order-5
      // backoff scores (the q_ppl_buckets3 recipe one order up)
      s"""WITH sc AS (SELECT * FROM ($lmScore5Sql) s0),
        |cuts AS (
        |  SELECT round(quantile_cont(avg_logp5, 0.25), 6) AS p25,
        |    round(quantile_cont(avg_logp5, 0.75), 6) AS p75
        |  FROM sc WHERE n_5grams > 0)
        |SELECT doc_id, n_5grams, avg_logp5,
        |  CASE WHEN n_5grams = 0 THEN 'unscored'
        |       WHEN avg_logp5 >= p75 THEN 'head'
        |       WHEN avg_logp5 >= p25 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN cuts""".stripMargin),
    // the CCNet pipeline composed end to end (r15): trained language ID
    // splits the corpus, the per-language LM trains ON THE SLICE, the
    // quartile split buckets it — language-split-then-score is CCNet's
    // actual architecture, and every stage is an already-gated
    // operator; the gate is the SEAMS
    Gate("q_ccnet_pipeline", (s, d) => {
      val docs = t(s, d, "documents")
      val en = docs.join(
        trainedLangPredictions(docs)
          .filter(col("predicted_lang") === "en")
          .select(col("doc_id")),
        Seq("doc_id"))
      TextOps.perplexityBuckets(en)
    },
      // the CCNet pipeline composed end to end: the trained-language-ID
      // oracle picks the predicted-en slice, the LM oracle trains/scores
      // ON THAT SLICE, the quartile bucket wrapper splits it — every
      // stage an already-gated recipe, the gate is the SEAMS
      s"""WITH pred AS (
        |  SELECT doc_id, predicted_lang FROM ($langIdTrainedSql) p),
        |en AS (SELECT d.doc_id, d.text FROM documents d
        |  JOIN pred ON pred.doc_id = d.doc_id
        |  WHERE pred.predicted_lang = 'en'),
        |${lmScoreCtesFrom("en")},
        |sc AS (${lmScoreSelectFrom("en")}),
        |cuts AS (
        |  SELECT round(quantile_cont(avg_logp, 0.25), 6) AS p25,
        |    round(quantile_cont(avg_logp, 0.75), 6) AS p75
        |  FROM sc WHERE n_bigrams > 0)
        |SELECT doc_id, n_bigrams, avg_logp,
        |  CASE WHEN n_bigrams = 0 THEN 'unscored'
        |       WHEN avg_logp >= p75 THEN 'head'
        |       WHEN avg_logp >= p25 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN cuts""".stripMargin),
    // the per-language LM DISPATCH (r16) — q_ccnet_pipeline generalised
    // from one slice to CCNet's actual deployment shape: one persisted
    // LmIndex PER predicted language (buildPerLang — every model from
    // ONE keyed tokenisation pass, never a filtered scan per language),
    // then every document scored against ITS OWN language's model
    // through one (lang, w1, w2) join (scoreByLang — one corpus pass +
    // one join + one aggregation for any number of languages). The gate
    // is the dispatch seams: slice-local training, lang-keyed model
    // selection, per-language prune — the oracle recomputes all five
    // models as lang-keyed aggregations and must match every row.
    Gate("q_ccnet_dispatch", (s, d) => {
      val docs = t(s, d, "documents")
      val labeled = docs.join(
        trainedLangPredictions(docs)
          .select(col("doc_id"), col("predicted_lang")),
        Seq("doc_id"))
      val dir = s"$gateScratch/ccnetlm_${math.abs(d.hashCode)}"
      graft.ops.LmIndex.buildPerLang(labeled, dir)
      graft.ops.LmIndex.scoreByLang(s, dir, labeled)
    },
      // the per-language dispatch: every language's model recomputed as a
      // lang-keyed aggregation (counts, totals, prune, p_cond — the
      // q_lm_score recipe with plang threaded through every CTE), then
      // each document's bigrams scored against ITS language's rows — a
      // mis-dispatched document (scored under another language's model)
      // mismatches, which is the seam this gate exists for
      s"""WITH pred AS (
        |  SELECT doc_id, predicted_lang FROM ($langIdTrainedSql) p),
        |src AS (SELECT d.doc_id, d.text, pred.predicted_lang AS plang
        |  FROM documents d JOIN pred ON pred.doc_id = d.doc_id),
        |t AS (
        |  SELECT doc_id, plang,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+') AS toks
        |  FROM src),
        |e AS (SELECT doc_id, plang, unnest(toks) AS tok,
        |  generate_subscripts(toks, 1) AS pos FROM t),
        |b2 AS (
        |  SELECT a.doc_id, a.plang, a.tok AS w1, c.tok AS w2
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |bc AS (SELECT plang, w1, w2, count(*) AS n FROM b2 GROUP BY 1, 2, 3),
        |wt AS (SELECT plang, w1, sum(n) AS tot FROM bc GROUP BY 1, 2),
        |-- p in EXACT INTEGER MICROS (statsFromCountsExact): totals like
        |-- 640 = 2^7*5 put odd counts exactly on the .5e-6 boundary,
        |-- where engine round()s disagree
        |st AS (
        |  SELECT plang, w1, w2,
        |    CAST((n * 2000000 + tot) // (tot * 2) AS DOUBLE) / 1000000.0 AS p
        |  FROM bc JOIN wt USING (plang, w1) WHERE n >= 5),
        |terms AS (
        |  SELECT b2.doc_id, b2.plang, coalesce(round(ln(st.p), 9), -10.0) AS lp
        |  FROM b2 LEFT JOIN st ON st.plang = b2.plang
        |    AND st.w1 = b2.w1 AND st.w2 = b2.w2),
        |agg AS (
        |  SELECT doc_id, plang, count(*) AS nb, sum(CAST(lp AS DECIMAL(28,9))) AS s
        |  FROM terms GROUP BY 1, 2),
        |-- the 6dp mean in EXACT INTEGER MICROS (half away from zero):
        |-- per-language sums hit exact .5e-6 quotient boundaries, where a
        |-- double round(s/n, 6) split the engines at sf0.1
        |ni AS (
        |  SELECT doc_id, plang, nb,
        |    CAST(s * 1000000000 AS BIGINT) AS sn, nb * 1000 AS dd
        |  FROM agg)
        |SELECT d.doc_id, d.plang AS predicted_lang,
        |  CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        |  CASE WHEN coalesce(nb, 0) > 0 THEN
        |    CAST(CASE WHEN sn >= 0 THEN (sn * 2 + dd) // (dd * 2)
        |              ELSE -(((0 - sn) * 2 + dd) // (dd * 2)) END AS DOUBLE)
        |      / 1000000.0
        |  ELSE 0.0 END AS avg_logp
        |FROM src d LEFT JOIN ni ON ni.doc_id = d.doc_id""".stripMargin),
    Gate("q_vocab_drift", (s, d) => TextOps.vocabDrift(t(s, d, "documents")),
      """WITH t AS (
        |  SELECT source,
        |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+')) AS token
        |  FROM documents),
        |st AS (SELECT source, token, count(*) AS c_st FROM t GROUP BY 1, 2),
        |ct AS (SELECT token, sum(c_st) AS c_t FROM st GROUP BY 1),
        |ns AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1),
        |n AS (SELECT sum(c_t) AS nn FROM ct)
        |SELECT st.source, CAST(ns.n_s AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(
        |    round((CAST(c_st AS DOUBLE) / ns.n_s) *
        |      round(ln(CAST(c_st * nn AS DOUBLE) / CAST(ns.n_s * c_t AS DOUBLE)), 9), 9)
        |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS kl_nats
        |FROM st JOIN ct USING (token) JOIN ns USING (source) CROSS JOIN n
        |GROUP BY 1, 2""".stripMargin),
    Gate("q_redact", (s, d) =>
      // blocklist terms chosen to actually fire on this corpus; the op's
      // default patterns are the classic PII scrubs (no digits/emails in
      // the synthetic documents, so those would gate a no-op)
      Curate.redact(t(s, d, "documents"),
        Seq("\\b(customer|key)\\b" -> "[TERM]",
          Curate.EmailPattern -> "[EMAIL]"))
        .select(col("doc_id"), col("text"), col("n_redactions")),
      s"""SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text, '\\b(customer|key)\\b', '[TERM]', 'g'),
        |    '${graft.ops.Curate.EmailPattern}', '[EMAIL]', 'g') AS text,
        |  CAST(len(regexp_extract_all(text, '\\b(customer|key)\\b'))
        |     + len(regexp_extract_all(text, '${graft.ops.Curate.EmailPattern}'))
        |    AS BIGINT) AS n_redactions
        |FROM documents""".stripMargin),
    // checksum-validated card redaction: the corpus carries no digits,
    // so card-shaped dirt is injected — one VALID contiguous 16-digit
    // PAN (redacted), the SAME pan in separator print form (redacted:
    // the checksum sees through the dashes), a checksum-FAILING shape
    // twin (left verbatim — the false-positive class the Luhn gate
    // exists to protect), and a VALID 15-digit Amex in 4-6-5 print form
    // (redacted — the shape envelope is 13-19 digits, not just 4×4).
    // Exclusive classes on doc_id % 11.
    Gate("q_redact_cards", (s, d) => {
      val base = t(s, d, "documents").withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 11 === 0, lit(" 4539578763621486"))
            .when(col("doc_id") % 11 === 5, lit(" 4539-5787-6362-1486"))
            .when(col("doc_id") % 11 === 7, lit(" 4539578763621487"))
            .when(col("doc_id") % 11 === 9, lit(" 3782 822463 10005"))
            .otherwise(lit(""))))
      Curate.redactCards(base)
        .select(col("doc_id"), col("text"), col("n_cards"))
    },
      // the card oracle re-derives the Luhn mod-10 arithmetic in SQL
      // (digit list reversed via negative indexing, double-every-second,
      // subtract 9 over 9, sum % 10) — the checksum itself is on the
      // hook, not just the fixture outcome; the corpus carries no digits
      // so the injected span is the row's only candidate (regexp_extract
      // first-match is total coverage here by construction)
      s"""WITH base AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 11 = 0 THEN ' 4539578763621486'
        |                 WHEN doc_id % 11 = 5 THEN ' 4539-5787-6362-1486'
        |                 WHEN doc_id % 11 = 7 THEN ' 4539578763621487'
        |                 WHEN doc_id % 11 = 9 THEN ' 3782 822463 10005'
        |                 ELSE '' END AS text
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text,
        |    regexp_extract(text, '${graft.ops.Curate.CardPattern}') AS cand
        |  FROM base),
        |dd AS (
        |  SELECT doc_id, text, cand,
        |    regexp_replace(cand, '[^0-9]', '', 'g') AS dg
        |  FROM c),
        |l AS (
        |  SELECT doc_id, text, cand,
        |    cand <> '' AND len(dg) BETWEEN 13 AND 19 AND
        |    list_sum(list_transform(range(1, len(dg) + 1), i ->
        |      CASE WHEN i % 2 = 0
        |           THEN CASE WHEN 2 * CAST(dg[-i] AS INT) > 9
        |                     THEN 2 * CAST(dg[-i] AS INT) - 9
        |                     ELSE 2 * CAST(dg[-i] AS INT) END
        |           ELSE CAST(dg[-i] AS INT) END)) % 10 = 0 AS ok
        |  FROM dd)
        |SELECT doc_id,
        |  CASE WHEN ok
        |       THEN regexp_replace(text, '\\b' || cand || '\\b', '[CARD]', 'g')
        |       ELSE text END AS text,
        |  CAST(CASE WHEN ok THEN 1 ELSE 0 END AS BIGINT) AS n_cards
        |FROM l""".stripMargin,
      // benched: the checksum-validated card scrub is a corpus-wide
      // projection.
      // budget: 0.395 s warmed (r10).
      Some(Pin(0.51, 0.143)))
  )
}
