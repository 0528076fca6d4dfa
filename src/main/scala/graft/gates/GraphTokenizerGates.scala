package graft
package gates

import graft.ops.Curate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Iterative graph algorithms (PageRank, label propagation, triangles,
  * TrustRank) and tokenizer induction (BPE, unigram LM) with token packing. */
object GraphTokenizerGates {

  /** The SQL twin of [[coGraphEdges]]: `pairs(c, p)` and the symmetrised
    * `edges(src, dst)`. */
  private val coEdgesCtes: String =
    """pairs AS (
      |    SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
      |      CAST(l_suppkey AS BIGINT) + 10000000 AS p
      |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |  edges AS (SELECT c AS src, p AS dst FROM pairs
      |    UNION ALL SELECT p AS src, c AS dst FROM pairs)""".stripMargin

  /** Train `n` BPE merges and collect the (pair, merged) table in step
    * order — the k-bounded artifact collect (PQ-codebook precedent)
    * shared by the q_bpe_segment / q_bpe_tokenize / q_pack_tokens
    * builders so merge count and ordering can never silently diverge
    * between the gated queries. Uses the trainer q_bpe_train gates. */
  private def collectedMerges(docs: DataFrame, n: Int): Seq[(String, String)] =
    graft.ops.Bpe.trainMerges(docs, n)
      .orderBy(col("step")).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[String]("merged"))).toSeq

  /** The shared graph-query edge set: customer–supplier co-occurrence
    * pairs from orders ⨝ lineitem (suppliers offset into their own id
    * space), symmetrised so every node has out-degree ≥ 1 — no dangling
    * mass for PageRank, votes in both directions for label propagation. */
  private def coGraphEdges(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("c"),
        (col("l_suppkey").cast("long") + 10000000L).as("p"))
      .distinct()
    pairs.select(col("c").as("src"), col("p").as("dst"))
      .union(pairs.select(col("p").as("src"), col("c").as("dst")))
  }

  /** The q_pagerank oracle: the 5 damped iterations unrolled as CTE
    * pairs (contribution sum, then rank update), every quantity a
    * non-negative BIGINT so DuckDB's flooring `//` and Spark's
    * truncating `div` agree bit-for-bit. */
  private def pagerankSql: String =
    s"""WITH $coEdgesCtes,
       |  ${pagerankIterCtes(5)}
       |SELECT node, rank FROM pr5 ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin

  /** The q_labelprop oracle: 5 synchronous rounds unrolled — per-round
    * (dst, label) vote counts, "count DESC, label ASC" plurality winner,
    * nodes with no in-edges keep their previous label. */
  private def labelpropSql: String = {
    def step(i: Int) =
      s"""v$i AS (SELECT e.dst AS node, l.label, CAST(count(*) AS BIGINT) AS c
         |    FROM edges e JOIN lp${i - 1} l ON e.src = l.node GROUP BY 1, 2),
         |  w$i AS (SELECT node, label FROM v$i
         |    QUALIFY row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, label ASC) = 1),
         |  lp$i AS (SELECT p.node, COALESCE(w$i.label, p.label) AS label
         |    FROM lp${i - 1} p LEFT JOIN w$i ON p.node = w$i.node)""".stripMargin
    s"""WITH $coEdgesCtes,
       |  nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |  lp0 AS (SELECT node, node AS label FROM nodes),
       |  ${(1 to 5).map(step).mkString(",\n  ")}
       |SELECT node, label FROM lp5""".stripMargin
  }

  /** The q_trustrank oracle: personalized teleport — base and initial
    * mass are per-node CASE data over the seed semi-join, iterations
    * otherwise identical to [[pagerankSql]]. */
  private def trustrankSql: String = {
    def step(i: Int) =
      s"""c$i AS (SELECT e.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS s
         |    FROM edges e JOIN deg d ON e.src = d.src
         |    JOIN pr${i - 1} r ON e.src = r.node GROUP BY e.dst),
         |  pr$i AS (SELECT based.node,
         |    CAST(based.base + (85 * COALESCE(c$i.s, 0)) // 100 AS BIGINT) AS rank
         |    FROM based LEFT JOIN c$i ON based.node = c$i.node)""".stripMargin
    s"""WITH $coEdgesCtes,
       |  nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |  deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |  seedsin AS (SELECT DISTINCT CAST(s_suppkey AS BIGINT) + 10000000 AS node
       |    FROM supplier WHERE s_nationkey = 0
       |    AND CAST(s_suppkey AS BIGINT) + 10000000 IN (SELECT node FROM nodes)),
       |  ss AS (SELECT CAST(count(*) AS BIGINT) AS s FROM seedsin),
       |  based AS (SELECT nodes.node,
       |      CASE WHEN si.node IS NOT NULL
       |        THEN (1000000000000 - (85 * 1000000000000) // 100) // ss.s
       |        ELSE 0 END AS base,
       |      CASE WHEN si.node IS NOT NULL THEN 1000000000000 // ss.s
       |        ELSE 0 END AS init
       |    FROM nodes CROSS JOIN ss LEFT JOIN seedsin si ON nodes.node = si.node),
       |  pr0 AS (SELECT node, CAST(init AS BIGINT) AS rank FROM based),
       |  ${(1 to 5).map(step).mkString(",\n  ")}
       |SELECT node, rank FROM pr5 ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin
  }

  /** Shared CTE chain for the BPE oracles: word-type vocabulary →
    * char-unit strings → 5 unrolled merge iterations (pair stats, a
    * deterministic (count DESC, pair ASC) top pick, substring-replace
    * rewrite — units never contain spaces, so substring replacement on
    * the space-joined form IS unit-pair merging, mirroring
    * `ops/Bpe.scala`). */
  /** `n` chained merge-step CTEs. Every multiply-referenced CTE is AS
    * MATERIALIZED: DuckDB otherwise INLINES chained CTEs, which at n=64
    * re-opens the parquet scan per reference (observed as a
    * too-many-open-files failure) and risks exponential plan expansion;
    * materialised, the 64-step oracle runs in ~1 s. */
  private def bpeCtes(n: Int): String = {
    def step(i: Int) =
      s"""u$i AS MATERIALIZED (SELECT s, cnt, string_split(s, ' ') AS us FROM w${i - 1}),
         |  pe$i AS (SELECT unnest([us[i] || ' ' || us[i+1]
         |      FOR i IN generate_series(1, len(us) - 1)]) AS pair, cnt FROM u$i),
         |  pc$i AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS c FROM pe$i GROUP BY 1),
         |  top$i AS MATERIALIZED (SELECT pair, c FROM pc$i ORDER BY c DESC, pair ASC LIMIT 1),
         |  w$i AS (SELECT replace(s, t.pair, replace(t.pair, ' ', '')) AS s, cnt
         |    FROM u$i CROSS JOIN top$i t)""".stripMargin
    s"""WITH words AS MATERIALIZED (
       |    SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |      SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS w
       |      FROM documents)
       |    GROUP BY 1),
       |  w0 AS MATERIALIZED (SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>' AS s,
       |      cnt FROM words),
       |  ${(1 to n).map(step).mkString(",\n  ")}""".stripMargin
  }

  /** The merge-table SELECT over [[bpeCtes]]' top1..topN. */
  private def bpeMergesSelect(n: Int): String =
    "\nSELECT * FROM (\n  " +
      (1 to n).map(i =>
        s"SELECT $i AS step, pair, replace(pair, ' ', '') AS merged, c AS cnt FROM top$i")
        .mkString("\n  UNION ALL ") + ")"

  /** One unrolled Viterbi DP pass for the unigram oracle: dp{p}_0 ..
    * dp{p}_{maxW} over the `words` CTE under the `(piece, wt)` vocab CTE
    * `vcte`, ending in `seg$p(word, cnt, sc, np, seg)` — each step picks
    * the best split of word[0, i) by (score DESC, piece-count ASC,
    * segmentation ASC), the trainer's exact total order. Steps guard
    * `len(word) >= i` so a short word can never match a beyond-the-end
    * substr. MATERIALIZED like [[bpeCtes]] (chained-CTE inlining would
    * blow up the 8-step × 4-lookback plan). */
  private def unigramDp(p: Int, vcte: String, maxW: Int, maxL: Int): String = {
    def step(i: Int): String = {
      val blocks = (math.max(0, i - maxL) until i).map { j =>
        s"""SELECT d.word, d.cnt, d.sc + v.wt AS sc, d.np + 1 AS np,
           |      CASE WHEN d.seg = '' THEN v.piece ELSE d.seg || ' ' || v.piece END AS seg
           |    FROM dp${p}_$j d JOIN $vcte v
           |      ON len(d.word) >= $i AND v.piece = substr(d.word, ${j + 1}, ${i - j})""".stripMargin
      }.mkString("\n    UNION ALL ")
      s"""dp${p}_$i AS MATERIALIZED (
         |  SELECT word, cnt, sc, np, seg FROM (
         |    $blocks)
         |  QUALIFY row_number() OVER (PARTITION BY word
         |    ORDER BY sc DESC, np ASC, seg ASC) = 1)""".stripMargin
    }
    val segUnion = (1 to maxW).map(i =>
      s"SELECT word, cnt, sc, np, seg FROM dp${p}_$i WHERE len(word) = $i")
      .mkString("\n    UNION ALL ")
    s"""dp${p}_0 AS (SELECT word, cnt, CAST(0 AS BIGINT) AS sc, 0 AS np, '' AS seg FROM words),
       |  ${(1 to maxW).map(step).mkString(",\n  ")},
       |  seg$p AS MATERIALIZED (
       |    $segUnion)""".stripMargin
  }

  /** The unigram trainer replayed end to end: substring seed (all
    * single chars + the top 4·V multis by (freq DESC, piece ASC)),
    * integer-micro log-probs (`round(round(ln(f/tot),6)*1e6)` — the
    * lang-ID weight discipline), two hard-EM passes (unrolled Viterbi
    * DP → piece counts weighted by word frequency → char-floored
    * re-estimation), deterministic prune to V with renormalisation.
    * Ends with `vw(piece, f, wt)` — the fitted vocabulary. maxW = 8 is
    * the fixture's pinned max word length (TestdataInvariantSpec). */
  private def unigramCtes(v: Int = 48, maxL: Int = 4, maxW: Int = 8): String = {
    def em(p: Int, vcte: String): String =
      s"""${unigramDp(p, vcte, maxW, maxL)},
         |  ec$p AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS f FROM (
         |      SELECT unnest(string_split(seg, ' ')) AS piece, cnt FROM seg$p)
         |    GROUP BY 1),
         |  v${p}f AS MATERIALIZED (
         |    SELECT c.piece, greatest(coalesce(e.f, 0), 1) AS f
         |    FROM (SELECT piece FROM v0f WHERE len(piece) = 1) c
         |    LEFT JOIN ec$p e USING (piece)
         |    UNION ALL SELECT piece, f FROM ec$p WHERE len(piece) > 1)""".stripMargin
    s"""WITH words AS MATERIALIZED (
       |    SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |      SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS w
       |      FROM documents)
       |    GROUP BY 1),
       |  pos AS (SELECT word, cnt,
       |      unnest(generate_series(1, len(word))) AS i FROM words),
       |  sub AS (
       |    SELECT substr(p.word, CAST(p.i AS INT), CAST(ls.l AS INT)) AS piece,
       |      CAST(sum(p.cnt) AS BIGINT) AS f
       |    FROM pos p CROSS JOIN (
       |      SELECT unnest(generate_series(1, $maxL)) AS l) ls
       |    WHERE p.i + ls.l - 1 <= len(p.word) GROUP BY 1),
       |  seedm AS (SELECT piece, f FROM sub WHERE len(piece) > 1
       |    QUALIFY row_number() OVER (ORDER BY f DESC, piece ASC) <= ${4 * v}),
       |  v0f AS MATERIALIZED (
       |    SELECT piece, f FROM sub WHERE len(piece) = 1
       |    UNION ALL SELECT piece, f FROM seedm),
       |  v1 AS MATERIALIZED (SELECT piece,
       |      CAST(round(round(ln(CAST(f AS DOUBLE) / (SELECT sum(f) FROM v0f)), 6)
       |        * 1000000, 0) AS BIGINT) AS wt
       |    FROM v0f),
       |  ${em(1, "v1")},
       |  v2 AS MATERIALIZED (SELECT piece,
       |      CAST(round(round(ln(CAST(f AS DOUBLE) / (SELECT sum(f) FROM v1f)), 6)
       |        * 1000000, 0) AS BIGINT) AS wt
       |    FROM v1f),
       |  ${em(2, "v2")},
       |  nch AS (SELECT count(*) AS n FROM v2f WHERE len(piece) = 1),
       |  keepm AS (SELECT piece, f FROM v2f WHERE len(piece) > 1
       |    QUALIFY row_number() OVER (ORDER BY f DESC, piece ASC)
       |      <= greatest($v - (SELECT n FROM nch), 0)),
       |  vf AS MATERIALIZED (
       |    SELECT piece, f FROM v2f WHERE len(piece) = 1
       |    UNION ALL SELECT piece, f FROM keepm),
       |  vw AS MATERIALIZED (SELECT piece, f,
       |      CAST(round(round(ln(CAST(f AS DOUBLE) / (SELECT sum(f) FROM vf)), 6)
       |        * 1000000, 0) AS BIGINT) AS wt
       |    FROM vf)""".stripMargin
  }

  /** The q_unigram_train oracle: the fitted vocabulary. */
  private def unigramTrainSql: String =
    s"""${unigramCtes()}
       |SELECT piece, CAST(f AS BIGINT) AS freq, wt AS logp_micro FROM vw""".stripMargin

  /** The q_unigram_segment oracle: the final Viterbi pass under the
    * fitted vocabulary gives every word type its (piece count, score);
    * documents sum their words', empty docs keep a (0, 0) row. */
  private def unigramSegmentSql: String =
    s"""${unigramCtes()},
       |  ${unigramDp(3, "vw", 8, 4)},
       |  docw AS (SELECT doc_id,
       |      unnest(regexp_extract_all(lower(text), '\\S+')) AS word
       |    FROM documents),
       |  perword AS (
       |    SELECT docw.doc_id, s.np, s.sc
       |    FROM docw JOIN seg3 s ON s.word = docw.word)
       |SELECT d.doc_id,
       |  CAST(coalesce(sum(p.np), 0) AS BIGINT) AS n_pieces,
       |  CAST(coalesce(sum(p.sc), 0) AS BIGINT) AS score_micro
       |FROM documents d LEFT JOIN perword p ON p.doc_id = d.doc_id
       |GROUP BY 1""".stripMargin

  /** The q_bpe_segment oracle: the training CTEs, then the 5 merges
    * folded (in step order) over every document word and the subword
    * counts summed per document. */
  private def bpeSegmentSql: String = {
    val folded = (1 to 5).foldLeft(
      "trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>'") {
      (acc, i) => s"replace($acc, tops.p$i, tops.m$i)"
    }
    val topCols = (1 to 5).map(i => s"t$i.pair AS p$i, t$i.m AS m$i").mkString(", ")
    val topSrcs = (1 to 5)
      .map(i => s"(SELECT pair, replace(pair, ' ', '') AS m FROM top$i) t$i")
      .mkString(" CROSS JOIN ")
    bpeCtes(5) + s""",
      |  docw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS word
      |    FROM documents),
      |  tops AS (SELECT $topCols FROM $topSrcs)
      |SELECT doc_id, CAST(sum(len(string_split($folded, ' '))) AS BIGINT) AS n_tokens
      |FROM docw CROSS JOIN tops GROUP BY doc_id""".stripMargin
  }

  /** The training + per-doc ordered-segmentation CTEs shared by
    * q_bpe_tokenize and q_pack_tokens — merges folded over every word,
    * the per-doc token string rebuilt IN WORD ORDER (`string_agg ...
    * ORDER BY ord`, an explicit subscript sort — a genuinely different
    * order-preservation mechanism than the Spark side's
    * order-by-construction array lambdas). Ends with `seg(doc_id,
    * toks, n_tokens)`; docs with no words are absent, so callers LEFT
    * JOIN to honor `segmentTokens`' every-input-row contract. */
  private def bpeTokenizeCtes: String = {
    val folded = (1 to 5).foldLeft(
      "trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>'") {
      (acc, i) => s"replace($acc, tops.p$i, tops.m$i)"
    }
    val topCols = (1 to 5).map(i => s"t$i.pair AS p$i, t$i.m AS m$i").mkString(", ")
    val topSrcs = (1 to 5)
      .map(i => s"(SELECT pair, replace(pair, ' ', '') AS m FROM top$i) t$i")
      .mkString(" CROSS JOIN ")
    bpeCtes(5) + s""",
      |  docw AS (SELECT doc_id,
      |      unnest(regexp_extract_all(lower(text), '\\S+')) AS word,
      |      generate_subscripts(regexp_extract_all(lower(text), '\\S+'), 1) AS ord
      |    FROM documents),
      |  tops AS (SELECT $topCols FROM $topSrcs),
      |  seg AS (SELECT doc_id, string_agg($folded, ' ' ORDER BY ord) AS toks,
      |      CAST(sum(len(string_split($folded, ' '))) AS BIGINT) AS n_tokens
      |    FROM docw CROSS JOIN tops GROUP BY doc_id)""".stripMargin
  }

  private def bpeTokenizeSql: String =
    bpeTokenizeCtes + """
      |SELECT d.doc_id, coalesce(seg.toks, '') AS toks,
      |  CAST(coalesce(seg.n_tokens, 0) AS BIGINT) AS n_tokens
      |FROM documents d LEFT JOIN seg USING (doc_id)""".stripMargin

  /** The q_pack_tokens oracle: segmentation CTEs, then the same
    * cumulative-window chunk assignment as the q_pack_chunks oracle and
    * an id-ordered string_agg with the `</s>` boundary after every doc
    * — the packed stream rebuilt entirely in SQL. */
  private def packTokensSql: String =
    bpeTokenizeCtes + """,
      |  toks AS (SELECT d.doc_id, d.source, coalesce(seg.toks, '') AS toks,
      |      CAST(coalesce(seg.n_tokens, 0) AS BIGINT) AS n_tokens
      |    FROM documents d LEFT JOIN seg USING (doc_id)),
      |  cum AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM toks),
      |  chunked AS (SELECT *,
      |      CAST(floor((c - n_tokens) / 512.0) AS BIGINT) AS chunk_id FROM cum)
      |SELECT source, chunk_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  string_agg(CASE WHEN toks = '' THEN '</s>' ELSE toks || ' </s>' END,
      |    ' ' ORDER BY doc_id ASC) AS packed,
      |  CAST(sum(n_tokens) + count(*) AS BIGINT) AS n_tokens_packed
      |FROM chunked GROUP BY 1, 2""".stripMargin

  val gates: Seq[Gate] = Seq(
    // the end-to-end shard-writer composition: tokenize (frozen merges,
    // ordered) -> chunk by token budget -> concatenate token streams
    // with a </s> boundary per doc. shards = 1 pinned for the exact
    // id-ordered oracle layout (the q_pack_chunks convention); packed
    // emitted as the space-joined stream so the oracle checks content
    // AND order of every token in every chunk
    Gate("q_pack_tokens", (s, d) => {
      val docs = t(s, d, "documents")
      // `source` rides segmentTokens' keepCols pass-through: the
      // tokenize pass stays ONE zero-shuffle projection (re-joining
      // source back on would cost a corpus-sized doc_id exchange)
      val toks = graft.ops.Bpe.segmentTokens(docs, collectedMerges(docs, 5),
        keepCols = Seq("source"))
      val chunked = Curate.packChunks(toks, budget = 512, shards = 1)
      Curate.packTokens(chunked)
        .select(col("source"), col("chunk_id"), col("n_docs"),
          array_join(col("packed_tokens"), " ").as("packed"),
          col("n_tokens_packed"))
    }, packTokensSql,
      // benched: the end-to-end shard-writer composition, corpus-wide.
      // budget: re-based TIGHTER in r10 (2.65 -> 1.70 = 1.311 warmed × 1.3)
      // after collectedMerges switched to the production delta trainer (2.04
      // -> 1.31 s) so the win cannot silently regress.
      Some(Pin(1.70, 0.939))),
    // link-graph authority scoring (the CCNet/RefinedWeb-style quality
    // prior): customer–supplier co-occurrence graph from orders ⨝
    // lineitem, symmetrised so every node has out-degree ≥ 1 (no
    // dangling mass), 5 fixed-point PageRank iterations — engine-exact
    // Long arithmetic end to end (see Graph.pageRank scaladoc)
    Gate("q_pagerank", (s, d) =>
      graft.ops.Graph.pageRank(coGraphEdges(s, d), iters = 5)
        .orderBy(col("rank").desc, col("node").asc)
        .limit(20),
      // PageRank: 5 unrolled fixed-point iterations, all-BIGINT integer
      // division (`//` floors, `div` truncates — equal on the
      // non-negative quantities here), spelled step for step against
      // Graph.pageRank
      pagerankSql,
      // benched: iterative link-graph authority (5 fixed-point iterations).
      // budget: 1.14 s warmed (r8).
      Some(Pin(1.48, 0.579))),
    // synchronous label propagation over the same co-occurrence graph:
    // plurality label among in-neighbors, ties to the smallest label,
    // 5 fixed rounds — the deterministic community-detection variant
    // (see Graph.labelPropagation scaladoc)
    Gate("q_labelprop", (s, d) =>
      graft.ops.Graph.labelPropagation(coGraphEdges(s, d), iters = 5), labelpropSql,
      // budget: re-based TIGHTER in r11 (2.66 -> 1.55 = 1.19 warmed × 1.3)
      // after the raw-vote repartition + eager per-round checkpoint were
      // replaced by map-side partial aggregation on the pipelined lazy-cache
      // window (the pageRank shape; evidence in PERF.md r11).
      // pin: re-pinned after the r11 repartition/checkpoint rework (3.156 ->
      // idle TimeTool 1.194; full-bench and TimeTool contexts agreed within
      // 1% for this query pre-change).
      Some(Pin(1.55, 1.20))),
    // per-node triangle counts (degree-ordered orientation) over the
    // supplier co-membership graph of every 10th order — the bipartite
    // customer-supplier co-graph is triangle-free by construction, so
    // the substrate here is supplier pairs sharing an order
    Gate("q_triangles", (s, d) => {
      val li = t(s, d, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sk"))
        .distinct()
      val e = li.select(col("o"), col("sk").as("sa"))
        .join(li.select(col("o"), col("sk").as("sb")), Seq("o"))
        .filter(col("sa") < col("sb"))
        .select(col("sa").as("src"), col("sb").as("dst"))
      graft.ops.Graph.triangleCounts(e)
    },
      // pure integer counting — any correct enumeration matches; the
      // row-value comparisons mirror the (deg, id) orientation order
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |e AS (SELECT DISTINCT a.sk AS u, b.sk AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.sk < b.sk),
        |deg AS (SELECT n, count(*) AS d FROM (
        |    SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |og AS (SELECT
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dkd
        |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |w AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM og e1 JOIN og e2 ON e1.src = e2.src
        |  WHERE (e1.dkd, e1.dst) < (e2.dkd, e2.dst)),
        |tr AS (SELECT w.a, w.b, w.c
        |  FROM w JOIN og ON og.src = w.b AND og.dst = w.c),
        |nn AS (SELECT a AS node FROM tr
        |  UNION ALL SELECT b FROM tr UNION ALL SELECT c FROM tr)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM nn GROUP BY 1""".stripMargin,
      // benched: degree-ordered triangle counting (wedge work bounded by sum
      // outdeg^2 <= m^1.5, the compact-forward bound).
      // budget: 1.34 s warmed (r8).
      Some(Pin(1.74, 1.109))),
    // BPE tokenizer induction (Sennrich): 5 merges learned from the
    // word-type vocabulary — deterministic (count DESC, pair ASC) wins
    Gate("q_bpe_train", (s, d) =>
      graft.ops.Bpe.trainMerges(t(s, d, "documents"), 5), (bpeCtes(5) + bpeMergesSelect(5)),
      // budget: re-based TIGHTER in r9 (1.79 -> 1.08 = 0.83 warmed × 1.3)
      // after the collect-per-round literal rewrite (exponential-plan
      // crossJoin removed) so the win cannot silently regress.
      Some(Pin(1.08, 0.768))),
    // production-k induction through the capped entry point (no cap
    // here): 64 merges from one vocabulary collect, oracle-gated
    // against DuckDB executing all 64 steps in SQL
    Gate("q_bpe_train64", (s, d) =>
      graft.ops.Bpe.trainMergesLocal(
        graft.ops.Bpe.wordVocab(t(s, d, "documents")), 64, maxTypes = 0),
      // 64 merges: DuckDB executes the algorithm spelled as 64 chained
      // SQL steps; Spark runs the driver-side delta trainer — two genuinely
      // different algorithms agreeing on the same total-ordered spec
      (bpeCtes(64) + bpeMergesSelect(64)),
      // benched: the production-k path — distributed vocab agg + driver-side
      // delta merge loop (64 merges, no chained Spark jobs).
      // budget: the r9 driver-side delta trainer, 0.38 s warmed.
      Some(Pin(0.50, 0.107))),
    // the learned merges applied as a frozen artifact (k-bounded
    // collect, the PQ-codebook precedent): per-doc subword token counts
    // not benched: its cost IS the training pass plus a stateless projection.
    Gate("q_bpe_segment", (s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Bpe.segmentCounts(docs, collectedMerges(docs, 5))
    }, bpeSegmentSql),
    // Unigram-LM (SentencePiece, Kudo 2018) tokenizer induction — the
    // OTHER production tokenizer (r16): substring seed vocabulary, hard
    // (Viterbi) EM over the word types with integer-micro log-probs,
    // char-floored M-step, deterministic prune to the target size.
    // Same architecture as q_bpe_train64 (ONE distributed word-type
    // aggregation, exact driver-side loop), and the oracle replays the
    // ENTIRE training — seed counts, both EM passes' unrolled Viterbi
    // DP, the prune, the renormalisation — in generated SQL CTEs
    Gate("q_unigram_train", (s, d) =>
      graft.ops.Unigram.piecesDf(s,
        graft.ops.Unigram.train(t(s, d, "documents"))),
      // the unigram trainer replayed end to end in generated CTEs (seed,
      // two unrolled hard-EM passes, prune, renormalise) — any drift in
      // the Viterbi total order, the char floor, or the prune order
      // mismatches the whole vocabulary
      unigramTrainSql),
    // the fitted model applied: per-doc Viterbi piece counts + total
    // score through the broadcast word→segmentation table (the
    // SentencePiece word cache as the primary path)
    Gate("q_unigram_segment", (s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Unigram.segmentCounts(docs, graft.ops.Unigram.train(docs))
    },
      // the fitted model applied: one more unrolled Viterbi pass under
      // the final vocabulary, summed per document
      unigramSegmentSql),
    // the PERSISTED unigram artifact (UnigramIndex — the BpeIndex
    // discipline: additive word-type vocabulary + frozen pieces + the
    // persisted Viterbi word cache): build → reload → segment must
    // reproduce the self-trained q_unigram_segment exactly, putting the
    // persist/reload seam on the same replayed-SQL oracle hook
    Gate("q_unigram_index", (s, d) => {
      val docs = t(s, d, "documents")
      val dir = s"$gateScratch/ugindex_${math.abs(d.hashCode)}"
      graft.ops.UnigramIndex.build(docs, dir)
      graft.ops.UnigramIndex.segmentCounts(s, dir, docs)
    },
      // the persisted artifact's build→reload→segment is spec-pinned ≡
      // the in-memory model, so the oracle is SHARED with
      // q_unigram_segment (one replayed SQL, two gates — the
      // q_ann_pq_index precedent)
      unigramSegmentSql),
    // the ORDERED token stream (what a packer consumes, where
    // q_bpe_segment only sizes it): one zero-shuffle array-lambda
    // projection, document order preserved by construction — gated on
    // the space-joined sequence so the oracle checks ORDER, not just
    // counts
    // not benched: its cost is the 5-merge training pass + the stateless
    // tokenize projection, both of which run INSIDE q_pack_tokens (train ->
    // tokenize -> chunk -> pack), so benching both would double-count the
    // same work (the q_substr_strip/q_trustrank precedent).
    Gate("q_bpe_tokenize", (s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Bpe.segmentTokens(docs, collectedMerges(docs, 5))
        .select(col("doc_id"), array_join(col("tokens"), " ").as("toks"),
          col("n_tokens"))
    },
      // ordered token stream: subscript-sorted string_agg vs Spark's
      // order-by-construction lambdas — order itself is what's gated
      bpeTokenizeSql),
    // TrustRank: the same graph, teleport restricted to a trusted seed
    // set (nation-0 suppliers) — random-walk proximity to vetted nodes,
    // the crawl-curation spam prior; unreachable nodes stay exactly 0
    // not benched: it shares the iteration engine with q_pagerank and differs
    // only in the teleport frame, same precedent as q_substr_strip sharing
    // the spans computation.
    Gate("q_trustrank", (s, d) => {
      val seeds = t(s, d, "supplier").filter(col("s_nationkey") === 0)
        .select((col("s_suppkey").cast("long") + 10000000L).as("node"))
      graft.ops.Graph.personalizedPageRank(coGraphEdges(s, d), seeds, iters = 5)
        .orderBy(col("rank").desc, col("node").asc)
        .limit(20)
    }, trustrankSql)
  )
}
