package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer induction (Sennrich et al. 2016), engine-exact.
  *
  * A training-data engine that counts, scores, and packs by tokens
  * should also be able to LEARN the tokenizer: byte-pair-encoding
  * merge induction is the standard subword pipeline step, and it runs
  * on exactly the word-frequency statistics the engine already
  * extracts. The published algorithm operates on the WORD-TYPE
  * vocabulary (distinct words weighted by corpus frequency), not the
  * token stream — so each merge iteration's state is vocabulary-sized,
  * and the corpus is touched exactly once to build the initial counts.
  * That is the 100 TB shape: one corpus-sized vocabulary aggregation,
  * one collect of the word types, then every merge learned on the
  * driver (the PQ/IVF trainer architecture) — no Spark job per merge,
  * nothing quadratic anywhere.
  *
  * Representation: each word type is kept as its space-joined unit
  * string (`"l o w </w>"`), the end-of-word marker a unit of its own.
  * A merge replaces the winning pair substring with its concatenation
  * (`"l o w </w>"` + merge `o w` → `"l ow </w>"`). Because units never
  * contain spaces, substring replacement on this form IS unit-pair
  * merging, and Java's, Spark's and the oracle engines' `replace` all
  * apply left-to-right non-overlapping — the same greedy order the
  * reference algorithm uses on overlapping runs (`a a a` merges to
  * `aa a`).
  *
  * Determinism: pair counts are exact Long sums; the winning pair is
  * picked by (count DESC, pair ASC) with pairs compared as UTF-8 bytes
  * — a total order, so any engine reproduces the same merge table
  * bit-for-bit. Ties in published BPE are implementation-defined;
  * fixing lexicographic-ascending makes the artifact portable.
  */
object Bpe {

  /** Word-type vocabulary: lowercase, whitespace-split, with corpus
    * frequencies. One corpus pass, vocabulary-sized output. */
  def wordVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    Parallel.fan(docs)
      .select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** A word as its initial space-joined character units plus the
    * end-of-word marker: `low` → `l o w </w>`. */
  private def charUnits(word: Column): Column =
    concat(trim(regexp_replace(word, "(.)", "$1 ")), lit(" </w>"))

  /** Learn `nMerges` BPE merges from the corpus: one vocabulary
    * aggregation, one collect, then driver-side merges. Returns one row
    * per merge in training order: (`step` INT, `pair` STRING — the two
    * units space-joined, `merged` STRING, `cnt` BIGINT — the pair's
    * weighted frequency when it won). */
  def trainMerges(docs: DataFrame, nMerges: Int,
                  textCol: String = "text"): DataFrame =
    trainMergesFromVocab(wordVocab(docs, textCol), nMerges)

  /** Learn merges from an explicit (word, cnt) vocabulary frame — the
    * algorithm only ever sees the vocabulary, which is what makes the
    * [[BpeIndex]] incremental story EXACT: vocab counts are additive,
    * so a merged vocab retrains identically to the concatenated
    * corpus. `priorMerges` (in training order) resumes learning from an
    * already-merged unit state, numbering new merges from
    * `priorMerges.size + 1` — training n then extending by k equals
    * training n+k from scratch. Fewer than `nMerges` rows come back
    * when the vocabulary runs out of pairs.
    *
    * The word types are collected once (prior merges folded in as SQL
    * `replace`) and [[localMergeLoop]] learns every merge on the
    * driver, so the whole training is one vocabulary-sized collect
    * whatever `nMerges` is. The driver must hold the vocabulary;
    * [[trainMergesLocal]] caps it for corpora where it cannot. */
  def trainMergesFromVocab(vocab: DataFrame, nMerges: Int,
                           priorMerges: Seq[(String, String)] = Nil): DataFrame = {
    require(nMerges > 0, "nMerges must be positive")
    val start = priorMerges.foldLeft(charUnits(col("word"))) {
      case (c, (pair, merged)) => replace(c, lit(pair), lit(merged))
    }
    val words = vocab.select(start.as("s"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val spark = vocab.sparkSession
    import spark.implicits._
    localMergeLoop(words, nMerges)
      .map { case (step, pair, merged, cnt) => (priorMerges.size + step, pair, merged, cnt) }
      .toDF("step", "pair", "merged", "cnt")
  }

  /** Production-k merge induction over a capped vocabulary: `maxTypes`
    * keeps the most frequent word types ((cnt DESC, word ASC) —
    * deterministic), the standard frequency-floor practice for corpora
    * whose vocabulary is too large for the driver; 0 keeps everything.
    * Then the same trainer as [[trainMergesFromVocab]]: one collect,
    * driver-side merges, the same (step, pair, merged, cnt) frame. A
    * 32k-merge tokenizer is ~minutes of driver CPU on a million-type
    * vocab. */
  def trainMergesLocal(vocab: DataFrame, nMerges: Int,
                       maxTypes: Int = 1000000): DataFrame = {
    require(maxTypes >= 0, "maxTypes must be non-negative")
    val capped =
      if (maxTypes == 0) vocab
      else vocab.orderBy(col("cnt").desc, col("word").asc).limit(maxTypes)
    trainMergesFromVocab(capped, nMerges)
  }

  /** The in-memory merge loop with delta pair maintenance: pair counts
    * are kept incrementally, and each merge re-counts only the word
    * types whose unit string CONTAINS the winning pair — O(affected)
    * pair updates plus one O(V) containment scan per merge, never a
    * full re-aggregation. Pair counts are derived from SPLIT units
    * (single-unit words contribute none); the rewrite is
    * java.lang.String.replace — left-to-right non-overlapping, the exact
    * semantics of the SQL `replace` the oracles use. Affected-word
    * detection is substring containment on the joined string (NOT the
    * split-pair index) for the same reason: `replace` can fire across
    * unit boundaries when one unit is a suffix of another (`"ab b"`
    * contains `"b b"`), and fidelity to the oracles' stringy semantics
    * beats BPE-textbook purity here. Stops early when no pair is left;
    * steps are numbered from 1. */
  private[ops] def localMergeLoop(words0: Array[(String, Long)],
                                  nMerges: Int): Seq[(Int, String, String, Long)] = {
    val words = words0.map(_._1).toBuffer
    val cnts = words0.map(_._2)
    val pairCounts = scala.collection.mutable.HashMap.empty[String, Long]
    def pairsOf(s: String): Iterator[String] = {
      val u = s.split(' ')
      (0 until u.length - 1).iterator.map(i => u(i) + " " + u(i + 1))
    }
    def bump(p: String, by: Long): Unit = {
      val nv = pairCounts.getOrElse(p, 0L) + by
      if (nv == 0L) pairCounts.remove(p) else pairCounts.update(p, nv)
    }
    for (i <- words.indices; p <- pairsOf(words(i))) bump(p, cnts(i))
    // tie-break comparison in UTF-8 UNSIGNED-BYTE order — Spark's
    // UTF8String and DuckDB both sort strings by their UTF-8 bytes, and
    // Java String '<' (UTF-16 code units) DISAGREES with that for
    // supplementary characters (surrogate pairs start 0xD8xx, below
    // U+E000..U+FFFF in UTF-16 but above in UTF-8): an emoji-containing
    // pair tied on count would pick a different winner and diverge the
    // whole merge chain from the oracle
    def utf8Less(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val m = math.min(x.length, y.length)
      var i = 0
      while (i < m) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to nMerges if pairCounts.nonEmpty) {
      // (count DESC, pair ASC) — the oracles' total order
      val (bestPair, bestCnt) = pairCounts.foldLeft(("", Long.MinValue)) {
        case (acc @ (bp, bc), (p, c)) =>
          if (c > bc || (c == bc && utf8Less(p, bp))) (p, c) else acc
      }
      val merged = bestPair.replace(" ", "")
      out += ((step, bestPair, merged, bestCnt))
      var i = 0
      while (i < words.length) {
        val s = words(i)
        if (s.contains(bestPair)) {
          val ns = s.replace(bestPair, merged)
          val c = cnts(i)
          for (p <- pairsOf(s)) bump(p, -c)
          for (p <- pairsOf(ns)) bump(p, c)
          words(i) = ns
        }
        i += 1
      }
    }
    out.result()
  }

  /** Stateless segmentation under FROZEN merges — the ingest-time twin
    * (merges are a k-bounded learned artifact, like PQ codebooks or
    * IVF centroids): per document, lowercase-split words, expand to
    * character units, fold the merges in training order, and count the
    * resulting subword tokens. Pure projection + one corpus-sized
    * aggregation; admits a streaming source unchanged. Documents with
    * no words produce no row (the whitespace-split contract). */
  def segmentCounts(docs: DataFrame, merges: Seq[(String, String)],
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val folded = merges.foldLeft(charUnits(col("word"))) {
      case (c, (pair, merged)) => replace(c, lit(pair), lit(merged))
    }
    docs
      .select(col(idCol),
        explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .select(col(idCol), size(split(folded, " ")).cast("long").as("_bpe_n"))
      .groupBy(col(idCol))
      .agg(sum(col("_bpe_n")).as("n_tokens"))
  }

  /** The ORDERED subword token sequence per document — what a sequence
    * packer or training-shard writer actually consumes ([[segmentCounts]]
    * only sizes it). No shuffle beyond [[Parallel.fan]]'s size-gated
    * round-robin micro-shuffle, and no explode/regroup round-trip:
    * the whole segmentation is one array-lambda projection
    * (`transform` over the split word array, merges folded as literal
    * `replace`s inside the lambda, `flatten` back) so document order is
    * preserved BY CONSTRUCTION rather than re-established by a sort,
    * and the operator runs unchanged on streaming frames (stateless
    * projection — the ingest-time tokenisation shape). Emits every
    * input document: a whitespace-only text yields an empty `tokens`
    * array with `n_tokens` 0, not a dropped row. */
  def segmentTokens(docs: DataFrame, merges: Seq[(String, String)],
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    keepCols: Seq[String] = Nil): DataFrame = {
    def foldWord(w: Column): Column =
      merges.foldLeft(charUnits(w)) {
        case (c, (pair, merged)) => replace(c, lit(pair), lit(merged))
      }
    // keepCols ride the same projection — a downstream packer needs e.g.
    // `source` alongside the tokens, and re-joining it back onto this
    // output would cost a corpus-sized doc_id shuffle the pass-through
    // makes unnecessary. Fanned (r16): the per-word merge fold is
    // nMerges string replaces per word — compute-bound map work.
    Parallel.fan(docs).select(col(idCol) +: keepCols.map(col) :+
      coalesce(flatten(transform(
          filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0),
          w => split(foldWord(w), " "))),
        array().cast("array<string>")).as("tokens"): _*) // null text -> [], not null
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
  }
}
