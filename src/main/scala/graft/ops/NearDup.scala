package graft.ops

import graft.io.Sources
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 64-bit hash strategy for the hash-based dedup operators. [[HashMode.Default]]
  * is the production path (codegen'd xxhash64). [[HashMode.Portable]] derives a
  * 60-bit non-negative value from md5 so a DuckDB oracle can reproduce every
  * signature bit-for-bit (`CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`);
  * staying below 2^63 sidesteps signed-vs-unsigned ordering differences, which
  * matters because MinHash takes `min()` over these values. `name` is the
  * mode's spelling in artifact metadata ([[HashMode.named]] reads it back). */
sealed abstract class HashMode(val bits: Int, val name: String) {
  /** Hash of `cols`. CAVEAT for [[HashMode.Portable]]: multi-column input
    * is ':'-joined as strings, so free-form tuples like ("a:b","c") and
    * ("a","b:c") collide — every internal call site feeds fixed-count
    * digit strings (no ':' possible) and the DuckDB oracles replicate
    * that exact composition. For free-form string tuples use
    * [[hashTuple]]. */
  def hash(cols: Column*): Column

  /** Non-negative variant of [[hash]] for PRIORITY ARITHMETIC (weighted
    * sampling divides the uniform by the weight: with a SIGNED uniform
    * the min-k set is drawn from the negative hashes, where a larger
    * weight makes the quotient LESS negative — the weight tilt inverts).
    * Portable-family hashes are already non-negative (60-bit) and pass
    * through unchanged, preserving the oracle contract; [[Default]]
    * drops xxhash64's sign bit with an unsigned shift — still uniform,
    * one fewer bit. */
  def nonNegHash(cols: Column*): Column = hash(cols: _*)

  /** Injective multi-column hash for FREE-FORM string tuples: components
    * are length-prefixed before joining, so no separator collision is
    * possible. [[HashMode.Default]]'s xxhash64 is structurally typed and
    * already injective per column boundary — it passes through. */
  def hashTuple(cols: Column*): Column = hash(cols: _*)

  /** Per-row precursor columns for the seeded minhash family — computed once
    * per shingle in a projection BEFORE the signature aggregation, so the K
    * seeded values never re-hash the shingle K times. */
  def minhashPrep(shingle: Column): Seq[(String, Column)]

  /** Seed-i minhash aggregate input, referencing the prep columns. */
  def seededHash(i: Int): Column

  /** Array-lambda twin of [[minhashPrep]]/[[seededHash]] for PER-ROW
    * signature computation (no explode, no aggregation — the streaming
    * path): `minhashPrepElem` maps one shingle-array element to its hash
    * precursor (materialise the mapped array through a Generate barrier so
    * the precursor is computed once per shingle, not once per seed), and
    * `seededHashElem(i, p)` is the seed-i value over that precursor.
    * Bit-identical to the exploded family — `StreamNearDupSpec` pins the
    * banded frames equal. */
  def minhashPrepElem(s: Column): Column
  def seededHashElem(i: Int, p: Column): Column
}
object HashMode {
  /** The mode spelled `name` in artifact metadata. */
  def named(name: String): HashMode = Seq(Default, Portable, PortableComposable)
    .find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown hash mode '$name' (default, portable or portable_composable)"))

  case object Default extends HashMode(64, "default") {
    def hash(cols: Column*): Column = xxhash64(cols: _*)
    override def nonNegHash(cols: Column*): Column =
      shiftrightunsigned(xxhash64(cols: _*), 1)
    def minhashPrep(shingle: Column): Seq[(String, Column)] = Nil
    def seededHash(i: Int): Column = xxhash64(lit(i), col("shingle"))
    def minhashPrepElem(s: Column): Column = s
    def seededHashElem(i: Int, p: Column): Column = xxhash64(lit(i), p)
  }
  /** Shared md5-family behavior: the length-prefixed tuple encoding and
    * the Kirsch-Mitzenmacher double-hashed seed family (seed-i value =
    * h1 + i·h2; h1 = 60 digest bits, h2 = a further 52 bits of the SAME
    * digest — one md5 per shingle instead of K, and 2^60 + 31·2^52 fits
    * signed 64-bit exactly in both engines). [[Portable]] computes the
    * digest pair in one codegen'd expression; [[PortableComposable]] is
    * the extension-free spelling of the same bits. */
  sealed abstract class Md5PortableLike(name: String) extends HashMode(60, name) {
    // null components encode as "-|" — distinct from the empty string's
    // "0|" and never dropped the way concat_ws skips nulls, so ("a", null)
    // and (null, "a") cannot collide either
    override def hashTuple(cols: Column*): Column =
      hash(concat_ws(":", cols.map { c =>
        val s = c.cast(StringType)
        concat(coalesce(length(s).cast(StringType), lit("-")), lit("|"),
          coalesce(s, lit("")))
      }: _*))
    def seededHash(i: Int): Column = col("_mh_h1") + lit(i.toLong) * col("_mh_h2")
    def seededHashElem(i: Int, p: Column): Column =
      element_at(p, 1) + lit(i.toLong) * element_at(p, 2)
  }

  /** REQUIRES [[graft.functions.GraftExtensions]] on the session (every
    * graft entry point installs it): the digest pair resolves through
    * `call_function("graft_md5hh", …)`, so on a stock SparkSession any
    * Portable-mode call fails at analysis with UNRESOLVED_ROUTINE. Use
    * [[PortableComposable]] there — bit-identical results, built only
    * from stock functions, at the hex-encode/substring/parse cost per
    * hashed value that the codegen expression exists to skip. */
  case object Portable extends Md5PortableLike("portable") {
    // h1 of the codegen'd digest pair — bit-identical to
    // conv(substr(md5(x), 1, 15), 16, 10), which is what the DuckDB
    // oracles compute (HashModePortableParitySpec pins it); skips the
    // hex-encode/substring/parse cost on every simhash token, winnow
    // shingle, band value, and sampled row
    def hash(cols: Column*): Column =
      element_at(
        call_function("graft_md5hh", concat_ws(":", cols: _*).cast(BinaryType)), 1)
    def minhashPrep(shingle: Column): Seq[(String, Column)] = Seq(
      "_mh_hh" -> call_function("graft_md5hh", shingle.cast(BinaryType)),
      "_mh_h1" -> element_at(col("_mh_hh"), 1),
      "_mh_h2" -> element_at(col("_mh_hh"), 2))
    def minhashPrepElem(s: Column): Column =
      call_function("graft_md5hh", s.cast(BinaryType))
  }

  /** [[Portable]] without the extension requirement: the identical 60-bit
    * family spelled with stock `md5`/`substring`/`conv` (hex char i is
    * digest nibble i−1, so these are the same bits `graft_md5hh` packs —
    * `HashModePortableParitySpec` pins equality). For stock sessions and
    * for composing into engines where only SQL functions exist; prefer
    * [[Portable]] whenever GraftExtensions is installed. */
  case object PortableComposable extends Md5PortableLike("portable_composable") {
    private def h1Of(digestHex: Column): Column =
      conv(substring(digestHex, 1, 15), 16, 10).cast(LongType)
    private def h2Of(digestHex: Column): Column =
      conv(substring(digestHex, 17, 13), 16, 10).cast(LongType)
    def hash(cols: Column*): Column =
      h1Of(md5(concat_ws(":", cols: _*).cast(BinaryType)))
    def minhashPrep(shingle: Column): Seq[(String, Column)] = Seq(
      "_mh_dg" -> md5(shingle.cast(BinaryType)),
      "_mh_h1" -> h1Of(col("_mh_dg")),
      "_mh_h2" -> h2Of(col("_mh_dg")))
    // the digest-pair array from stock functions; md5 evaluates twice per
    // element (no CSE inside lambdas) — the documented cost of the
    // extension-free spelling, prefer Portable with GraftExtensions
    def minhashPrepElem(s: Column): Column =
      array(h1Of(md5(s.cast(BinaryType))), h2Of(md5(s.cast(BinaryType))))
  }
}

/** Near-duplicate detection: n-gram Jaccard (exact, blocked), MinHash+LSH,
  * and SimHash. All candidate generation is *blocked* — by shared shingle,
  * LSH band bucket, or simhash band — never an unblocked cross join, so the
  * pair space stays near-linear in corpus size at 100 TB (SURVEY §4/§5).
  */
object NearDup {

  /** Distinct overlapping word k-shingles over a *materialised* token
    * array column. The caller must pass an attribute (not an expression):
    * referencing an expression here would inline it into every
    * `element_at` of the lambda — Catalyst duplicates, not CSEs, subtrees
    * inside higher-order functions, turning tokenisation O(n²). */
  def shinglesOf(toks: Column, k: Int = 3, distinct: Boolean = true,
                 wholeDocFallback: Boolean = true): Column = {
    val positional = transform(sequence(lit(0), size(toks) - k),
      i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*))
    val short: Column =
      if (wholeDocFallback) array(concat_ws(" ", toks))
      else array().cast("array<string>")
    when(size(toks) >= k, if (distinct) array_distinct(positional) else positional)
      .otherwise(short)
  }

  /** (doc_id, nsh, shingle) exploded view of the shingle sets.
    * The token array is materialised through a Generate barrier
    * (`explode(array(...))`) so CollapseProject cannot inline the
    * tokenisation into the shingle lambda (see [[shinglesOf]]) — any
    * caller producing shingle rows must go through here rather than
    * re-deriving the barrier. */
  def explodedShingles(docs: DataFrame, k: Int = 3, distinct: Boolean = true,
                       wholeDocFallback: Boolean = true,
                       fanOut: Boolean = true): DataFrame =
    // fanOut (r16): shingling + per-shingle hashing is compute-bound map
    // work and small corpora arrive as one unsplittable scan task (see
    // Parallel.fan) — fanning measured q_dedup_minhash 21% faster.
    // Consumers whose downstream cost is the aggregation rather than
    // the shingle stream (boilerplateRatio's cached distinct-gram frame:
    // 38% SLOWER fanned) opt out.
    (if (fanOut) Parallel.fan(docs) else docs)
      .select(col("doc_id"),
        explode(array(split(TextOps.normText(col("text")), " "))).as("toks"))
      .select(col("doc_id"),
        explode(array(shinglesOf(col("toks"), k, distinct, wholeDocFallback))).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("nsh"), explode(col("sh")).as("shingle"))

  /** Exact n-gram Jaccard near-dup pairs.
    *
    * Candidates are blocked two ways: pairs must share at least one shingle
    * (the join key) and pass the size filter `min(|A|,|B|) ≥ τ·max(|A|,|B|)`
    * — a necessary condition for J(A,B) ≥ τ that prunes skewed matches
    * before the aggregation. The common-shingle count then gives the exact
    * Jaccard in one groupBy. */
  def ngramPairs(docs: DataFrame, threshold: Double = 0.7, k: Int = 3): DataFrame = {
    val e = explodedShingles(docs, k)
    val a = e.select(col("doc_id").as("doc_a"), col("nsh").as("na"), col("shingle"))
    val b = e.select(col("doc_id").as("doc_b"), col("nsh").as("nb"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b") &&
              least(col("na"), col("nb")) >= lit(threshold) * greatest(col("na"), col("nb")))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        round(col("common").cast(DoubleType) /
              (col("na") + col("nb") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs: `C(A→B) = |A∩B| / |A|` over
    * distinct k-shingles — the signal symmetric Jaccard structurally
    * misses: a short document quoted wholesale inside a long one has
    * containment ≈ 1 while its Jaccard is tiny (ngramPairs' size filter
    * even prunes the pair before scoring). Emits each unordered pair
    * once with BOTH directions; `containment` is their max.
    *
    * Scale shape: containment admits NO size blocking (small-inside-huge
    * is the target), so hot shingles would drive the shared-shingle join
    * quadratic. Instead the shingle UNIVERSE is df-capped: shingles in
    * more than `maxShingleDf` documents are boilerplate, carry no
    * discriminative signal, and are excluded from BOTH the numerator and
    * the denominators (the winnowing-style standard) — the score is
    * exact over the filtered universe and self-consistent, per-shingle
    * pair work is ≤ maxShingleDf², and the df cap is the explicit knob.
    * Documents whose every shingle is boilerplate drop out (their
    * filtered universe is empty — containment over nothing is undefined,
    * not 1.0). */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8, k: Int = 3,
                       maxShingleDf: Long = 10000): DataFrame = {
    require(maxShingleDf >= 2, "maxShingleDf < 2 cannot form any pair")
    val e = explodedShingles(docs, k)
    val keep = e.groupBy(col("shingle"))
      .agg(count(lit(1)).as("_sdf"))
      .filter(col("_sdf") <= maxShingleDf)
      .select(col("shingle"))
    val kd = e.select(col("doc_id"), col("shingle")).join(keep, Seq("shingle"))
    val kn = kd.groupBy(col("doc_id")).agg(count(lit(1)).as("nk"))
    val a = kd.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = kd.select(col("doc_id").as("doc_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(kn.select(col("doc_id").as("doc_a"), col("nk").as("nka")), Seq("doc_a"))
      .join(kn.select(col("doc_id").as("doc_b"), col("nk").as("nkb")), Seq("doc_b"))
      .withColumn("cont_a", round(col("common").cast(DoubleType) / col("nka"), 6))
      .withColumn("cont_b", round(col("common").cast(DoubleType) / col("nkb"), 6))
      .withColumn("containment", greatest(col("cont_a"), col("cont_b")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cont_a"), col("cont_b"),
        col("containment"))
  }

  val MinHashK = 32
  val MinHashBands = 8 // 8 bands × 4 rows: P(candidate) ≈ 1-(1-j⁴)⁸ —
  // ≈0.89 recall at j=0.7 while random low-j pairs (common with a small
  // shared vocabulary) collide at ~8j⁴, keeping the verify join tiny.

  /** Per-doc MinHash signature.
    *
    * [[HashMode.Portable]] runs ZERO-exchange: a document's shingles are
    * row-local before any explode, so the whole signature is one
    * `graft_minhash60` call in the scan's projection (one md5 + all K
    * minima per shingle in a codegen'd loop) — no Generate fan-out, no
    * doc_id-keyed shuffle. Other modes keep the exploded spelling: one
    * groupBy over exploded shingles with K `min(hash(i, shingle))`
    * aggregates (map-side combined — the exchange carries one row per
    * doc per partition). Outputs are bit-identical per mode
    * (`StreamNearDupSpec` pins the native expression against the lambda
    * family; the dedup oracles pin this frame end-to-end). */
  def minhashSignatures(docs: DataFrame, k: Int = 3,
                        mode: HashMode = HashMode.Default): DataFrame = mode match {
    case HashMode.Portable =>
      docs
        .select(col("doc_id"),
          explode(array(split(TextOps.normText(col("text")), " "))).as("_mhs_toks"))
        .select(col("doc_id"),
          explode(array(shinglesOf(col("_mhs_toks"), k))).as("_mhs_sh"))
        .withColumn("_mhs_sigs", call_function("graft_minhash60", col("_mhs_sh")))
        .select(Seq(col("doc_id"), size(col("_mhs_sh")).cast("long").as("nsh"))
          ++ (0 until MinHashK).map(i =>
            element_at(col("_mhs_sigs"), i + 1).as(s"mh$i")): _*)
    case _ =>
      val e = mode.minhashPrep(col("shingle"))
        .foldLeft(explodedShingles(docs, k)) { case (df, (n, c)) => df.withColumn(n, c) }
      val sigs = (0 until MinHashK).map(i => min(mode.seededHash(i)).as(s"mh$i"))
      e.groupBy(col("doc_id"))
        .agg(first(col("nsh")).as("nsh"), sigs: _*)
  }

  /** MinHash+LSH near-dup pairs with exact Jaccard verification:
    * shingle → signature → band-bucket join (candidates, size-ratio
    * blocked) → exact verify. Only same-bucket pairs are ever
    * materialised. */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.7, k: Int = 3,
                   mode: HashMode = HashMode.Default): DataFrame = {
    val sig = minhashSignatures(docs, k, mode)
    val rows = MinHashK / MinHashBands
    val bandCols = (0 until MinHashBands).map { bnd =>
      mode.hash((bnd * rows until (bnd + 1) * rows).map(i => col(s"mh$i")): _*)
    }
    val banded = sig.select(col("doc_id"), col("nsh"),
        posexplode(array(bandCols: _*)).as(Seq("band", "band_hash")))
    val cand = banded.alias("x")
      .join(banded.alias("y"), Seq("band", "band_hash"))
      .filter(col("x.doc_id") < col("y.doc_id") &&
        least(col("x.nsh"), col("y.nsh")) >=
          lit(threshold) * greatest(col("x.nsh"), col("y.nsh")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // exact verification on the candidate set only
    val e = explodedShingles(docs, k)
    val ea = e.select(col("doc_id").as("doc_a"), col("nsh").as("na"), col("shingle"))
    val eb = e.select(col("doc_id").as("doc_b"), col("nsh").as("nb"), col("shingle"))
    cand.join(ea, Seq("doc_a")).join(eb, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        round(col("common").cast(DoubleType) /
              (col("na") + col("nb") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Connected components over near-dup pairs via min-label propagation
    * with pointer jumping: every document converges to the smallest doc_id
    * reachable through the pair graph — the cluster id used to pick
    * canonical documents. Each iteration takes the min over neighbours'
    * labels AND then follows its own label's label (pointer jump), which
    * halves the remaining distance to the component minimum — rounds
    * needed = O(log diameter), so maxIter = 20 covers diameters up to
    * ~2^20 (a >20-long chain of near-dups no longer silently returns
    * unconverged labels). Iteration stops at fixpoint via a driver-side
    * changed-count (a scalar per round, not data); hitting maxIter without
    * converging logs a warning instead of passing off partial labels. */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // per-round materialisation via Caching.materialize (reliable-or-
    // local checkpoint, lineage truncated — see its scaladoc for the
    // cleanCheckpoints note); superseded rounds are released explicitly
    // so block storage stays bounded at ~2 frames however many rounds run
    def materialise(df: DataFrame): DataFrame = Caching.materialize(df)
    // materialise the edge list once: every round joins against it, and the
    // upstream pair pipeline (LSH + verify) must not be re-run per round
    val edges = materialise(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))
    var prevRound: DataFrame = null
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst").withColumnRenamed("cluster", "n_cluster"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("n_cluster")).as("neighbor_cluster"))
      // checkpointed because it feeds both the jump lookup and the final
      // merge — without it the neighbour aggregation would run twice
      val stepped = materialise(
        labels.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("cluster").as("old_cluster"),
            least(col("cluster"), coalesce(col("neighbor_cluster"), col("cluster"))).as("c1")))
      // pointer jump: c2 = label(label(doc)); cluster ids are doc ids, so
      // the lookup is a self-join keyed by the candidate label
      val jump = stepped.select(col("doc_id").as("c1"), col("c1").as("c2"))
      // checkpointing materialises the round AND truncates the lineage,
      // so plans don't grow by two joins per iteration (persist() would
      // re-grow the logical plan each round); LOCAL blocks are released
      // by the context cleaner once the frame is unreferenced, reliable
      // files per the cleanCheckpoints note on materialise() above
      val updated = materialise(
        stepped.join(jump, Seq("c1"), "left")
          .select(col("doc_id"),
            least(col("c1"), coalesce(col("c2"), col("c1"))).as("cluster"),
            (least(col("c1"), coalesce(col("c2"), col("c1"))) < col("old_cluster")).as("chg")))
      changed = updated.filter(col("chg")).count()
      // `updated` now holds the round's data: the superseded round and
      // the intra-round `stepped` frame are safe to release
      Caching.releaseMaterialized(stepped)
      if (prevRound ne null) Caching.releaseMaterialized(prevRound)
      prevRound = updated
      labels = updated.drop("chg")
      iter += 1
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"duplicateClusters did not converge in $maxIter rounds; labels may span split clusters")
    labels
  }

  /** Canonical selection: every document mapped to its cluster's minimum
    * doc_id; documents with no near-dup pair are their own canonical. */
  def canonicalDocs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = duplicateClusters(pairs)
    docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("is_canonical", col("doc_id") === col("cluster"))
  }

  /** [[canonicalDocs]] with a QUALITY-ARGMAX canonical instead of the
    * min-id label: within each duplicate cluster the document with the
    * highest `scoreCol` survives (ties to the lower id) — "keep the best
    * copy", the policy real pipelines want once a quality signal exists
    * (longest text, highest [[TextOps.textQuality]] score, freshest
    * crawl). Min-id selection is the degenerate case score = constant.
    *
    * Scale shape: the argmax runs ONLY over pair-touched documents (the
    * `clusters` frame from [[duplicateClusters]] contains nothing else),
    * as one bounded `max_by` partial aggregation per cluster — no window,
    * no corpus-wide sort, and the corpus-sized frame joins the (duplicate
    * clusters)-sized best frame once. Singletons never enter the argmax
    * and are canonical by definition. Use a deterministic integer score
    * where cross-engine agreement matters; ties are impossible in the
    * comparator (it ends on the unique id). */
  def canonicalDocsBest(docs: DataFrame, pairs: DataFrame,
                        scoreCol: String): DataFrame = {
    val clusters = duplicateClusters(pairs)
    val best = docs.join(clusters, Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(max_by(col("doc_id"),
        struct(col(scoreCol), (-col("doc_id")).as("_nid"))).as("_best_id"))
    docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .join(best, Seq("cluster"), "left")
      .withColumn("canonical_id", coalesce(col("_best_id"), col("doc_id")))
      .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
      .drop("_best_id")
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken-style):
    * hash every k-shingle, slide a window of `w` hashes, keep each
    * window's minimum — a deterministic ~1/w sample of the shingle hashes
    * that any sufficiently long match must share. Pure projections behind
    * Generate barriers, exploded to (doc_id, fingerprint) rows; matching
    * fingerprints are join keys for plagiarism-style overlap detection. */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, window: Int = 4,
                         mode: HashMode = HashMode.Default): DataFrame = {
    val withSh = docs
      .select(col("doc_id"),
        explode(array(split(TextOps.normText(col("text")), " "))).as("toks"))
      .select(col("doc_id"),
        explode(array(shinglesOf(col("toks"), k, distinct = false))).as("sh"))
    val hashes = transform(col("sh"), s => mode.hash(s))
    val withH = withSh.select(col("doc_id"), explode(array(hashes)).as("h"))
    val mins = when(size(col("h")) >= window,
        transform(sequence(lit(0), size(col("h")) - window),
          i => array_min(slice(col("h"), i + 1, lit(window)))))
      .otherwise(array(array_min(col("h"))))
    withH
      .select(col("doc_id"), explode(array_distinct(mins)).as("fingerprint"))
  }

  /** Overlapping-fingerprint pairs from winnowed fingerprints: documents
    * sharing ≥ minCommon winnowed hashes. The fingerprint IS the blocking
    * key, so only genuinely overlapping pairs are ever grouped. */
  def winnowPairs(docs: DataFrame, k: Int = 3, window: Int = 4, minCommon: Int = 3,
                  mode: HashMode = HashMode.Default): DataFrame = {
    val fp = winnowFingerprints(docs, k, window, mode)
    val a = fp.select(col("doc_id").as("doc_a"), col("fingerprint"))
    val b = fp.select(col("doc_id").as("doc_b"), col("fingerprint"))
    a.join(b, Seq("fingerprint"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common_fingerprints"))
      .filter(col("common_fingerprints") >= minCommon)
  }

  /** Term-frequency SimHash per document (bit width = `mode.bits`): explode
    * tokens, hash each, and accumulate a ±1 vote per bit in one aggregation
    * (one conditional sum per bit), then fold the sign vector back into a
    * single long. */
  def simhash(docs: DataFrame, mode: HashMode = HashMode.Default): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(TextOps.normText(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", mode.hash(col("tok")))
    val bitVotes = (0 until mode.bits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$j"))
    val voted = toks.groupBy(col("doc_id")).agg(bitVotes.head, bitVotes.tail: _*)
    val sh = (0 until mode.bits).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ bitwiseOR _)
    voted.select(col("doc_id"), sh.as("simhash"))
  }

  /** SimHash near-dup pairs at Hamming distance ≤ maxHamming. Candidate
    * blocking: split the hash into `maxHamming + 1` bands — by
    * pigeonhole a pair with ≤ maxHamming differing bits must agree
    * exactly on ≥ 1 band, so the (band index, band value) join finds
    * every qualifying pair without a cross join and with zero recall
    * loss. More bands ⇒ shorter bands ⇒ more random collisions, which
    * the Hamming filter then discards: the usual precision/recall trade
    * is shifted entirely onto filter work, never onto recall.
    *
    * maxHamming is REQUIRED (no default): the r2→r3 default change 8 → 3
    * silently shrank existing callers' pair sets, so the radius is now an
    * explicit call-site decision. maxHamming = 3 is the cheapest pick —
    * wide bands: 4 bands × 16 bits ⇒ 65k distinct values per band, bucket
    * sizes ~n/262k, within-bucket join far from quadratic. Wider radii
    * switch to band-PAIR blocking automatically ([[hammingIndex]]'s
    * [[MinSingleBandBits]] cutover) — still recall-lossless, paying
    * C(maxHamming+2, 2) index rows per doc for ~2x the key bits. */
  def simhashPairs(docs: DataFrame, maxHamming: Int,
                   mode: HashMode = HashMode.Default): DataFrame =
    hammingPairs(simhash(docs, mode), maxHamming,
      hashCol = "simhash", bits = mode.bits)

  /** Hamming-radius self-join over an ARBITRARY 64-or-fewer-bit hash
    * column — the banding/verify engine behind [[simhashPairs]],
    * exposed so any fingerprint in the same space can reuse it:
    * [[MediaTransform.dhash]] (perceptual image near-dup),
    * [[MediaTransform.audioDhash]] (audio energy contours), or an
    * externally computed signature. Same pigeonhole blocking
    * (`maxHamming + 1` bands, exact agreement on ≥ 1 band is implied
    * by ≤ maxHamming differing bits — zero recall loss), same exact
    * `bit_count(xor)` verify. Null hashes are dropped (no fingerprint
    * to compare). Wide radii (single bands under [[MinSingleBandBits]])
    * block on band PAIRS automatically — see [[hammingIndex]] — so
    * radius 8 on a corpus-sized frame keeps ~13-bit buckets instead of
    * going quadratic on 7-bit ones. */
  def hammingPairs(hashes: DataFrame, maxHamming: Int,
                   hashCol: String = "simhash", idCol: String = "doc_id",
                   bits: Int = 64): DataFrame = {
    val banded = hammingIndex(hashes, maxHamming, hashCol, idCol, bits)
    banded.alias("x").join(banded.alias("y"), Seq("band", "band_val"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x._hp_hash ^ y._hp_hash)").cast(LongType).as("hamming"))
      // verify BEFORE distinct: hamming is a pure function of the pair,
      // so the results are identical — but the dedup then tracks only
      // real matches instead of every band-collision candidate
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Below this single-band width the banding switches to BAND PAIRS:
    * at radius 8 over 64 bits, single bands are ~7 bits (≤128 distinct
    * values), so on a corpus-sized frame every bucket is ~n/128 of the
    * corpus and the verify join goes quadratic — the one latent
    * scale-killer the r10 perf audit named. 12 bits (~4k values) is
    * where single-band buckets stay comfortably sub-quadratic. */
  val MinSingleBandBits = 12

  /** Band layout shared by single- and pair-mode: start offsets and
    * widths for `numBands` contiguous bands over `bits`. */
  private def bandLayout(bits: Int, numBands: Int): (IndexedSeq[Int], IndexedSeq[Int]) = {
    val base = bits / numBands
    val extra = bits % numBands // first `extra` bands get one more bit
    val widths = (0 until numBands).map(b => base + (if (b < extra) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _).take(numBands)
    (starts.toIndexedSeq, widths)
  }

  private def bandValue(starts: IndexedSeq[Int], widths: IndexedSeq[Int])(b: Int) = {
    val mask = if (widths(b) >= 63) -1L else (1L << widths(b)) - 1L
    shiftrightunsigned(col("_hp_hash"), starts(b)).bitwiseAND(lit(mask))
  }

  /** Banded Hamming index rows `(doc_id, _hp_hash, band, band_val)` —
    * the left side of [[hammingPairs]]'s self-join, exposed so a
    * corpus can be banded ONCE (persist this frame) and arrivals probed
    * against it without re-hashing or re-banding the corpus
    * ([[hammingProbe]]) — the [[MinhashIndex]] build-once/probe-many
    * shape for 64-bit fingerprints. The band layout is a function of
    * (bits, maxHamming): probe with the SAME values the index was
    * built with, or bands will not line up.
    *
    * WIDE RADII get a SECOND BLOCKING KEY automatically: when the
    * single-band width `bits / (maxHamming+1)` drops under
    * [[MinSingleBandBits]], the index bands over PAIRS of
    * `maxHamming + 2` narrower bands instead. Pigeonhole still holds
    * exactly: ≤ maxHamming differing bits touch ≤ maxHamming of the
    * `maxHamming + 2` bands, so at least TWO bands agree — hence at
    * least one PAIR of bands agrees, and joining on
    * `(pair, val_i ‖ val_j)` loses zero recall. The pair key carries
    * ~2x the bits of a single band (radius 8 over 64 bits: ~13-bit
    * keys = ~8k distinct values vs 128), collapsing the within-bucket
    * quadratic by ~64x, for C(maxHamming+2, 2) rows per doc instead of
    * maxHamming + 1 (45 vs 9 at radius 8 — a 5x bigger index exchange
    * buying a ~64x smaller verify join; at corpus scale the join IS
    * the cost). Falls back to single-band when `bits < maxHamming + 2`
    * (pairs would need more bands than bits). */
  /** The band-layout tag for (bits, maxHamming) — stamped into the
    * index's `band` column metadata and VALIDATED by [[hammingProbe]]:
    * two layouts joined on (band, band_val) don't error, they silently
    * return near-zero matches, so a persisted index built under one
    * layout must refuse a probe built under another. */
  private[ops] def layoutTag(bits: Int, maxHamming: Int): String = {
    val pairMode =
      bits / (maxHamming + 1) < MinSingleBandBits && bits >= maxHamming + 2
    if (pairMode) s"pair-${maxHamming + 2}-$bits"
    else s"single-${maxHamming + 1}-$bits"
  }

  private val LayoutKey = "graft.hamming.layout"

  def hammingIndex(hashes: DataFrame, maxHamming: Int,
                   hashCol: String = "simhash", idCol: String = "doc_id",
                   bits: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, ${bits - 1}]")
    val sh = hashes.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(hashCol).as("_hp_hash"))
    val pairMode =
      bits / (maxHamming + 1) < MinSingleBandBits && bits >= maxHamming + 2
    // the layout tag travels IN THE SCHEMA (column metadata survives a
    // parquet round trip at zero per-row cost) so build-once/probe-many
    // callers cannot silently join two different layouts
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(LayoutKey, layoutTag(bits, maxHamming)).build()
    if (!pairMode) {
      val numBands = maxHamming + 1
      val (starts, widths) = bandLayout(bits, numBands)
      val bands = (0 until numBands).map(bandValue(starts, widths))
      sh.select(col("doc_id"), col("_hp_hash"),
        posexplode(array(bands: _*)).as(Seq("band", "band_val")))
        .withColumn("band", col("band").as("band", meta))
    } else {
      val numBands = maxHamming + 2
      val (starts, widths) = bandLayout(bits, numBands)
      val v = bandValue(starts, widths) _
      // pair key: val_i in the high 32 bits, val_j in the low — pair
      // widths are < MinSingleBandBits each by construction, so both
      // fit with room to spare
      val pairs = for (i <- 0 until numBands; j <- i + 1 until numBands)
        yield shiftleft(v(i), 32).bitwiseOR(v(j))
      sh.select(col("doc_id"), col("_hp_hash"),
        posexplode(array(pairs: _*)).as(Seq("band", "band_val")))
        .withColumn("band", col("band").as("band", meta))
    }
  }

  /** The layout tag carried by a banded index frame, when present. */
  private def indexLayout(index: DataFrame): Option[String] =
    Option(index.schema("band").metadata)
      .filter(_.contains(LayoutKey)).map(_.getString(LayoutKey))

  /** Grow a banded Hamming index with NEW fingerprints — the
    * build-once/probe-many artifact's incremental entry point
    * ([[MinhashIndex.merge]] / `IvfIndex.append` parity): band only the
    * arrivals and union them onto the existing index, never re-banding
    * the corpus. The index must carry the layout tag for
    * `(bits, maxHamming)` — appending across layouts would produce an
    * index that silently loses recall on every probe, so the mismatch
    * (or a pre-r11 untagged index) is refused loudly, exactly like
    * [[hammingProbe]]. Equal to a fresh [[hammingIndex]] build over the
    * concatenated fingerprint frames. */
  def hammingAppend(index: DataFrame, arrivals: DataFrame, maxHamming: Int,
                    hashCol: String = "simhash", idCol: String = "doc_id",
                    bits: Int = 64): DataFrame = {
    val expected = layoutTag(bits, maxHamming)
    val tag = indexLayout(index)
    require(tag.contains(expected),
      s"hamming index layout mismatch: index carries " +
        s"${tag.getOrElse("no layout tag (pre-r11 index — rebuild it)")}, " +
        s"append expects $expected — mixing layouts silently loses recall")
    // left side is the existing index: unionByName keeps ITS schema
    // (and with it the layout tag in the band column metadata)
    index.unionByName(
      hammingIndex(arrivals, maxHamming, hashCol, idCol, bits))
  }

  /** Merge two banded Hamming indexes (e.g. per-shard builds) into one.
    * Both sides must carry the SAME layout tag — the layouts are a
    * function of (bits, maxHamming) the callers chose at build time, and
    * two different choices cannot share a (band, band_val) key space.
    * Equal to a fresh build over the concatenated corpora. */
  def hammingMerge(a: DataFrame, b: DataFrame): DataFrame = {
    val (ta, tb) = (indexLayout(a), indexLayout(b))
    require(ta.nonEmpty && ta == tb,
      s"hamming index layout mismatch: " +
        s"${ta.getOrElse("no layout tag")} vs ${tb.getOrElse("no layout tag")} — " +
        "only indexes built under the same (bits, maxHamming) layout can merge")
    a.unionByName(b)
  }

  /** Persist a banded Hamming index ([[hammingIndex]] /
    * [[hammingAppend]] / [[hammingMerge]] output) under `dir/data`,
    * range-laid-out on the probe join key. The layout tag rides in the
    * `band` column metadata (parquet round-trips field metadata), so a
    * [[hammingLoad]]ed index still refuses mismatched probes. `operation`
    * names what produced the frame (build/append/merge) in the optional
    * provenance stamp. */
  def hammingSave(index: DataFrame, dir: String, numFiles: Int = 8,
                  provenance: Option[ArtifactProvenance.Target] = None,
                  operation: String = "build"): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    index
      .repartitionByRange(numFiles, col("band"), col("band_val"))
      .sortWithinPartitions(col("band"), col("band_val"))
      .write.mode("overwrite").parquet(s"$dir/data")
    ArtifactProvenance.stampArtifact(index.sparkSession, dir, "hamming-index",
      operation, provenance)
  }

  /** Load a [[hammingSave]]d index for probing/appending; `freshAgainst`
    * (opt-in) requires the stamped corpus snapshot to match the given
    * frame — the stale-index guard. */
  def hammingLoad(spark: SparkSession, dir: String,
                  freshAgainst: Option[DataFrame] = None): DataFrame = {
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    Sources.parquet(spark, s"$dir/data")
  }

  /** Probe arrivals against a banded Hamming index ([[hammingIndex]],
    * same (bits, maxHamming)): `(arrival_id, corpus_id, hamming)` for
    * every arrival within `maxHamming` of an indexed fingerprint —
    * recall-lossless by the same pigeonhole argument. Runs on a stream
    * as-is (banding is a projection, the index join is stream-static;
    * the multi-band dedup plans as a streaming dropDuplicates whose
    * state is keyed by emitted pairs — bounded by matches, not by the
    * corpus), so ingest-time perceptual dedup proceeds while the corpus
    * is banded exactly once. */
  def hammingProbe(index: DataFrame, arrivals: DataFrame, maxHamming: Int,
                   hashCol: String = "simhash", idCol: String = "doc_id",
                   bits: Int = 64): DataFrame = {
    // layout guard: a mismatched (bits, maxHamming) — or an index
    // persisted under an older banding scheme — joins WITHOUT ERROR and
    // silently loses recall; refuse loudly instead. Indexes predating
    // the tag carry no metadata and are refused too (rebuild them).
    val expected = layoutTag(bits, maxHamming)
    val indexTag = Option(index.schema("band").metadata)
      .filter(_.contains(LayoutKey)).map(_.getString(LayoutKey))
    require(indexTag.contains(expected),
      s"hamming index layout mismatch: index carries " +
        s"${indexTag.getOrElse("no layout tag (pre-r11 index — rebuild it)")}, " +
        s"probe expects $expected — probing across layouts silently loses recall")
    val probes = hammingIndex(arrivals, maxHamming, hashCol, idCol, bits)
      .withColumnRenamed("doc_id", "arrival_id")
      .withColumnRenamed("_hp_hash", "_hp_probe")
    probes.join(index, Seq("band", "band_val"))
      .select(col("arrival_id"), col("doc_id").as("corpus_id"),
        expr("bit_count(_hp_probe ^ _hp_hash)").cast(LongType).as("hamming"))
      // verify BEFORE distinct, so the streaming dedup state really is
      // keyed by emitted matches (band-collision candidates that fail
      // the radius never reach the dropDuplicates)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
