package graft.ops

import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Persisted reference-LM artifact: [[TextOps.bigramLm]] statistics written
  * once from a curated reference corpus, then fed to
  * [[TextOps.lmScoreWith]] any number of times without retraining — the
  * CCNet production shape (their Wikipedia-trained KenLM is a build-once
  * artifact, not a per-run aggregation), and the LM twin of
  * [[IvfIndex]]'s build-once/search-many layout.
  *
  * Layout: `dir/counts/…parquet` (w1, w2, n — UNPRUNED, so [[merge]] can
  * fold new corpora in exactly), range-partitioned and sorted by
  * (w1, w2) — sorted runs of w1 compress well and give parquet min/max
  * row-group pruning for point lookups — plus `dir/meta.json` carrying
  * `minCount` and the pruned stats row count. The count is the scale
  * lever: [[load]] reads it to decide AT PLAN TIME whether the scoring
  * join gets a broadcast hint (vocabulary-sized stats → map-side join, no
  * shuffle of the corpus bigram stream — the difference between shuffling
  * the corpus and shuffling nothing at 100 TB) or stays a shuffle join
  * (unpruned web-scale vocabularies), with no runtime count job either
  * way.
  *
  * Because [[score]] is a stream-static join for streaming inputs, the
  * artifact is exactly what `lmScoreWith`'s streaming contract wants: a
  * static reference the ingest pipeline probes micro-batch by micro-batch.
  *
  * FORMAT VERSIONS. Every version is a set of per-order LAYERS, each an
  * unpruned additive count frame `dir/counts` (order 2) or `dir/countsK`
  * (w1..wK, n — same range-partitioned sorted layout) plus its
  * `minCount`/pruned-count pair in `meta.json`. v1 (`meta.json` without
  * a `version` field): the bigram layer only — every pre-r14 artifact.
  * v2 ([[buildWithTrigrams]]): adds the order-3 layer
  * (`minCount3`/`nTrigrams`), serving stupid-backoff scoring
  * ([[score3]]: trigram hit, else α-discounted bigram, else unk). v3
  * ([[buildWithOrders]], r15): adds orders 4 and 5
  * (`minCount4`/`n4grams`/`minCount5`/`n5grams`), serving the
  * PRODUCTION backoff order ([[score5]] — KenLM's default and the
  * CCNet-lineage filtering order is 5). One path serves every version:
  * the builds and [[merge]] count all of an artifact's orders in one
  * tokenisation ([[TextOps.countLayers]]) and write each layer through
  * one writer; [[load]]/[[load3]]/[[load4]]/[[load5]] are one layer
  * loader ([[TextOps.ngramStatsFromCounts]] over the layer); the
  * scorers, cut recorders and bucketers are the order-generic core of
  * [[TextOps]] ([[TextOps.lmScoreOf]], [[TextOps.quartileCuts]],
  * [[TextOps.bucketBy]]) at the artifact's orders. Readers are
  * version-tolerant downward: v1/v2 artifacts keep loading/scoring/
  * merging exactly as before (higher-order entry points fail loudly on
  * them), [[merge]] preserves whichever layout its input has, and every
  * reader REJECTS artifacts stamped with a version above what this
  * reader knows (a future v4 must fail loudly, not load silently under
  * v3 semantics).
  */
object LmIndex {

  /** Highest artifact format version this reader understands. */
  val MaxVersion = 3L

  /** Train on `docs` and persist under `dir`. The artifact stores the
    * UNPRUNED count frame — counts are additive, so [[merge]] can fold
    * new data in exactly; the pruned conditional probabilities [[load]]
    * serves are derived from them with
    * [[TextOps.ngramStatsFromCounts]] (a vocabulary-sized aggregation
    * per plan — the price of exact mergeability). `numFiles` bounds the
    * artifact's file count (vocabulary-sized data — a handful of sorted
    * files beats one file per shuffle partition). */
  def build(docs: DataFrame, dir: String, minCount: Long = 5,
            numFiles: Int = 4,
            provenance: Option[ArtifactProvenance.Target] = None): Unit =
    buildLayers(docs, dir, Seq(2 -> minCount), numFiles, provenance)

  /** [[build]] plus the v2 trigram layer, from ONE corpus tokenisation:
    * at 100 TB the corpus scan dominates an artifact build; paying it
    * once for both orders is the point of building them together. */
  def buildWithTrigrams(docs: DataFrame, dir: String, minCount: Long = 5,
                        minCount3: Long = 3, numFiles: Int = 4,
                        provenance: Option[ArtifactProvenance.Target] = None): Unit =
    buildLayers(docs, dir, Seq(2 -> minCount, 3 -> minCount3), numFiles,
      provenance)

  /** [[buildWithTrigrams]] extended to the v3 ORDER-5 layout: all four
    * backoff layers (2, 3, 4, 5) from ONE corpus tokenisation, each
    * persisted unpruned so [[merge]] stays an exact incremental retrain
    * at every order. */
  def buildWithOrders(docs: DataFrame, dir: String, minCount: Long = 5,
                      minCount3: Long = 3, minCount4: Long = 2,
                      minCount5: Long = 2, numFiles: Int = 4,
                      provenance: Option[ArtifactProvenance.Target] = None): Unit =
    buildLayers(docs, dir, Seq(2 -> minCount, 3 -> minCount3,
      4 -> minCount4, 5 -> minCount5), numFiles, provenance)

  /** Every build: each order's layer counted in one tokenisation and
    * written, then the metadata recorded from the written layers. */
  private def buildLayers(docs: DataFrame, dir: String,
                          minCounts: Seq[(Int, Long)], numFiles: Int,
                          provenance: Option[ArtifactProvenance.Target]): Unit = {
    val spark = docs.sparkSession
    TextOps.countLayers(docs, minCounts.map(_._1)).foreach { case (k, counts) =>
      writeLayer(counts, dir, k, numFiles)
    }
    putMeta(spark, dir, metaFromDisk(spark, dir, minCounts))
    ArtifactProvenance.stampArtifact(spark, dir, "lm-index", "build",
      provenance)
  }

  /** One persisted LM PER LANGUAGE — CCNet's deployment shape: the
    * corpus arrives with a language prediction (the trained-ID
    * projection), each predicted-language slice trains ITS OWN
    * reference model, and scoring dispatches every document to its
    * language's model. Layout: `dir/lang=<code>/` is a full [[build]]
    * artifact per language (individually loadable, mergeable,
    * recalibratable), plus `dir/langs.json` recording the language set.
    * Language codes must be path-safe tokens (`[A-Za-z0-9_-]+`) —
    * anything else is refused loudly rather than written into a
    * directory name; null-language rows train nothing. The one
    * top-level provenance stamp covers the whole family (the sub-builds
    * share a corpus). */
  def buildPerLang(docs: DataFrame, dir: String,
                   langCol: String = "predicted_lang", minCount: Long = 5,
                   numFiles: Int = 4,
                   provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    val spark = docs.sparkSession
    // ONE corpus tokenisation for every language's counts (the
    // buildWithOrders discipline — at 100 TB the corpus scan dominates;
    // a per-language filtered build would pay it once per language).
    // The keyed count frame is (lang, gram)-vocabulary-sized — cache it
    // so the per-language writes split a materialised frame.
    val counts = langCounts(docs, langCol)
    Caching.ensureCached(counts)
    val langs = counts.select(col(langCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    require(langs.nonEmpty, "no non-null language labels to train on")
    langs.foreach(l => writeLang(spark, dir, l,
      counts.filter(col(langCol) === l).drop(langCol), minCount, numFiles))
    ArtifactMeta.write(spark, dir, "langs.json", Langs(langs.toList, minCount))
    ArtifactProvenance.stampArtifact(spark, dir, "lm-index-perlang", "build",
      provenance)
  }

  /** Fold `newDocs` (language-labelled like [[buildPerLang]]'s input)
    * into the per-language family at `dir`, writing the combined family
    * to `outDir` — the [[merge]] contract per language, from ONE keyed
    * tokenisation of the new documents: existing languages union their
    * persisted counts with the new slice's (exact — counts are
    * additive), languages NEW to the family get a fresh layer under the
    * family's pinned minCount, and languages absent from the new corpus
    * carry over unchanged. Spec-pinned equal to [[buildPerLang]] on the
    * concatenated corpus. */
  def mergePerLang(spark: SparkSession, dir: String, newDocs: DataFrame,
                   outDir: String, langCol: String = "predicted_lang",
                   numFiles: Int = 4,
                   provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    ArtifactPaths.requireDistinct(spark, dir, outDir)
    val Langs(stored, minCount) = langsMeta(spark, dir)
    val fresh = langCounts(newDocs, langCol)
    Caching.ensureCached(fresh)
    val newLangs = fresh.select(col(langCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    val all = (stored ++ newLangs).distinct.sorted
    all.foreach { l =>
      val freshSlice = fresh.filter(col(langCol) === l).drop(langCol)
      val storedPath = countsPath(s"$dir/lang=$l", 2)
      val combined =
        if (!stored.contains(l)) freshSlice
        else if (!newLangs.contains(l)) Sources.parquet(spark, storedPath)
        else mergedLayer(spark, storedPath, freshSlice, 2)
      writeLang(spark, outDir, l, combined, minCount, numFiles)
    }
    ArtifactMeta.write(spark, outDir, "langs.json", Langs(all.toList, minCount))
    ArtifactProvenance.stampArtifact(spark, outDir, "lm-index-perlang",
      "merge", provenance)
  }

  /** Bigram counts keyed by language, `(langCol, w1, w2, n)`, from one
    * tokenisation; null-language rows train nothing. */
  private def langCounts(docs: DataFrame, langCol: String): DataFrame =
    TextOps.ngramCounts(docs.filter(col(langCol).isNotNull), Seq(2),
      Seq(col(langCol)))

  /** Write language `l`'s bigram layer and its metadata under
    * `dir/lang=<l>`, refusing a code that is not a path-safe token. */
  private def writeLang(spark: SparkSession, dir: String, l: String,
                        counts: DataFrame, minCount: Long,
                        numFiles: Int): Unit = {
    require(l.matches("[A-Za-z0-9_-]+"),
      s"language '$l' is not a path-safe token — refusing to write it " +
        "into an artifact directory name")
    val sub = s"$dir/lang=$l"
    writeLayer(counts, sub, 2, numFiles)
    putMeta(spark, sub, metaFromDisk(spark, sub, Seq(2 -> minCount)))
  }

  /** The language set a [[buildPerLang]] artifact carries. */
  def langs(spark: SparkSession, dir: String): Seq[String] =
    langsMeta(spark, dir).langs

  /** The family metadata `langs.json`: the languages, and the pinned
    * minCount every layer was — and every merged-in layer will be —
    * pruned under. */
  private[ops] final case class Langs(langs: List[String], minCount: Long)

  private[ops] def langsMeta(spark: SparkSession, dir: String): Langs =
    ArtifactMeta.readAs[Langs](spark, dir, "langs.json")

  /** Language-dispatched scoring against the persisted per-language
    * family: the per-language stats frames (each derived under ITS OWN
    * recorded prune) are tagged with their language and unioned into
    * one lang-keyed model — vocabulary-sized per language, broadcast
    * when the recorded pruned counts sum small — and the corpus joins
    * it ONCE on `(lang, w1, w2)` ([[TextOps.lmScoreByKeyWith]]). One
    * corpus pass + one join + one aggregation for ANY number of
    * languages (never a per-model corpus scan — and, unlike a union of
    * per-model scorings, still a single streaming aggregation, so a
    * streaming `docs` frame dispatches per micro-batch). Documents
    * whose `langCol` names no stored model (or is null) score all-unk
    * (`avg_logp == unkLogP`) — visible, never dropped. Output
    * `(doc_id, langCol, n_bigrams, avg_logp)`. */
  def scoreByLang(spark: SparkSession, dir: String, docs: DataFrame,
                  langCol: String = "predicted_lang",
                  unkLogP: Double = -10.0,
                  broadcastMaxRows: Long = 4L << 20,
                  freshAgainst: Option[DataFrame] = None): DataFrame = {
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    val metas = langs(spark, dir).map(l => l -> metaOf(spark, s"$dir/lang=$l"))
    val stats = metas.map { case (l, m) =>
      // Exact variant: per-language continuation totals land on .5e-6
      // probability boundaries routinely (see statsFromCountsExact)
      TextOps.statsFromCountsExact(
          Sources.parquet(spark, countsPath(s"$dir/lang=$l", 2)), m.minCount)
        .select(lit(l).as(langCol), col("w1"), col("w2"), col("p_cond"))
    }.reduce(_.unionByName(_))
    // broadcast decision from the RECORDED pruned counts (zero jobs),
    // summed across languages — the union is what the join ships
    val total = metas.map(_._2.nBigrams).sum
    val hinted = if (total <= broadcastMaxRows) broadcast(stats) else stats
    TextOps.lmScoreByKeyWith(docs, hinted, langCol, unkLogP)
  }

  /** Fold `newDocs` into the artifact at `dir`, writing the combined
    * model to `outDir` — an EXACT incremental retrain (spec-pinned equal
    * to building on the concatenated corpus): only the new documents are
    * tokenised (ONE pass for every layer the artifact carries); the old
    * corpus contributes its persisted vocabulary-sized counts.
    *
    * Recorded cut points (`cuts`/`cuts3`/`cuts5`) are INTENTIONALLY
    * DISCARDED — the merged model's score distribution is not the input
    * model's, so carried-over quartiles would misbucket silently;
    * [[bucket]]/[[bucket3]]/[[bucket5]] fail loudly until the matching
    * `recordCuts*` recalibrates on `outDir`. */
  def merge(spark: SparkSession, dir: String, newDocs: DataFrame,
            outDir: String, numFiles: Int = 4,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    // an in-place merge (outDir == dir) would overwrite-delete the input
    // counts before the lazy union plan reads them, losing the artifact
    ArtifactPaths.requireDistinct(spark, dir, outDir)
    val m = metaOf(spark, dir)
    val minCounts = m.orders.map(k => k -> m.layer(k).get._1)
    TextOps.countLayers(newDocs, m.orders).foreach { case (k, fresh) =>
      writeLayer(mergedLayer(spark, countsPath(dir, k), fresh, k), outDir, k,
        numFiles)
    }
    putMeta(spark, outDir, metaFromDisk(spark, outDir, minCounts))
    ArtifactProvenance.stampArtifact(spark, outDir, "lm-index", "merge",
      provenance)
  }

  /** The persisted order-`k` counts at `path` plus `fresh` counts. */
  private def mergedLayer(spark: SparkSession, path: String, fresh: DataFrame,
                          k: Int): DataFrame =
    Sources.parquet(spark, path).unionByName(fresh)
      .groupBy((1 to k).map(i => col(s"w$i")): _*).agg(sum(col("n")).as("n"))

  /** The model stats frame `(w1, w2, n, p_cond)` derived from the
    * persisted counts, broadcast-hinted when the recorded pruned row
    * count is at most `broadcastMaxRows` (decided from metadata — zero
    * jobs). */
  def load(spark: SparkSession, dir: String,
           broadcastMaxRows: Long = 4L << 20): DataFrame =
    loadLayer(spark, dir, metaOf(spark, dir), 2, broadcastMaxRows)

  /** The trigram stats frame `(w1, w2, w3, n, p_cond)` from a v2
    * artifact, broadcast-hinted from the recorded pruned count exactly
    * like [[load]]. Loud on v1 artifacts — a silently-empty trigram
    * layer would back every document off to the bigram floor. */
  def load3(spark: SparkSession, dir: String,
            broadcastMaxRows: Long = 4L << 20): DataFrame =
    loadLayer(spark, dir, metaOf(spark, dir), 3, broadcastMaxRows)

  /** The order-4 stats frame `(w1..w4, n, p_cond)` from a v3 artifact —
    * [[load3]]'s contract one order up; loud below v3. */
  def load4(spark: SparkSession, dir: String,
            broadcastMaxRows: Long = 4L << 20): DataFrame =
    loadLayer(spark, dir, metaOf(spark, dir), 4, broadcastMaxRows)

  /** The order-5 stats frame `(w1..w5, n, p_cond)` from a v3 artifact;
    * loud below v3. */
  def load5(spark: SparkSession, dir: String,
            broadcastMaxRows: Long = 4L << 20): DataFrame =
    loadLayer(spark, dir, metaOf(spark, dir), 5, broadcastMaxRows)

  /** The order-`k` layer's stats frame under its recorded prune,
    * broadcast-hinted when its recorded pruned count is at most
    * `broadcastMaxRows` (each layer decides on its own: a web-scale
    * 5-gram layer falls back to a shuffle join while the bigram layer
    * still broadcasts). Loud when the artifact lacks the layer. */
  private def loadLayer(spark: SparkSession, dir: String, m: Meta, k: Int,
                        broadcastMaxRows: Long): DataFrame = {
    val (minCount, pruned) = m.layer(k).getOrElse(throw new IllegalArgumentException(
      if (k == 3) s"$dir has no trigram layer (v1 artifact) — rebuild with " +
        "buildWithTrigrams to enable backoff scoring"
      else s"$dir has no order-$k layer (pre-v3 artifact) — rebuild with " +
        "buildWithOrders to enable order-5 backoff scoring"))
    val df = TextOps.ngramStatsFromCounts(
      Sources.parquet(spark, countsPath(dir, k)), k, minCount)
    if (pruned.getOrElse(Long.MaxValue) <= broadcastMaxRows) broadcast(df) else df
  }

  /** Order-`k` stupid-backoff scoring against the persisted layers `k`
    * down to 2 ([[TextOps.lmScoreOf]]); stream-safe (stream-static joins
    * plus one stateful aggregation). */
  private def scoreAt(spark: SparkSession, dir: String, docs: DataFrame,
                      k: Int, alpha: Double, unkLogP: Double,
                      broadcastMaxRows: Long,
                      freshAgainst: Option[DataFrame]): DataFrame = {
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    val m = metaOf(spark, dir)
    TextOps.lmScoreOf(docs,
      (k to 2 by -1).map(loadLayer(spark, dir, m, _, broadcastMaxRows)),
      alpha, unkLogP)
  }

  /** Score documents against the persisted reference model —
    * [[TextOps.lmScoreWith]] over [[load]]; works unchanged on a
    * streaming `docs` frame (stream-static join + stateful aggregation,
    * see lmScoreWith's streaming contract). */
  def score(spark: SparkSession, dir: String, docs: DataFrame,
            unkLogP: Double = -10.0,
            broadcastMaxRows: Long = 4L << 20,
            freshAgainst: Option[DataFrame] = None): DataFrame =
    scoreAt(spark, dir, docs, 2, 1.0, unkLogP, broadcastMaxRows, freshAgainst)

  /** Stupid-backoff scoring against the persisted v2 model —
    * [[TextOps.lmScore3With]] over [[load3]]+[[load]]; stream-safe the
    * same way [[score]] is. */
  def score3(spark: SparkSession, dir: String, docs: DataFrame,
             alpha: Double = 0.4, unkLogP: Double = -10.0,
             broadcastMaxRows: Long = 4L << 20,
             freshAgainst: Option[DataFrame] = None): DataFrame =
    scoreAt(spark, dir, docs, 3, alpha, unkLogP, broadcastMaxRows, freshAgainst)

  /** Order-5 stupid-backoff scoring against the persisted v3 model —
    * [[TextOps.lmScore5With]] over all four layers, each broadcast-
    * decided at PLAN time from its own recorded pruned count;
    * stream-safe like [[score]]. */
  def score5(spark: SparkSession, dir: String, docs: DataFrame,
             alpha: Double = 0.4, unkLogP: Double = -10.0,
             broadcastMaxRows: Long = 4L << 20,
             freshAgainst: Option[DataFrame] = None): DataFrame =
    scoreAt(spark, dir, docs, 5, alpha, unkLogP, broadcastMaxRows, freshAgainst)

  /** The artifact's recorded `(minCount, nBigrams)`. */
  def meta(spark: SparkSession, dir: String): (Long, Long) = {
    val m = metaOf(spark, dir)
    (m.minCount, m.nBigrams)
  }

  /** The v2 layer's recorded `(minCount3, nTrigrams)`, `None` on v1. */
  def meta3(spark: SparkSession, dir: String): Option[(Long, Long)] =
    metaOf(spark, dir).layer(3).collect { case (mc, Some(n)) => (mc, n) }

  /** The v3 layers' recorded `(minCount4, n4grams, minCount5, n5grams)`,
    * `None` below v3. */
  def meta5(spark: SparkSession, dir: String): Option[(Long, Long, Long, Long)] = {
    val m = metaOf(spark, dir)
    for ((m4, Some(n4)) <- m.layer(4); (m5, Some(n5)) <- m.layer(5))
      yield (m4, n4, m5, n5)
  }

  private def countsPath(dir: String, k: Int): String =
    if (k == 2) s"$dir/counts" else s"$dir/counts$k"

  /** One order-`k` layer under the family layout discipline:
    * range-partitioned and sorted on the full gram key (sorted runs
    * compress well; parquet min/max prunes point lookups). */
  private def writeLayer(counts: DataFrame, dir: String, k: Int,
                         numFiles: Int): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    val keys = (1 to k).map(i => col(s"w$i"))
    counts
      .repartitionByRange(numFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite").parquet(countsPath(dir, k))
  }

  /** Pruned row counts read back from the just-written layers — the
    * broadcast decision is about the frames the scoring joins actually
    * see (one vocabulary-sized job per layer, at build time only). */
  private def metaFromDisk(spark: SparkSession, dir: String,
                           minCounts: Seq[(Int, Long)]): Meta = {
    val mc = minCounts.toMap
    val pruned = minCounts.map { case (k, m) => k -> TextOps.ngramStatsFromCounts(
      Sources.parquet(spark, countsPath(dir, k)), k, m).count() }.toMap
    Meta(mc(2), pruned(2), None, mc.get(3), pruned.get(3),
      minCount4 = mc.get(4), n4grams = pruned.get(4),
      minCount5 = mc.get(5), n5grams = pruned.get(5))
  }

  /** Score a calibration corpus under the artifact and RECORD its
    * quartile cut points into the metadata — after which [[bucket]] is a
    * stateless online operation. This is CCNet's actual deployment
    * shape: the percentile computation (a corpus-wide aggregation with
    * no streaming equivalent) runs once per calibration snapshot; every
    * later batch or stream compares against FIXED cuts
    * ([[TextOps.quartileCuts]]: quartiles for engine-exactness). */
  def recordCuts(spark: SparkSession, dir: String, calibration: DataFrame,
                 unkLogP: Double = -10.0): Unit =
    recordCutsAt(spark, dir, calibration, 2, 1.0, unkLogP)

  /** The recorded `(p25, p75)` cut points, if [[recordCuts]] ran. */
  def cuts(spark: SparkSession, dir: String): Option[(Double, Double)] =
    metaOf(spark, dir).cutsAt(2)

  /** [[recordCuts]] for the ORDER-3 score distribution, stored as a
    * separate `(p25_3, p75_3)` pair — backoff scores live on a different
    * scale than bigram scores (trigram hits score near ln 1, backed-off
    * terms carry the α discount), so sharing one cut pair would
    * misbucket both. Requires the v2 trigram layer; preserves every other
    * metadata field, including the bigram cuts. */
  def recordCuts3(spark: SparkSession, dir: String, calibration: DataFrame,
                  alpha: Double = 0.4, unkLogP: Double = -10.0): Unit =
    recordCutsAt(spark, dir, calibration, 3, alpha, unkLogP)

  /** The recorded order-3 cut points, if [[recordCuts3]] ran. */
  def cuts3(spark: SparkSession, dir: String): Option[(Double, Double)] =
    metaOf(spark, dir).cutsAt(3)

  /** [[recordCuts3]] at order 5, stored as its own `(p25_5, p75_5)` pair.
    * Requires the v3 layers; preserves every other metadata field. */
  def recordCuts5(spark: SparkSession, dir: String, calibration: DataFrame,
                  alpha: Double = 0.4, unkLogP: Double = -10.0): Unit =
    recordCutsAt(spark, dir, calibration, 5, alpha, unkLogP)

  /** The recorded order-5 cut points, if [[recordCuts5]] ran. */
  def cuts5(spark: SparkSession, dir: String): Option[(Double, Double)] =
    metaOf(spark, dir).cutsAt(5)

  private def recordCutsAt(spark: SparkSession, dir: String,
                           calibration: DataFrame, k: Int, alpha: Double,
                           unkLogP: Double): Unit = {
    val row = TextOps.quartileCuts(scoreAt(spark, dir, calibration, k, alpha,
      unkLogP, 4L << 20, None), k).collect()(0)
    require(!row.isNullAt(0), "calibration corpus produced no scorable document")
    putMeta(spark, dir,
      metaOf(spark, dir).withCuts(k, (row.getDouble(0), row.getDouble(1))))
  }

  /** Head/middle/tail bucketing against the artifact's RECORDED cuts —
    * [[TextOps.perplexityBuckets]]'s output contract without its corpus
    * percentile aggregation, so it is a pure post-scoring projection and
    * runs on streaming frames exactly like [[score]]. Bucketing a corpus
    * against ITS OWN snapshot (artifact trained and calibrated on it)
    * reproduces perplexityBuckets row for row; the point of the split is
    * bucketing NEW data against a frozen reference distribution. */
  def bucket(spark: SparkSession, dir: String, docs: DataFrame,
             unkLogP: Double = -10.0): DataFrame =
    bucketAt(spark, dir, docs, 2, 1.0, unkLogP)

  /** [[bucket]] under the ORDER-3 cuts ([[recordCuts3]]); documents with
    * fewer than 3 tokens bucket `unscored`. */
  def bucket3(spark: SparkSession, dir: String, docs: DataFrame,
              alpha: Double = 0.4, unkLogP: Double = -10.0): DataFrame =
    bucketAt(spark, dir, docs, 3, alpha, unkLogP)

  /** [[bucket]] under the ORDER-5 cuts ([[recordCuts5]]); documents with
    * fewer than 5 tokens bucket `unscored`. */
  def bucket5(spark: SparkSession, dir: String, docs: DataFrame,
              alpha: Double = 0.4, unkLogP: Double = -10.0): DataFrame =
    bucketAt(spark, dir, docs, 5, alpha, unkLogP)

  private def bucketAt(spark: SparkSession, dir: String, docs: DataFrame,
                       k: Int, alpha: Double, unkLogP: Double): DataFrame = {
    val (p25, p75) = metaOf(spark, dir).cutsAt(k).getOrElse(
      throw new IllegalStateException(s"$dir has no recorded " +
        (if (k == 2) "cuts — run recordCuts first"
        else s"order-$k cuts — run recordCuts$k first")))
    TextOps.bucketBy(scoreAt(spark, dir, docs, k, alpha, unkLogP, 4L << 20, None),
      k, lit(p25), lit(p75))
  }

  private[ops] final case class Meta(minCount: Long, nBigrams: Long,
                                     cuts: Option[(Double, Double)],
                                     minCount3: Option[Long] = None,
                                     nTrigrams: Option[Long] = None,
                                     cuts3: Option[(Double, Double)] = None,
                                     minCount4: Option[Long] = None,
                                     n4grams: Option[Long] = None,
                                     minCount5: Option[Long] = None,
                                     n5grams: Option[Long] = None,
                                     cuts5: Option[(Double, Double)] = None) {
    /** The order-`k` layer's `(minCount, pruned count)`, if present. */
    def layer(k: Int): Option[(Long, Option[Long])] = k match {
      case 2 => Some((minCount, Some(nBigrams)))
      case 3 => minCount3.map((_, nTrigrams))
      case 4 => minCount4.map((_, n4grams))
      case 5 => minCount5.map((_, n5grams))
      case _ => None
    }

    /** The orders whose layers the artifact carries. */
    def orders: Seq[Int] = (2 to 5).filter(layer(_).isDefined)

    def cutsAt(k: Int): Option[(Double, Double)] =
      k match { case 2 => cuts case 3 => cuts3 case 5 => cuts5 case _ => None }

    def withCuts(k: Int, c: (Double, Double)): Meta = k match {
      case 2 => copy(cuts = Some(c))
      case 3 => copy(cuts3 = Some(c))
      case 5 => copy(cuts5 = Some(c))
    }
  }

  private def putMeta(spark: SparkSession, dir: String, m: Meta): Unit = {
    def cutsOf(key: String, c: Option[(Double, Double)]) =
      c.toList.flatMap { case (p25, p75) => List(s"p25$key" -> p25, s"p75$key" -> p75) }
    // the version stamp travels with the highest layer present (absent
    // on v1 artifacts); each layer's minCount/pruned-count pair is
    // emitted IFF that layer exists — metaOf's "layer presence = key
    // presence" invariant, so a hypothetical order-5-without-order-3
    // meta can never write a phantom zero-valued layer
    val version: Long =
      if (m.minCount5.isDefined) 3L else if (m.minCount3.isDefined) 2L else 1L
    def layer(mcKey: String, mc: Option[Long], nKey: String, nv: Option[Long]) =
      mc.toList.flatMap(v => List(mcKey -> v, nKey -> nv.getOrElse(0L)))
    val fields = List("minCount" -> m.minCount, "nBigrams" -> m.nBigrams) ++
      cutsOf("", m.cuts) ++ cutsOf("_3", m.cuts3) ++ cutsOf("_5", m.cuts5) ++
      (if (version >= 2) List("version" -> version) else Nil) ++
      layer("minCount3", m.minCount3, "nTrigrams", m.nTrigrams) ++
      layer("minCount4", m.minCount4, "n4grams", m.n4grams) ++
      layer("minCount5", m.minCount5, "n5grams", m.n5grams)
    ArtifactMeta.write(spark, dir, "meta.json", ListMap(fields: _*))
  }

  private[ops] def metaOf(spark: SparkSession, dir: String): Meta = {
    val f = ArtifactMeta.read(spark, dir, "meta.json")
    // the explicit version stamp gates forward compatibility: a
    // future v4 artifact must fail HERE, loudly, instead of loading
    // silently under v3 semantics (layer presence alone cannot tell
    // — v4 would carry every v3 key too)
    val version = f.longOpt("version").getOrElse(1L)
    require(version <= MaxVersion,
      s"$dir is an LmIndex format v$version artifact; this reader " +
        s"understands up to v$MaxVersion — upgrade before loading")
    def cutsOf(key: String): Option[(Double, Double)] =
      for (a <- f.doubleOpt(s"p25$key"); b <- f.doubleOpt(s"p75$key")) yield (a, b)
    // layer presence = key presence (the writers emit a layer's keys
    // iff the layer exists), so a legitimate minCount of 0 still
    // reads back as a present layer
    Meta(f.long("minCount"), f.long("nBigrams"), cutsOf(""),
      f.longOpt("minCount3"), f.longOpt("nTrigrams"), cutsOf("_3"),
      f.longOpt("minCount4"), f.longOpt("n4grams"),
      f.longOpt("minCount5"), f.longOpt("n5grams"), cutsOf("_5"))
  }
}
