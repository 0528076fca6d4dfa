package graft.ops

import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BPE tokenizer artifact — the subword twin of [[LmIndex]]
  * in the build-once family: learn the merge table from a corpus once,
  * then segment any number of batches or streams against the frozen
  * merges without retraining.
  *
  * Layout: `dir/vocab/…parquet` (word, cnt — the UNPRUNED word-type
  * vocabulary; counts are additive, so [[merge]] folds a new corpus in
  * EXACTLY), `dir/merges/…parquet` (step, pair, merged, cnt — in
  * training order), `dir/meta.json` (nMerges, vocabulary row count).
  * Sennrich BPE only ever consumes the word-type vocabulary, which is
  * what makes the incremental contract exact rather than approximate:
  * retraining from the summed vocabulary IS training on the
  * concatenated corpus, and only the NEW documents are ever tokenised
  * — the 100 TB ingest shape shared by the whole artifact family.
  *
  * The merge table is tokenizer-vocabulary-sized (k rows for k
  * merges), so [[loadMerges]]' driver-side collect is k-bounded
  * metadata, the same budget class as IVF centroids or PQ codebooks.
  */
object BpeIndex {

  final case class Meta(nMerges: Int, nWordTypes: Long)

  /** Learn `nMerges` merges from `docs` and persist the artifact under
    * `dir`. */
  def build(docs: DataFrame, dir: String, nMerges: Int,
            textCol: String = "text", numFiles: Int = 2,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    val vocab = Bpe.wordVocab(docs, textCol)
    writeArtifact(docs.sparkSession, vocab, dir, nMerges, numFiles)
    ArtifactProvenance.stampArtifact(docs.sparkSession, dir, "bpe-index",
      "build", provenance)
  }

  /** Fold `newDocs` into the artifact at `dir`, writing the combined
    * artifact to `outDir` — an EXACT incremental retrain (spec-pinned
    * equal to building on the concatenated corpus): only the new
    * documents are tokenised, the old corpus contributes its persisted
    * vocabulary counts, and the merge table is re-learned from the
    * summed vocabulary (merge WINNERS may legitimately change — that
    * is the correct answer on the combined corpus, not drift). */
  def merge(spark: SparkSession, dir: String, newDocs: DataFrame,
            outDir: String, textCol: String = "text",
            numFiles: Int = 2,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    ArtifactPaths.requireDistinct(spark, dir, outDir)
    val m = readMeta(spark, dir)
    val combined = Sources.parquet(spark, s"$dir/vocab")
      .unionByName(Bpe.wordVocab(newDocs, textCol))
      .groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))
    writeArtifact(spark, combined, outDir, m.nMerges, numFiles)
    ArtifactProvenance.stampArtifact(spark, outDir, "bpe-index", "merge",
      provenance)
  }

  /** Continue training from the stored vocabulary and merge state:
    * `extraMerges` more merges, numbered after the existing ones,
    * written to `outDir`. Spec-pinned: extend(n, k) == build(n + k). */
  def extend(spark: SparkSession, dir: String, outDir: String,
             extraMerges: Int, numFiles: Int = 2): Unit = {
    ArtifactPaths.requireDistinct(spark, dir, outDir)
    val m = readMeta(spark, dir)
    val vocab = Sources.parquet(spark, s"$dir/vocab")
    val prior = loadMerges(spark, dir)
    val more = Bpe.trainMergesFromVocab(vocab, extraMerges, prior)
    val all = Sources.parquet(spark, s"$dir/merges").unionByName(more)
    writeParts(vocab, all, outDir, numFiles)
    ArtifactMeta.write(spark, outDir, "meta.json",
      Meta(m.nMerges + extraMerges, vocab.count()))
  }

  /** The ordered merge list — k-bounded artifact metadata for
    * [[Bpe.segmentCounts]] and stream twins. */
  def loadMerges(spark: SparkSession, dir: String): Seq[(String, String)] =
    Sources.parquet(spark, s"$dir/merges")
      .orderBy(col("step"))
      .select(col("pair"), col("merged"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Segment `docs` against the frozen artifact: per-doc subword token
    * counts, batch or stream (stateless projection + aggregation). */
  def segmentCounts(spark: SparkSession, dir: String, docs: DataFrame,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    freshAgainst: Option[DataFrame] = None): DataFrame = {
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    Bpe.segmentCounts(docs, loadMerges(spark, dir), idCol, textCol)
  }

  /** Ordered token sequences against the frozen artifact — the
    * zero-shuffle [[Bpe.segmentTokens]] projection with merges loaded
    * once at plan time; batch or stream. */
  def segmentTokens(spark: SparkSession, dir: String, docs: DataFrame,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    freshAgainst: Option[DataFrame] = None): DataFrame = {
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    Bpe.segmentTokens(docs, loadMerges(spark, dir), idCol, textCol)
  }

  /** The artifact's `meta.json`, read on the driver (no Spark job). */
  def readMeta(spark: SparkSession, dir: String): Meta =
    ArtifactMeta.readAs[Meta](spark, dir, "meta.json")

  private def writeArtifact(spark: SparkSession, vocab: DataFrame,
                            dir: String, nMerges: Int, numFiles: Int): Unit = {
    val cached = Caching.ensureCachedLazy(vocab)
    val merges = Bpe.trainMergesFromVocab(cached, nMerges)
    writeParts(cached, merges, dir, numFiles)
    ArtifactMeta.write(spark, dir, "meta.json", Meta(nMerges, cached.count()))
  }

  private def writeParts(vocab: DataFrame, merges: DataFrame, dir: String,
                         numFiles: Int): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    vocab
      .repartitionByRange(numFiles, col("word"))
      .sortWithinPartitions(col("word"))
      .write.mode("overwrite").parquet(s"$dir/vocab")
    merges.coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
  }
}
