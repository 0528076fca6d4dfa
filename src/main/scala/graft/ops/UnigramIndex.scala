package graft.ops

import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted unigram-tokenizer artifact — [[BpeIndex]]'s discipline for
  * the [[Unigram]] family: fit the piece vocabulary once, persist it
  * with the word→segmentation cache, then segment any number of batches
  * or streams against the frozen model without retraining.
  *
  * Layout: `dir/vocab/…parquet` (word, cnt — the UNPRUNED word-type
  * vocabulary; counts are additive, so [[merge]] folds a new corpus in
  * EXACTLY: [[Unigram.trainFromVocab]] is a pure function of the summed
  * vocabulary, so retraining from it IS training on the concatenated
  * corpus), `dir/pieces/…parquet` (piece, freq, logp_micro),
  * `dir/wordsegs/…parquet` (word, _np, _sc — the final E-step's
  * Viterbi cache, SentencePiece's own word cache persisted),
  * `dir/meta.json` (vocabSize, maxPieceLen, emIters, nWordTypes).
  *
  * Scale shape: segmentation joins the persisted cache — broadcast
  * when the RECORDED word-type count is small (decided from metadata,
  * zero jobs), a shuffle join on web-scale vocabularies — and unseen
  * word types fall back in-expression to single-char pieces with the
  * persisted char weights; one corpus pass either way, stream-safe
  * like [[Unigram.segmentCounts]]. */
object UnigramIndex {

  final case class Meta(vocabSize: Int, maxPieceLen: Int, emIters: Int,
                        maxTypes: Int, nWordTypes: Long)

  /** Fit on `docs` and persist under `dir`. `maxTypes` caps the word
    * types the trainer COLLECTS at the most frequent ((cnt DESC, word
    * ASC) — [[Unigram.trainFromVocab]]'s lever, the standard
    * frequency-floor practice); 0 collects everything, which is only
    * safe when the word-type vocabulary fits the driver — a web-scale
    * build MUST cap. The cap is pinned in the metadata so [[merge]]'s
    * re-fit trains under the same budget. The UNPRUNED vocabulary is
    * persisted either way (the additive-merge substrate). */
  def build(docs: DataFrame, dir: String, vocabSize: Int = 48,
            maxPieceLen: Int = 4, emIters: Int = 2, maxTypes: Int = 0,
            textCol: String = "text", numFiles: Int = 2,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    val vocab = Bpe.wordVocab(docs, textCol)
    writeArtifact(docs.sparkSession, vocab, dir, vocabSize, maxPieceLen,
      emIters, maxTypes, numFiles)
    ArtifactProvenance.stampArtifact(docs.sparkSession, dir, "unigram-index",
      "build", provenance)
  }

  /** Fold `newDocs` into the artifact at `dir`, writing the combined
    * artifact to `outDir` — an EXACT incremental retrain (spec-pinned
    * equal to building on the concatenated corpus): only the new
    * documents are tokenised, the old corpus contributes its persisted
    * vocabulary counts, and the model is re-fit from the summed
    * vocabulary (pieces and weights may legitimately change — that is
    * the correct answer on the combined corpus, not drift). */
  def merge(spark: SparkSession, dir: String, newDocs: DataFrame,
            outDir: String, textCol: String = "text", numFiles: Int = 2,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    ArtifactPaths.requireDistinct(spark, dir, outDir)
    val m = readMeta(spark, dir)
    val combined = Sources.parquet(spark, s"$dir/vocab")
      .unionByName(Bpe.wordVocab(newDocs, textCol))
      .groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))
    writeArtifact(spark, combined, outDir, m.vocabSize, m.maxPieceLen,
      m.emIters, m.maxTypes, numFiles)
    ArtifactProvenance.stampArtifact(spark, outDir, "unigram-index", "merge",
      provenance)
  }

  /** The fitted vocabulary `(piece, freq, logp_micro)`. */
  def loadPieces(spark: SparkSession, dir: String): DataFrame =
    Sources.parquet(spark, s"$dir/pieces")

  /** Segment `docs` against the frozen artifact: per-doc piece counts +
    * total micro score through the persisted word cache
    * (broadcast-hinted when the recorded word-type count is at most
    * `broadcastMaxRows` — decided from metadata, zero jobs); unseen
    * words fall back to the persisted single-char weights. Batch or
    * stream ([[Unigram.segmentCounts]]'s contract). */
  def segmentCounts(spark: SparkSession, dir: String, docs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    unkMicro: Long = -20000000L,
                    broadcastMaxRows: Long = 4L << 20,
                    freshAgainst: Option[DataFrame] = None): DataFrame = {
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    val m = readMeta(spark, dir)
    val segDf0 = Sources.parquet(spark, s"$dir/wordsegs")
    val segDf = if (m.nWordTypes <= broadcastMaxRows) broadcast(segDf0)
                else segDf0
    // the char weights are alphabet-bounded metadata (a map literal in
    // the fallback expression) — collect is piece-alphabet-sized
    val charWts = loadPieces(spark, dir).filter(length(col("piece")) === 1)
      .select(col("piece"), col("logp_micro")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Unigram.segmentCountsWith(docs, segDf, charWts, idCol, textCol, unkMicro)
  }

  /** The artifact's `meta.json`, read on the driver (no Spark job). */
  def readMeta(spark: SparkSession, dir: String): Meta =
    ArtifactMeta.readAs[Meta](spark, dir, "meta.json")

  private def writeArtifact(spark: SparkSession, vocab: DataFrame,
                            dir: String, vocabSize: Int, maxPieceLen: Int,
                            emIters: Int, maxTypes: Int,
                            numFiles: Int): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    val cached = Caching.ensureCachedLazy(vocab)
    val model = Unigram.trainFromVocab(cached, vocabSize, maxPieceLen,
      emIters, maxTypes)
    cached
      .repartitionByRange(numFiles, col("word"))
      .sortWithinPartitions(col("word"))
      .write.mode("overwrite").parquet(s"$dir/vocab")
    import spark.implicits._
    model.pieces.toDF("piece", "freq", "logp_micro")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/pieces")
    model.wordSegs.toSeq.map { case (w, (np, sc)) => (w, np.toLong, sc) }
      .toDF("word", "_np", "_sc")
      .repartitionByRange(numFiles, col("word"))
      .sortWithinPartitions(col("word"))
      .write.mode("overwrite").parquet(s"$dir/wordsegs")
    ArtifactMeta.write(spark, dir, "meta.json", Meta(vocabSize, maxPieceLen,
      emIters, maxTypes, cached.count()))
  }
}
