package graft.ops

import graft.io.Sources
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted BM25 retrieval statistics: document frequencies and corpus
  * length stats written once from a reference corpus, then any keyword
  * query scores ANY frame — batch or stream — as a pure projection.
  * The IR twin of [[LmIndex]] (frozen reference stats, stateless online
  * scoring) and the retrieval member of the build-once artifact family
  * (listed with each member's metadata file in [[ArtifactMeta]]).
  *
  * Layout: `dir/df/…parquet` (term, df) range-partitioned and sorted by
  * term — sorted runs give parquet min/max row-group pruning for the
  * query-term point lookups — plus `dir/meta.json` carrying the exact
  * corpus totals (nDocs, sumDl) and the vocabulary row count.
  *
  * The scale trick: a QUERY touches only its own terms, so [[score]]
  * reads just those df rows (predicate pushdown into the sorted
  * artifact — a k-bounded driver-side lookup, the centroid/codebook
  * metadata pattern) and bakes the idfs and avgdl in as LITERALS. The
  * scored frame then never joins anything: per-row tf via regexp_count
  * (codegen), fixed-order exact-decimal term sum — a stateless
  * projection that runs unchanged on streaming frames (ingest-time
  * relevance tagging), with zero shuffle at any corpus size.
  *
  * Document frequencies are additive across DISJOINT document sets, as
  * are nDocs/sumDl — so [[merge]] is an exact incremental refresh
  * (spec-pinned equal to a fresh build on the concatenated corpus):
  * only the new documents are tokenised. */
object BmIndex {

  private final case class Meta(nDocs: Long, sumDl: Long, nTerms: Long)

  /** Count corpus stats on `docs` and persist under `dir`. */
  def build(docs: DataFrame, dir: String, numFiles: Int = 4,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    writeStats(docs.sparkSession, dfOf(docs), lenStatsOf(docs), dir, numFiles)
    ArtifactProvenance.stampArtifact(docs.sparkSession, dir, "bm-index",
      "build", provenance)
  }

  /** Fold `newDocs` (disjoint doc set) into the artifact at `dir`,
    * writing the combined stats to `outDir` — exact: df, nDocs and
    * sumDl are all additive over disjoint corpora. */
  def merge(spark: SparkSession, dir: String, newDocs: DataFrame,
            outDir: String, numFiles: Int = 4,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    ArtifactPaths.requireDistinct(spark, dir, outDir)
    val old = meta(spark, dir)
    val combined = Sources.parquet(spark, s"$dir/df")
      .unionByName(dfOf(newDocs))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val newStats = lenStatsOf(newDocs)
    writeStats(spark, combined,
      (old._1 + newStats._1, old._2 + newStats._2), dir = outDir, numFiles)
    ArtifactProvenance.stampArtifact(spark, outDir, "bm-index", "merge",
      provenance)
  }

  /** The artifact's recorded `(nDocs, sumDl, nTerms)`. */
  def meta(spark: SparkSession, dir: String): (Long, Long, Long) = {
    val m = ArtifactMeta.readAs[Meta](spark, dir, "meta.json")
    (m.nDocs, m.sumDl, m.nTerms)
  }

  /** Score `docs` for `queryTerms` against the FROZEN corpus statistics
    * — a pure projection (stream-admissible, stateless): per-row tf via
    * codegen regexp_count over the canonical text form, idf/avgdl baked
    * in as literals from a query-sized artifact lookup, per-term scores
    * 9 dp-rounded and summed as exact decimals in fixed term order
    * (order-independent — decimal addition is exact), final 6 dp.
    * Scoring the stats corpus itself reproduces [[TextOps.bm25Rank]]'s
    * scores bit for bit (spec-pinned); the point of the split is
    * scoring NEW data — batch or stream — against a frozen reference.
    * Terms absent from the artifact score with df = 0 (maximal idf —
    * the standard convention for out-of-corpus query terms). */
  def score(spark: SparkSession, dir: String, docs: DataFrame,
            queryTerms: Seq[String], k1: Double = 1.2,
            b: Double = 0.75,
            freshAgainst: Option[DataFrame] = None): DataFrame = {
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    val terms = TextOps.bm25Terms(queryTerms)
    val (nDocs, sumDl, _) = meta(spark, dir)
    require(nDocs > 0, s"$dir records an empty corpus")
    // query-sized artifact lookup: sorted-by-term parquet prunes to the
    // touched row groups; the collect is k-bounded metadata
    val dfByTerm = Sources.parquet(spark, s"$dir/df")
      .filter(col("term").isin(terms.map(lit): _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val avgdl = sumDl.toDouble / nDocs
    val norm = TextOps.normText(col("text"))
    val dl = TextOps.tokenCount(norm).cast(DoubleType)
    def termScore(t: String): Column = TextOps.bm25TermScore(TextOps.bm25Tf(norm, t),
      TextOps.bm25Idf(lit(nDocs), lit(dfByTerm.getOrElse(t, 0L))), dl, lit(avgdl), k1, b)
    docs.withColumn("score",
      round(terms.map(termScore).reduce(_ + _).cast(DoubleType), 6))
  }

  private def dfOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(array_distinct(split(TextOps.normText(col("text")), " ")))
          .as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Exact `(nDocs, sumDl)` — one aggregation over the corpus. */
  private def lenStatsOf(docs: DataFrame): (Long, Long) = {
    val r = docs
      .agg(count(lit(1)).as("n"),
        coalesce(sum(TextOps.tokenCount(TextOps.normText(col("text")))), lit(0L))
          .as("s"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def writeStats(spark: SparkSession, df: DataFrame,
                         lens: (Long, Long), dir: String,
                         numFiles: Int): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    df.repartitionByRange(numFiles, col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(s"$dir/df")
    val nTerms = Sources.parquet(spark, s"$dir/df").count()
    ArtifactMeta.write(spark, dir, "meta.json", Meta(lens._1, lens._2, nTerms))
  }
}
