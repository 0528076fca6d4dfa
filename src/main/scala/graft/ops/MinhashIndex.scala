package graft.ops

import graft.io.Sources
import graft.stream.StreamNearDup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap

/** Persisted MinHash-LSH dedup index: the corpus's banded signatures
  * written once, so every later batch (or stream) dedups AGAINST the
  * historical corpus without re-signaturing it — the incremental-ingest
  * production shape, and the text-dedup member of the build-once artifact
  * family ([[IvfIndex]], [[LmIndex]]).
  *
  * Why it exists: [[NearDup.minhashPairs]] self-joins a corpus it
  * re-signatures every run — right for a one-shot dedup, wasteful when
  * yesterday's 100 TB corpus is already deduped and only today's arrivals
  * need checking. Here the corpus pays tokenise+minhash ONCE at build;
  * a probe pays it only for the arriving documents (per-row, via
  * [[StreamNearDup.bandedSignatures]] — bit-identical to the batch
  * family, so index and probe land in the same buckets) and joins the
  * stored banded frame on `(band, band_hash)`. The artifact's value is
  * compute reuse, not IO pruning: the join shuffles new×corpus banded
  * rows either way, but the corpus-side signature computation — the
  * dominant cost at scale — is gone.
  *
  * Layout: `dir/data/…parquet` (doc_id, nsh, band, band_hash),
  * range-partitioned and sorted by (band, band_hash) for compression,
  * plus `dir/meta.json` pinning `(k, mode)` — probes read them from the
  * metadata, so an index/probe hash-mode mismatch cannot happen.
  *
  * Streaming: [[probe]] on a streaming frame is a stream-static join —
  * stateless ingest-time dedup against the historical corpus. Pair it
  * with [[StreamNearDup.candidates]] (which catches in-stream pairs the
  * static index cannot know about) for full coverage; like it, the
  * streaming candidate output may repeat across bands/batches — dedupe
  * downstream. Batch probes dedupe with `distinct()`.
  */
object MinhashIndex {

  /** Signature the corpus once and persist. `numFiles` bounds the
    * artifact's file count; `provenance` (opt-in) stamps who built it —
    * see [[ArtifactProvenance.Target]]. */
  def build(docs: DataFrame, dir: String, k: Int = 3,
            mode: HashMode = HashMode.Default, numFiles: Int = 32,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    val rows = NearDup.MinHashK / NearDup.MinHashBands
    val sig = NearDup.minhashSignatures(docs, k, mode)
    val bandCols = (0 until NearDup.MinHashBands).map { bnd =>
      mode.hash((bnd * rows until (bnd + 1) * rows).map(i => col(s"mh$i")): _*)
    }
    sig.select(col("doc_id"), col("nsh"),
        posexplode(array(bandCols: _*)).as(Seq("band", "band_hash")))
      .repartitionByRange(numFiles, col("band"), col("band_hash"))
      .sortWithinPartitions(col("band"), col("band_hash"))
      .write.mode("overwrite").parquet(s"$dir/data")
    ArtifactMeta.write(docs.sparkSession, dir, "meta.json",
      ListMap("k" -> k, "mode" -> mode.name))
    ArtifactProvenance.stampArtifact(docs.sparkSession, dir, "minhash-index",
      "build", provenance)
  }

  /** The artifact's pinned `(k, mode)`. */
  def meta(spark: SparkSession, dir: String): (Int, HashMode) = {
    val f = ArtifactMeta.read(spark, dir, "meta.json")
    (f.int("k"), HashMode.named(f.str("mode")))
  }

  /** Fold `newDocs` into the index at `dir`, writing the combined index
    * to `outDir` — banded signatures are per-document rows, so the merge
    * is a plain union: only the new documents are signatured
    * (spec-pinned equal to a fresh build on the concatenated corpus).
    * The ingest loop this enables: probe today's arrivals against
    * yesterday's index, then merge them in for tomorrow.
    *
    * PRECONDITION: `newDocs` ids must be new to the index. Re-ingesting
    * an existing id with DIFFERENT text would leave both texts'
    * signature rows under one id — a state no fresh build can produce
    * (batch signatures aggregate one row set per doc). Dedup re-ingests
    * upstream (e.g. [[Curate.snapshotDiff]] `added` rows only). */
  def merge(spark: SparkSession, dir: String, newDocs: DataFrame,
            outDir: String, numFiles: Int = 32,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    // an in-place merge (outDir == dir) would overwrite-delete the input
    // signatures before the lazy union plan reads them, losing the index
    ArtifactPaths.requireDistinct(spark, dir, outDir)
    val (k, mode) = meta(spark, dir)
    Sources.parquet(spark, s"$dir/data")
      .unionByName(StreamNearDup.bandedSignatures(newDocs, k, mode)
        .select(col("doc_id"), col("nsh"), col("band"),
          col("band_hash").cast("long").as("band_hash")))
      .repartitionByRange(numFiles, col("band"), col("band_hash"))
      .sortWithinPartitions(col("band"), col("band_hash"))
      .write.mode("overwrite").parquet(s"$outDir/data")
    ArtifactMeta.write(spark, outDir, "meta.json",
      ListMap("k" -> k, "mode" -> mode.name))
    ArtifactProvenance.stampArtifact(spark, outDir, "minhash-index",
      "merge", provenance)
  }

  /** Candidate near-dup pairs between `newDocs` and the INDEXED corpus:
    * `(doc_a, doc_b)` with `doc_a < doc_b`, a pair surviving iff some
    * band agrees exactly and the size-ratio block holds — the same
    * pre-verify candidate contract as [[NearDup.minhashPairs]] restricted
    * to new×corpus pairs (in-stream new×new pairs are out of scope here;
    * see the object doc). Batch probes come deduped; streaming probes may
    * repeat. Verify with [[probeVerified]]. */
  def probe(spark: SparkSession, dir: String, newDocs: DataFrame,
            threshold: Double = 0.7,
            freshAgainst: Option[DataFrame] = None): DataFrame = {
    // opt-in staleness guard: probing yesterday's index against an
    // edited corpus silently under-dedups — fail loudly instead
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    val (k, mode) = meta(spark, dir)
    val stored = Sources.parquet(spark, s"$dir/data")
      .select(col("doc_id").as("_ix_id"), col("nsh").as("_ix_nsh"),
        col("band"), col("band_hash"))
    val cand = StreamNearDup.bandedSignatures(newDocs, k, mode)
      .join(stored, Seq("band", "band_hash"))
      .filter(col("doc_id") =!= col("_ix_id") &&
        least(col("nsh"), col("_ix_nsh")) >=
          lit(threshold) * greatest(col("nsh"), col("_ix_nsh")))
      .select(least(col("doc_id"), col("_ix_id")).as("doc_a"),
        greatest(col("doc_id"), col("_ix_id")).as("doc_b"))
    if (newDocs.isStreaming) cand else cand.distinct()
  }

  /** [[probe]] + exact shingle-Jaccard verification against a document
    * store ([[StreamNearDup.verified]]'s per-row array formulation —
    * stateless, stream-safe). Output matches [[NearDup.minhashPairs]] on
    * the new×corpus pair subset. */
  def probeVerified(spark: SparkSession, dir: String, newDocs: DataFrame,
                    docStore: DataFrame, threshold: Double = 0.7,
                    freshAgainst: Option[DataFrame] = None): DataFrame = {
    val (k, _) = meta(spark, dir)
    StreamNearDup.verified(probe(spark, dir, newDocs, threshold, freshAgainst),
      docStore, k, threshold)
  }
}
