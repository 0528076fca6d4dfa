package graft.ops

import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted banded Hamming-fingerprint index: the perceptual-dedup
  * member of the build-once/probe-many artifact family ([[MinhashIndex]]
  * for text signatures, [[IvfIndex]] for embeddings, [[LmIndex]] for
  * reference LMs). A 64-bit fingerprint corpus — image dHash, audio
  * energy contours, video payload hashes, text simhash — is banded ONCE
  * under the pigeonhole layout ([[NearDup.hammingIndex]]) and written
  * with pinned metadata; later arrivals probe the stored bands without
  * the corpus ever being re-hashed or re-banded, and per-shard builds
  * fold together by exact merge.
  *
  * What the artifact pins, and why each field is load-bearing:
  *  - `kind` — WHICH fingerprint family the index holds ("image-dhash",
  *    "audio-dhash", ...). Two families share the 64-bit hash space, so
  *    probing an image index with audio contours would join WITHOUT
  *    ERROR and emit meaningless "pairs"; the probe states its expected
  *    kind and a mismatch is refused loudly.
  *  - `bits`/`maxHamming` — the band layout is a pure function of these
  *    ([[NearDup.layoutTag]]); a probe banded under different values
  *    lands in different buckets and silently loses recall. The layout
  *    tag ALSO rides in the `band` column's parquet metadata (belt and
  *    braces: [[NearDup.hammingProbe]]'s own guard still fires even if
  *    the frame is loaded around this object).
  *
  * Layout: `dir/data/…parquet` (doc_id, _hp_hash, band, band_val),
  * range-partitioned and sorted by (band, band_val) — the probe join
  * key, so stored buckets are contiguous and compress well — plus
  * `dir/meta.json` (kind, bits, maxHamming). Provenance stamps and the
  * `freshAgainst` staleness guard follow [[ArtifactProvenance]].
  *
  * Scale shape: identical to the in-memory engine — the index pays
  * C(maxHamming+2, 2) (pair mode) or maxHamming+1 rows per fingerprint,
  * 8-byte hashes rather than payloads, and a probe shuffles only
  * arrivals×matching-bucket rows. Streaming: [[probe]] on a streaming
  * arrival frame is a stream-static join (the [[NearDup.hammingProbe]]
  * contract), so ingest-time perceptual dedup runs against yesterday's
  * persisted corpus per micro-batch. */
object HammingIndex {

  private final case class Meta(kind: String, bits: Int, maxHamming: Int)

  /** Band the fingerprint corpus and persist. `hashes` carries
    * `(idCol, hashCol)`; null hashes drop (no fingerprint to compare). */
  def build(hashes: DataFrame, dir: String, maxHamming: Int, kind: String,
            hashCol: String = "simhash", idCol: String = "doc_id",
            bits: Int = 64, numFiles: Int = 8,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    require(kind.trim.nonEmpty, "kind must name the fingerprint family")
    val banded = NearDup.hammingIndex(hashes, maxHamming, hashCol, idCol, bits)
    NearDup.hammingSave(banded, dir, numFiles, provenance, operation = "build")
    ArtifactMeta.write(hashes.sparkSession, dir, "meta.json", Meta(kind, bits, maxHamming))
  }

  /** The artifact's pinned `(kind, bits, maxHamming)`. */
  def meta(spark: SparkSession, dir: String): (String, Int, Int) = {
    val m = ArtifactMeta.readAs[Meta](spark, dir, "meta.json")
    (m.kind, m.bits, m.maxHamming)
  }

  /** Fold new fingerprints into the index at `dir`, writing the combined
    * index to `outDir` — banded rows are per-fingerprint, so the merge
    * is [[NearDup.hammingAppend]] (band only the arrivals, union):
    * spec-pinned equal to a fresh [[build]] on the concatenated
    * fingerprint frames. The ingest loop this enables: probe today's
    * arrivals against yesterday's index, then merge them in for
    * tomorrow. PRECONDITION (as [[MinhashIndex.merge]]): arriving ids
    * must be new to the index — a re-ingested id with a DIFFERENT
    * fingerprint would leave both hash rows under one id. */
  def merge(spark: SparkSession, dir: String, newHashes: DataFrame,
            outDir: String, expectedKind: String,
            hashCol: String = "simhash",
            idCol: String = "doc_id", numFiles: Int = 8,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    // an in-place merge (outDir == dir) would overwrite-delete the input
    // bands before the lazy union plan reads them, losing the index
    ArtifactPaths.requireDistinct(spark, dir, outDir)
    val (kind, bits, maxHamming) = meta(spark, dir)
    // the same cross-family guard probe carries: folding audio contours
    // into an image index would succeed silently and poison every later
    // probe that passes the kind check — the caller must state which
    // family the arriving fingerprints belong to
    require(kind == expectedKind,
      s"hamming index kind mismatch: $dir holds '$kind' fingerprints, " +
        s"merge arrivals claim '$expectedKind' — a cross-kind merge would " +
        "contaminate the index with meaningless 64-bit neighbors")
    val combined = NearDup.hammingAppend(
      loadData(spark, dir), newHashes, maxHamming, hashCol, idCol, bits)
    NearDup.hammingSave(combined, outDir, numFiles, provenance,
      operation = "merge")
    ArtifactMeta.write(spark, outDir, "meta.json", Meta(kind, bits, maxHamming))
  }

  /** Probe arrivals against the persisted index:
    * `(arrival_id, corpus_id, hamming)` for every arrival within the
    * artifact's pinned radius of an indexed fingerprint — recall-
    * lossless by the pigeonhole argument, [[NearDup.hammingProbe]] over
    * the loaded bands with `(bits, maxHamming)` read FROM the metadata
    * (a caller cannot mis-band the probe side). `expectedKind` must
    * match the artifact's pinned kind; `freshAgainst` (opt-in) refuses
    * a stale index exactly like the sibling artifacts. */
  def probe(spark: SparkSession, dir: String, arrivals: DataFrame,
            expectedKind: String, hashCol: String = "simhash",
            idCol: String = "doc_id",
            freshAgainst: Option[DataFrame] = None): DataFrame = {
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    val (kind, bits, maxHamming) = meta(spark, dir)
    require(kind == expectedKind,
      s"hamming index kind mismatch: $dir holds '$kind' fingerprints, " +
        s"probe expects '$expectedKind' — two families share the 64-bit " +
        "hash space, so a cross-kind probe would emit meaningless pairs")
    NearDup.hammingProbe(loadData(spark, dir), arrivals, maxHamming,
      hashCol, idCol, bits)
  }

  /** The stored banded frame. The layout tag must have survived the
    * parquet round trip in the `band` column metadata —
    * [[NearDup.hammingProbe]]/[[NearDup.hammingAppend]] validate it; an
    * index written outside [[build]] (or damaged) is refused there. */
  private def loadData(spark: SparkSession, dir: String): DataFrame =
    Sources.parquet(spark, s"$dir/data")
}
