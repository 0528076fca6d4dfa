package graft.ops

import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted product-quantization index: the vector family's build-once
  * compression artifact ([[MinhashIndex]] for text signatures,
  * [[IvfIndex]] for raw-vector partition pruning, [[HammingIndex]] for
  * perceptual fingerprints, [[LmIndex]] for reference LMs). [[PQ]]
  * retrains codebooks on every call and [[IvfIndex]] stores raw vectors;
  * the production 100 TB trade is the opposite on both axes — train the
  * codebooks ONCE, freeze them, and store each vector as `m` small codes
  * plus its exact norm (dim-64 doubles → 8 bytes at the m=8 defaults, a
  * 64× shrink), so search-many scans codes instead of vectors and new
  * arrivals append through the frozen quantizer without touching the
  * corpus.
  *
  * What the artifact pins, and why each field is load-bearing:
  *  - `books` — the frozen [m][k][dsub] codebooks. Every stored code is
  *    meaningful only against THESE centroids; re-deriving them from a
  *    drifted corpus would silently re-key the whole index, so they are
  *    part of the artifact, never recomputed.
  *  - `m`/`k`/`dim` — the layout contract. A probe vector of the wrong
  *    dimension would mis-slice into blocks without error; the search
  *    and encode paths check against the pinned dim and refuse loudly.
  *
  * Layout: `dir/data/…parquet` `(vec_id, label, nrm, codes)`,
  * range-partitioned and sorted by vec_id (contiguous ids compress the
  * code columns well and make the scan splittable), plus
  * `dir/codebooks.json` (m, k, dim, books — m·k·dim/m scalars,
  * driver-sized by construction). Provenance stamps and the
  * `freshAgainst` staleness guard follow [[ArtifactProvenance]].
  *
  * Scale shape: [[search]] scores stored codes with per-probe lookup
  * tables exactly like [[PQ.annPq]] — M `element_at`s per (row, probe)
  * inside the scan's projection, zero corpus shuffle, bounded [[TopK]]
  * tail — and the optional exact re-rank touches only the
  * `topK × rerank` survivors. [[scoreArrivals]] inverts the roles for
  * streaming: the probe tables are the static side and the CORPUS is
  * whatever arrives, a stateless projection (encode + table lookups +
  * threshold), so a standing query set scores an ingest stream per
  * micro-batch with no state store. */
object PqIndex {

  private final case class Codebooks(m: Int, k: Int, dim: Int,
                                     books: Array[Array[Array[Double]]])

  /** Train codebooks on the corpus ([[PQ.train]] — deterministic), encode
    * every vector, persist codes + frozen codebooks. One training pass
    * per Lloyd iteration plus one encode scan; the write carries
    * `(vec_id, label, nrm, codes)` only — the raw vectors never land in
    * the artifact (that is the point). */
  def build(embeddings: DataFrame, dir: String, m: Int = 8, k: Int = 16,
            iterations: Int = 1, numFiles: Int = 8,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    val books = PQ.train(embeddings, m, k, iterations)
    val dim = books.length * books.head.head.length
    PQ.encode(embeddings, books)
      .repartitionByRange(numFiles, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .write.mode("overwrite").parquet(s"$dir/data")
    ArtifactMeta.write(embeddings.sparkSession, dir, "codebooks.json",
      Codebooks(m, books.head.length, dim, books))
    ArtifactProvenance.stampArtifact(embeddings.sparkSession, dir, "pq-index",
      "build", provenance)
  }

  /** The artifact's pinned `(m, k, dim)` (k is the EFFECTIVE codebook
    * size — corpora smaller than the requested k train fewer codes). */
  def meta(spark: SparkSession, dir: String): (Int, Int, Int) = {
    val c = codebooksOf(spark, dir)
    (c.m, c.k, c.dim)
  }

  /** The frozen [m][k][dsub] codebooks. */
  def codebooks(spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    codebooksOf(spark, dir).books

  /** Encode new vectors with the artifact's FROZEN codebooks — a
    * stateless projection ([[PQ.encodeExprStatic]] against literal
    * centroids, no shuffle, no driver state), so a streaming embedding
    * frame encodes per micro-batch unchanged. Output matches the stored
    * layout `(vec_id, label, nrm, codes)`. Batch frames are checked
    * against the pinned dim (a wrong-width vector would mis-slice into
    * blocks without error); streaming frames skip the eager check —
    * the codegen'd `slice` still fails per row on short vectors. */
  def encodeWith(spark: SparkSession, dir: String,
                 embeddings: DataFrame): DataFrame = {
    val Codebooks(_, _, dim, books) = codebooksOf(spark, dir)
    // PER-ROW dim guard fused into the projection (raise_error fires
    // only on offending rows — free on the happy path, and it works on
    // streaming frames too): a first-row-only sample would let a
    // mixed-width frame (two embedding models unioned) encode
    // silently-meaningless codes, since slice() neither errors on a
    // long vector nor on a short one
    val guarded = embeddings.withColumn("embedding",
      when(size(col("embedding")) === dim, col("embedding"))
        .otherwise(raise_error(concat(
          lit(s"dim mismatch: $dir pins dim $dim, arrival vec_id "),
          col("vec_id").cast("string"),
          lit(" carries "), size(col("embedding")).cast("string"),
          lit(" — codes from a mis-sliced vector would be silently " +
            "meaningless")))))
    PQ.encode(guarded, books)
  }

  /** Append new vectors to the index IN PLACE through the frozen
    * quantizer: [[encodeWith]] + a partitioned append — the stored
    * corpus is untouched and un-read, searches immediately see the new
    * codes. Codebooks do NOT move (the PQ contract — periodic rebuilds
    * re-train; [[ArtifactProvenance]] records every append).
    * PRECONDITION (as [[IvfIndex.append]]): arriving vec_ids must be new
    * to the index — an appended duplicate id would surface twice. */
  def append(spark: SparkSession, dir: String, newEmbeddings: DataFrame,
             numFiles: Int = 1,
             provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    encodeWith(spark, dir, newEmbeddings)
      .repartitionByRange(numFiles, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .write.mode("append").parquet(s"$dir/data")
    ArtifactProvenance.stampArtifact(spark, dir, "pq-index", "append",
      provenance)
  }

  /** ANN search over the stored codes for external probes
    * `(probe_id, v, nrm)` (shape them with [[VectorOps.prepared]] +
    * renames): per-probe lookup tables from the FROZEN codebooks become
    * one literal, the code scan scores every (row, probe) pair as M
    * `element_at`s + adds — zero corpus shuffle — and a bounded [[TopK]]
    * keeps `topK × rerank` candidates per probe. With `exactFrom` (the
    * raw-vector corpus — NOT stored in the artifact) the survivors are
    * exactly re-ranked to true cosine order, which makes a search over
    * an index built from the same corpus/parameters IDENTICAL to
    * [[PQ.annPq]] — spec-pinned. Without it, ranking is by the
    * approximate score (the codes-only deployment, where raw vectors
    * live in cold storage). Output schema matches
    * [[VectorOps.annBrute]]; the score column is the approx cosine when
    * `exactFrom` is None.
    *
    * `dropSelfIds` (default true — the [[PQ.annPq]] convention, where
    * probes ARE corpus rows) excludes corpus rows whose vec_id equals
    * the probe's probe_id. Pass FALSE when probe ids live in their own
    * id space (external arrivals): with the default, an accidental id
    * collision would silently suppress a true nearest neighbor. */
  def search(spark: SparkSession, dir: String, probes: DataFrame,
             topK: Int = 5, rerank: Int = 4,
             exactFrom: Option[DataFrame] = None,
             freshAgainst: Option[DataFrame] = None,
             dropSelfIds: Boolean = true): DataFrame = {
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    val Codebooks(m, _, dim, books) = codebooksOf(spark, dir)
    val probeRows = probes
      .select(col("probe_id"), col("v"), col("nrm")).collect()
      .sortBy(_.getLong(0))
    val data = loadData(spark, dir)
    if (probeRows.isEmpty)
      return data.limit(0).select(col("vec_id").as("probe_id"),
        col("vec_id").as("neighbor_id"), col("vec_id").as("rank"),
        col("nrm").as("cosine"))
    probeRows.foreach(r => require(r.getSeq[Double](1).length == dim,
      s"dim mismatch: $dir pins dim $dim, probe ${r.getLong(0)} carries " +
        s"${r.getSeq[Double](1).length}"))
    val tLit = PQ.probeTablesLit(probeRows, books)
    // per-row array of struct(probe, approx) — the PQ.annPq projection,
    // 6 dp rounded so the candidate-pool boundary tie-breaks engine-exact
    val perProbe = array(probeRows.zipWithIndex.map { case (pr, i) =>
      struct(lit(pr.getLong(0)).as("probe_id"),
        round(PQ.approxDot(element_at(tLit, i + 1), m) /
          (lit(pr.getDouble(2)) * col("nrm")), 6).as("approx"))
    }: _*)
    val scoredAll = data
      .select(col("vec_id"), col("codes"), col("nrm"))
      .select(col("vec_id"), explode(perProbe).as("s"))
      .select(col("s.probe_id").as("probe_id"), col("vec_id"),
        col("s.approx").as("approx"))
    val scored = if (dropSelfIds)
      scoredAll.filter(col("vec_id") =!= col("probe_id")) else scoredAll
    exactFrom match {
      case Some(raw) =>
        val cands = TopK.topKPerKey(scored, "probe_id", "vec_id", "approx",
          topK * rerank)
        import spark.implicits._
        val probeDf = probeRows.map(r =>
          (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq
          .toDF("probe_id", "pv", "pn")
        PQ.exactRerankWith(cands, VectorOps.prepared(raw), probeDf, topK)
      case None =>
        TopK.topKPerKey(scored, "probe_id", "vec_id", "approx", topK)
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            col("rank"), col("approx").as("cosine"))
    }
  }

  /** Standing-query scoring of ARRIVALS against a fixed probe set — the
    * streaming inversion of [[search]]: the probe lookup tables are the
    * static side (collected once at plan time from a BATCH `probes`
    * frame), each arriving vector is encoded through the frozen
    * codebooks and scored with M table lookups per probe, and rows below
    * `minApprox` drop — encode, lookups and threshold are all one
    * stateless projection, so this runs unchanged on a streaming
    * arrivals frame (the alerting shape: "tell me when something close
    * to my query set arrives"). Output `(probe_id, vec_id, approx)`;
    * self-pairs (arrival id == probe id) drop. */
  def scoreArrivals(spark: SparkSession, dir: String, arrivals: DataFrame,
                    probes: DataFrame, minApprox: Double,
                    freshAgainst: Option[DataFrame] = None): DataFrame = {
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    val Codebooks(m, _, dim, books) = codebooksOf(spark, dir)
    val probeRows = probes
      .select(col("probe_id"), col("v"), col("nrm")).collect()
      .sortBy(_.getLong(0))
    probeRows.foreach(r => require(r.getSeq[Double](1).length == dim,
      s"dim mismatch: $dir pins dim $dim, probe ${r.getLong(0)} carries " +
        s"${r.getSeq[Double](1).length}"))
    val enc = encodeWith(spark, dir, arrivals)
    if (probeRows.isEmpty)
      // filter(false), not limit(0): limit is unsupported on streaming
      // frames, and an alerting pipeline whose standing-query set is
      // momentarily empty must idle, not crash at query start
      return enc.filter(lit(false)).select(col("vec_id").as("probe_id"),
        col("vec_id"), col("nrm").as("approx"))
    val tLit = PQ.probeTablesLit(probeRows, books)
    val perProbe = array(probeRows.zipWithIndex.map { case (pr, i) =>
      struct(lit(pr.getLong(0)).as("probe_id"),
        round(PQ.approxDot(element_at(tLit, i + 1), m) /
          (lit(pr.getDouble(2)) * col("nrm")), 6).as("approx"))
    }: _*)
    enc.select(col("vec_id"), explode(perProbe).as("s"))
      .select(col("s.probe_id").as("probe_id"), col("vec_id"),
        col("s.approx").as("approx"))
      .filter(col("vec_id") =!= col("probe_id") &&
        col("approx") >= minApprox)
  }

  private def loadData(spark: SparkSession, dir: String): DataFrame =
    Sources.parquet(spark, s"$dir/data")

  private def codebooksOf(spark: SparkSession, dir: String): Codebooks =
    ArtifactMeta.readAs[Codebooks](spark, dir, "codebooks.json")
}
