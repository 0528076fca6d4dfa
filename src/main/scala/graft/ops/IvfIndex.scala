package graft.ops

import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical IVF index: the corpus persisted PARTITIONED BY coarse cluster,
  * with the centroid table alongside. This is the layout that makes IVF
  * pay off at 100 TB: [[VectorOps.annIvf]] prunes logically (a filter over
  * a full scan — right for ad-hoc search over an existing table), while a
  * partitioned index prunes PHYSICALLY — a probe reads only its
  * `nProbeClusters / nCentroids` share of the files, because `cid` is a
  * partition column and Catalyst turns `cid IN (probed…)` into partition
  * pruning before any IO happens. Build once, search many.
  *
  * Layout: `dir/data/cid=<k>/…parquet` (vec_id, label, v, nrm) +
  * `dir/centroids.json` (cid, cv, cn rows, driver-sized by construction).
  * Deterministic given (corpus, nCentroids, kmeansIters). */
object IvfIndex {

  private[ops] final case class Centroid(cid: Long, cv: Array[Double], cn: Double)

  /** Build the index. Assignment follows [[VectorOps.annIvf]] exactly
    * (seeded or Lloyd-refined centroids, literal-vs-join cutover), so a
    * search over the index returns the same neighbours the logical
    * operator computes — pinned in `IvfIndexSpec`. One corpus pass plus
    * the write shuffle-free: the partitioned write happens straight from
    * the scan's projection. */
  def build(embeddings: DataFrame, dir: String, nCentroids: Int = 16,
            kmeansIters: Int = 0,
            literalMax: Int = VectorOps.CentroidLiteralMax,
            maxRowsPerPartition: Long = 0L,
            spreadSeed: Boolean = false,
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    val e = VectorOps.prepared(embeddings)
    // spreadSeed: farthest-point seeding bounds hot-cluster occupancy by
    // construction (probe cost capped by design); the sub-sharding below
    // remains the hard per-leaf guarantee either way
    val seeds =
      if (spreadSeed) VectorOps.seedCentroidsSpread(e, nCentroids)
      else VectorOps.seedLowestIds(e, nCentroids)
    val cents =
      if (kmeansIters > 0)
        VectorOps.refineCentroids(e, seeds, kmeansIters, literalMax, nCentroids)
      else seeds
    val centRows = cents.select(col("cid"), col("cv"), col("cn")).collect()
    require(centRows.nonEmpty, "cannot build an IVF index over an empty corpus")

    val assigned =
      (if (nCentroids > literalMax)
        VectorOps.assignByJoin(e, cents, Seq("label", "v", "nrm"))
      else if (centRows.length <= VectorOps.StaticArgmaxMax)
        e.withColumn("cid", VectorOps.nearestCidStatic(centRows))
      else {
        val cLit = VectorOps.centroidLiteralOf(centRows).get
        e.withColumn("cid",
          element_at(VectorOps.nearestClusterArray(cLit, 1), 1).getField("cid"))
      }).select(col("vec_id"), col("label"), col("v"), col("nrm"), col("cid"))

    if (maxRowsPerPartition <= 0L)
      assigned.write.mode("overwrite").partitionBy("cid").parquet(s"$dir/data")
    else {
      // cluster-skew bound: k-means clusters are rarely balanced, and one
      // dominant cluster means one giant partition directory — bad file
      // sizes, bad task granularity, and a straggler on every probe that
      // touches it. Hot clusters are sub-sharded by pmod(vec_id, subs)
      // into `cid=<k>/sub=<j>` so every leaf partition holds at most
      // ~maxRowsPerPartition rows. Search filters on cid only (the sub
      // level is read wholesale under each probed cid), so pruning and
      // results are unchanged — IvfIndexSpec pins output equality.
      val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> math.max(1L,
          (r.getLong(1) + maxRowsPerPartition - 1) / maxRowsPerPartition))
      val subsLit = map(sizes.flatMap { case (cid, subs) =>
        Seq(lit(cid), lit(subs))
      }.toSeq: _*)
      assigned
        .withColumn("sub", pmod(col("vec_id"), element_at(subsLit, col("cid"))).cast("int"))
        .write.mode("overwrite").partitionBy("cid", "sub").parquet(s"$dir/data")
    }

    // centroids: k rows of k×dim scalars — driver-sized metadata
    ArtifactMeta.write(embeddings.sparkSession, dir, "centroids.json",
      centRows.sortBy(_.getLong(0)).toList.map(r =>
        Centroid(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))))
    // vector corpora snapshot through ArtifactProvenance.embeddingSnapshot
    ArtifactProvenance.stampArtifact(embeddings.sparkSession, dir, "ivf-index",
      "build", provenance)
  }

  private[ops] def centroids(spark: SparkSession, dir: String): Seq[Centroid] =
    ArtifactMeta.readAs[List[Centroid]](spark, dir, "centroids.json")

  /** Search the index for external probe vectors `(probe_id, v, nrm)`
    * (use [[VectorOps.prepared]] + renames to shape them). Probe→cluster
    * selection happens on the DRIVER against the centroid metadata
    * (BigDecimal HALF_UP at 6 dp — bit-identical to `cosR`), then the
    * data read carries `cid IN (probed)` — a PartitionFilter, so only the
    * probed cluster directories are ever opened. Scoring + bounded top-k
    * as in [[VectorOps.annBrute]]; output schema matches. */
  def search(spark: SparkSession, dir: String, probes: DataFrame,
             nProbeClusters: Int = 2, topK: Int = 5,
             freshAgainst: Option[DataFrame] = None): DataFrame = {
    // opt-in staleness guard (frame shaped by
    // ArtifactProvenance.embeddingSnapshot, matching the build stamp)
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    scoredCandidates(spark, dir, probes, nProbeClusters) match {
      case None =>
        spark.range(0).select(col("id").as("probe_id"), col("id").as("neighbor_id"),
          col("id").as("rank"), col("id").cast("double").as("cosine"))
      case Some(scored) =>
        TopK.topKPerKey(scored, "probe_id", "vec_id", "cosine", topK)
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rank"),
            col("cosine"))
    }
  }

  /** Radius search over the index: every vector within cosine ≥
    * `threshold` of each probe, reading only the probed cluster
    * PARTITIONS ([[VectorOps.annRadius]]'s fixed-similarity contract on
    * [[search]]'s pruned layout — approximate the same way `search` is:
    * qualifying neighbors outside the probed clusters are missed). No
    * ranking state; the threshold is fused into the scoring projection. */
  def searchRadius(spark: SparkSession, dir: String, probes: DataFrame,
                   threshold: Double = 0.3, nProbeClusters: Int = 2,
                   freshAgainst: Option[DataFrame] = None): DataFrame = {
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    scoredCandidates(spark, dir, probes, nProbeClusters) match {
      case None =>
        spark.range(0).select(col("id").as("probe_id"), col("id").as("neighbor_id"),
          col("id").cast("double").as("cosine"))
      case Some(scored) =>
        // explicit NaN drop: Spark compares NaN above every number, so a
        // bare >= would emit zero-norm rows (see VectorOps.annRadius)
        scored.filter(col("cosine") >= threshold && !isnan(col("cosine")))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cosine"))
    }
  }

  /** SemDeDup over the physical layout: near-duplicate pairs within each
    * coarse cluster, read straight from the `cid`-partitioned data — the
    * build-once/dedup-many twin of [[VectorOps.semanticPairs]] (whose
    * logical assignment this layout materialised at build time). Each
    * cluster's pair space is grid-bounded exactly as in the logical
    * operator; because `cid` is a partition column, a re-run can also
    * restrict to chosen cluster partitions. Sub-sharded builds
    * (`maxRowsPerPartition`) add a `sub` leaf level under each cid —
    * grouping stays on `cid`, so shard boundaries never hide a pair. */
  def semanticPairs(spark: SparkSession, dir: String, threshold: Double = 0.9,
                    targetBlock: Int = 4096): DataFrame = {
    val data = Sources.parquet(spark, s"$dir/data")
    VectorOps.gridPairs(
      // safeNrm: layouts built before the null-guarded norm may persist a
      // raw 0.0 for degenerate vectors; gridPairs' division assumes the
      // guard ran at the row level (one CASE WHEN per read row)
      data.select(col("vec_id"), col("v"),
        VectorOps.safeNrm(col("nrm")).as("nrm"),
        col("cid").cast("long").as("cid")),
      "cid", threshold, targetBlock)
  }

  /** Append new vectors to the index IN PLACE: arrivals are assigned
    * with the index's FROZEN centroids (the same per-row literal argmax
    * [[probePairs]] uses) and written into their `cid` partition
    * directories — the corpus is untouched and un-read; searches
    * immediately see the new vectors. This is the grow-the-index half of
    * the incremental story ([[probePairs]] is the dedup-before-insert
    * half). Centroids do NOT move (the IVF contract — periodic rebuilds
    * re-balance); sub-sharded layouts (`maxRowsPerPartition`) are not
    * appendable because the sub level is sized from build-time counts.
    * PRECONDITION: arriving vec_ids must be new to the index — an
    * appended duplicate id would surface twice in search results. */
  def append(spark: SparkSession, dir: String,
             newEmbeddings: DataFrame,
             provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    val cents = centroids(spark, dir)
    require(cents.nonEmpty, "index has no centroids")
    require(cents.length <= VectorOps.CentroidLiteralMax,
      s"append needs a literal-assignable index (k <= " +
        s"${VectorOps.CentroidLiteralMax}), got ${cents.length} centroids")
    require(!Sources.parquet(spark, s"$dir/data").columns.contains("sub"),
      "sub-sharded layouts are not appendable — rebuild instead")
    val centRows: Array[org.apache.spark.sql.Row] = cents.map(c =>
      org.apache.spark.sql.Row(c.cid, c.cv.toSeq, c.cn)).toArray
    val cidExpr =
      if (centRows.length <= VectorOps.StaticArgmaxMax)
        VectorOps.nearestCidStatic(centRows)
      else
        element_at(VectorOps.nearestClusterArray(
          VectorOps.centroidLiteralOf(centRows).get, 1), 1).getField("cid")
    VectorOps.prepared(newEmbeddings)
      .withColumn("cid", cidExpr)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("cid"))
      .write.mode("append").partitionBy("cid").parquet(s"$dir/data")
    ArtifactProvenance.stampArtifact(spark, dir, "ivf-index", "append",
      provenance)
  }

  /** Arrivals-vs-corpus semantic near-dup pairs over the persisted
    * layout — the vector analog of [[MinhashIndex.probe]]: arriving
    * embeddings are assigned to coarse clusters PER ROW with the index's
    * own centroids (the zero-exchange literal argmax / static `least()`
    * the build used — a stateless projection, so this runs unchanged on
    * streaming frames as a stream-static join), then joined against the
    * stored corpus on `cid` and kept at exact cosine ≥ `threshold`. The
    * corpus is never re-embedded, re-normalised or re-assigned.
    *
    * SemDeDup's approximation contract carries over: a qualifying pair
    * whose members assign to different coarse clusters is missed —
    * [[VectorOps.semanticPairsMultiProbe]] quantifies the trade on the
    * logical path. Degenerate (zero/NaN-norm) vectors carry null cosine
    * and drop. Requires a literal-assignable index
    * (`nCentroids <= CentroidLiteralMax` — the regime every gated build
    * here uses); larger coarse quantizers should dedup on the logical
    * path where the broadcast-join argmax is available. */
  def probePairs(spark: SparkSession, dir: String, newEmbeddings: DataFrame,
                 threshold: Double = 0.9,
                 freshAgainst: Option[DataFrame] = None): DataFrame = {
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    val cents = centroids(spark, dir)
    require(cents.nonEmpty, "index has no centroids")
    require(cents.length <= VectorOps.CentroidLiteralMax,
      s"probePairs needs a literal-assignable index (k <= " +
        s"${VectorOps.CentroidLiteralMax}), got ${cents.length} centroids")
    val centRows: Array[org.apache.spark.sql.Row] = cents.map(c =>
      org.apache.spark.sql.Row(c.cid, c.cv.toSeq, c.cn)).toArray
    val cidExpr =
      if (centRows.length <= VectorOps.StaticArgmaxMax)
        VectorOps.nearestCidStatic(centRows)
      else
        element_at(VectorOps.nearestClusterArray(
          VectorOps.centroidLiteralOf(centRows).get, 1), 1).getField("cid")
    val arrivals = VectorOps.prepared(newEmbeddings).withColumn("cid", cidExpr)
    val data = Sources.parquet(spark, s"$dir/data")
      .select(col("vec_id").as("_ix_vid"), col("v").as("_ix_v"),
        VectorOps.safeNrm(col("nrm")).as("_ix_nrm"),
        col("cid").cast("long").as("cid"))
    arrivals.join(data, Seq("cid"))
      .filter(col("vec_id") =!= col("_ix_vid"))
      .withColumn("cosine",
        VectorOps.cosR(col("v"), col("nrm"), col("_ix_v"), col("_ix_nrm")))
      .filter(col("cosine") >= threshold)
      .select(least(col("vec_id"), col("_ix_vid")).as("vec_a"),
        greatest(col("vec_id"), col("_ix_vid")).as("vec_b"), col("cosine"))
  }

  /** Shared probe→cluster pruning + scoring: driver-side cluster
    * selection against the centroid metadata, partition-pruned data read,
    * broadcast probe join, rounded-cosine scoring. None when the index or
    * probe set is empty. */
  private def scoredCandidates(spark: SparkSession, dir: String, probes: DataFrame,
                               nProbeClusters: Int): Option[DataFrame] = {
    val cents = centroids(spark, dir)
    val probeRows = probes.select(col("probe_id"), col("v"), col("nrm")).collect()
    if (probeRows.isEmpty || cents.isEmpty) return None

    val probeClusters = probeRows.flatMap { pr =>
      val pv = pr.getSeq[Double](1).toArray
      val pn = pr.getDouble(2)
      cents.map { c =>
        val raw = pv.zip(c.cv).map { case (x, y) => x * y }.sum / (pn * c.cn)
        val cos = BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (pr.getLong(0), c.cid, cos)
      }.sortBy { case (_, cid, cos) => (-cos, cid) }.take(nProbeClusters)
    }
    val probedCids = probeClusters.map(_._2).distinct.toSeq

    import spark.implicits._
    val probeDf = broadcast(probeRows.map(r =>
      (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq
      .toDF("probe_id", "pv", "pn")
      .join(probeClusters.toSeq.toDF("probe_id", "cid", "_ccos"), Seq("probe_id"))
      .select(col("probe_id"), col("pv"), col("pn"), col("cid")))

    // cid is a partition column: this filter prunes directories, not rows
    val data = Sources.parquet(spark, s"$dir/data")
      .filter(col("cid").isin(probedCids: _*))
    Some(data.join(probeDf, Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine",
        // nullif: zero norms yield NULL, not an ANSI division error
        // (see VectorOps.cosR)
        round(VectorOps.dot(col("pv"), col("v"))
          / nullif(col("pn") * col("nrm"), lit(0.0)), 6)))
  }
}
