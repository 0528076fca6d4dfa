package graft.ops

import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Persisted profile sketches — the cardinality/frequency member of the
  * build-once artifact family (listed in [[ArtifactMeta]]).
  *
  * The production shape this enables: profile each ingest batch ONCE
  * into bounded state (a KMV buffer per group, a d×w count-min grid),
  * persist it, and answer "distinct shingles per source so far" /
  * "estimated frequency of this token across the whole corpus" by
  * reading kilobytes — never re-scanning yesterday's 100 TB. Both
  * merges are EXACT (spec-pinned equal to a fresh build over the
  * concatenated stream):
  *
  *  - KMV: the k smallest distinct hashes of A ∪ B are all within the
  *    k smallest of A plus the k smallest of B, so re-aggregating the
  *    stored buffers IS the union's buffer.
  *  - Count-min: counters are plain sums, so elementwise addition of
  *    two grids equals the grid of the concatenated stream.
  *
  * Layout: `dir/data/…parquet` plus `dir/meta.json` pinning the sketch
  * parameters (kind, k or d×w, salt, hash mode; every value a string) —
  * readers take them from the metadata, so a probe/sketch parameter
  * mismatch cannot happen. Metadata parsing fails loudly on another
  * kind or a missing or non-string parameter: silently estimating from
  * a mismatched artifact would be a wrong-answer bug, not a recoverable
  * default.
  */
object SketchIndex {

  /** The parameter keys each sketch kind pins. */
  private val ParamKeys = Map(
    "kmv" -> Seq("k", "mode", "salt"),
    "quantile" -> Seq("k", "mode", "salt"),
    "cm" -> Seq("d", "mode", "salt", "w"))

  /** Sketch `(groupCol, valueCol)` with a k-sized KMV buffer per group
    * ([[Sketch.kmvSketch]]) and persist. The artifact is O(groups × k)
    * longs regardless of input size. */
  def buildKmv(df: DataFrame, groupCol: String, valueCol: String, dir: String,
               k: Int = 64, salt: String = "kmv",
               mode: HashMode = HashMode.Portable, numFiles: Int = 1,
               provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    Sketch.kmvSketch(df, groupCol, valueCol, k, salt, mode)
      .repartition(numFiles)
      .write.mode("overwrite").parquet(s"$dir/data")
    writeParams(df.sparkSession, dir, "kmv", Map("k" -> k.toString, "salt" -> salt,
      "mode" -> mode.name))
    ArtifactProvenance.stampArtifact(df.sparkSession, dir, "sketch-kmv",
      "build", provenance)
  }

  /** Fold new raw rows into a KMV artifact: only `df` is hashed (the
    * stored groups contribute their buffers, never their source data),
    * then the buffers re-aggregate — exactly a fresh build over the
    * concatenated stream. In-place output is rejected: the lazy union
    * plan still reads `dir` when `outDir` is written. */
  def appendKmv(spark: SparkSession, dir: String, df: DataFrame,
                groupCol: String, valueCol: String, outDir: String,
                numFiles: Int = 1,
                provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    ArtifactPaths.requireDistinct(spark, dir, outDir)
    val m = params(spark, dir, "kmv")
    val k = m("k").toInt
    val fresh = Sketch.kmvSketch(df, groupCol, valueCol, k, m("salt"),
      HashMode.named(m("mode")))
    writeMerged(spark, Seq(Sources.parquet(spark, s"$dir/data"), fresh), k,
      outDir, numFiles)
    writeParams(spark, outDir, "kmv", m)
    ArtifactProvenance.stampArtifact(spark, outDir, "sketch-kmv", "append",
      provenance)
  }

  /** Merge two KMV artifacts (same k/salt/mode — verified from both
    * metadata files) into `outDir`. */
  def mergeKmv(spark: SparkSession, dirA: String, dirB: String,
               outDir: String, numFiles: Int = 1,
               provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    ArtifactPaths.requireDistinct(spark, dirA, outDir)
    ArtifactPaths.requireDistinct(spark, dirB, outDir)
    val a = params(spark, dirA, "kmv")
    val b = params(spark, dirB, "kmv")
    require(a == b, s"KMV artifacts disagree on parameters: $a vs $b")
    writeMerged(spark, Seq(Sources.parquet(spark, s"$dirA/data"),
      Sources.parquet(spark, s"$dirB/data")), a("k").toInt, outDir, numFiles)
    writeParams(spark, outDir, "kmv", a)
    ArtifactProvenance.stampArtifact(spark, outDir, "sketch-kmv", "merge",
      provenance)
  }

  /** Distinct-count estimates from a KMV artifact: `(group,
    * est_distinct)` via [[Sketch.kmvEstimate]] under the stored k. */
  def estimateKmv(spark: SparkSession, dir: String): DataFrame = {
    val m = params(spark, dir, "kmv")
    Sketch.kmvEstimate(Sources.parquet(spark, s"$dir/data"), m("k").toInt)
  }

  private def writeMerged(spark: SparkSession, parts: Seq[DataFrame], k: Int,
                          outDir: String, numFiles: Int): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    import spark.implicits._
    parts.reduce(_ unionByName _)
      .select(col("group"), explode(col("kmv")).as("_h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(TopK.minKDistinct(k))
      .toDF("group", "kmv")
      .repartition(numFiles)
      .write.mode("overwrite").parquet(s"$outDir/data")
  }

  /** Sketch per-group `(keyCol → valueCol)` min-k row samples
    * ([[Sketch.quantileSketch]]) and persist — O(groups × k) pairs.
    * The artifact RECORDS k (and salt/mode), which closes the contract
    * the raw frames cannot check: [[appendQuantile]] and
    * [[mergeQuantile]] re-aggregate under the STORED k, so a caller can
    * never merge with a larger k than the inputs were built with (the
    * biased-sample hazard `Sketch.mergeQuantile` documents). */
  def buildQuantile(df: DataFrame, groupCol: String, keyCol: String,
                    valueCol: String, dir: String, k: Int = 64,
                    salt: String = "qs", mode: HashMode = HashMode.Portable,
                    numFiles: Int = 1,
                    provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    Sketch.quantileSketch(df, groupCol, keyCol, valueCol, k, salt, mode)
      .repartition(numFiles)
      .write.mode("overwrite").parquet(s"$dir/data")
    writeParams(df.sparkSession, dir, "quantile", Map("k" -> k.toString,
      "salt" -> salt, "mode" -> mode.name))
    ArtifactProvenance.stampArtifact(df.sparkSession, dir, "sketch-quantile",
      "build", provenance)
  }

  /** Fold new raw rows (DISJOINT from the artifact's — rows have
    * multiplicity, the [[Sketch.mergeQuantile]] contract) into a
    * quantile artifact: only `df` is hashed, then the samples
    * re-aggregate under the stored parameters — exactly a fresh build
    * over the concatenated stream. */
  def appendQuantile(spark: SparkSession, dir: String, df: DataFrame,
                     groupCol: String, keyCol: String, valueCol: String,
                     outDir: String, numFiles: Int = 1,
                     provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    ArtifactPaths.requireDistinct(spark, dir, outDir)
    val m = params(spark, dir, "quantile")
    val k = m("k").toInt
    val fresh = Sketch.quantileSketch(df, groupCol, keyCol, valueCol, k,
      m("salt"), HashMode.named(m("mode")))
    writeMergedQuantile(spark, Seq(Sources.parquet(spark, s"$dir/data"), fresh),
      k, outDir, numFiles)
    writeParams(spark, outDir, "quantile", m)
    ArtifactProvenance.stampArtifact(spark, outDir, "sketch-quantile",
      "append", provenance)
  }

  /** Merge two quantile artifacts over disjoint row sets (same
    * k/salt/mode — verified from both metadata files). */
  def mergeQuantile(spark: SparkSession, dirA: String, dirB: String,
                    outDir: String, numFiles: Int = 1,
                    provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    ArtifactPaths.requireDistinct(spark, dirA, outDir)
    ArtifactPaths.requireDistinct(spark, dirB, outDir)
    val a = params(spark, dirA, "quantile")
    val b = params(spark, dirB, "quantile")
    require(a == b, s"quantile artifacts disagree on parameters: $a vs $b")
    writeMergedQuantile(spark, Seq(Sources.parquet(spark, s"$dirA/data"),
      Sources.parquet(spark, s"$dirB/data")), a("k").toInt, outDir, numFiles)
    writeParams(spark, outDir, "quantile", a)
    ArtifactProvenance.stampArtifact(spark, outDir, "sketch-quantile",
      "merge", provenance)
  }

  /** Nearest-rank quantile estimates from a quantile artifact via
    * [[Sketch.quantileEstimate]]. */
  def estimateQuantile(spark: SparkSession, dir: String,
                       pcts: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    params(spark, dir, "quantile") // kind check
    Sketch.quantileEstimate(Sources.parquet(spark, s"$dir/data"), pcts)
  }

  private def writeMergedQuantile(spark: SparkSession, parts: Seq[DataFrame],
                                  k: Int, outDir: String,
                                  numFiles: Int): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    import spark.implicits._
    parts.reduce(_ unionByName _)
      .select(col("group"), explode(col("sample")).as("_p"))
      .select(col("group"), col("_p._1").as("_h"), col("_p._2").as("_v"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(TopK.minKPairs(k))
      .toDF("group", "sample")
      .repartition(numFiles)
      .write.mode("overwrite").parquet(s"$outDir/data")
  }

  /** Build and persist a count-min grid over `valueCol`
    * ([[Sketch.countMin]]): ≤ d × w counter rows. */
  def buildCm(df: DataFrame, valueCol: String, dir: String,
              d: Int = 4, w: Int = 1 << 16, salt: String = "cm",
              mode: HashMode = HashMode.Portable, numFiles: Int = 1,
              provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    Sketch.countMin(df, valueCol, d, w, salt, mode)
      .repartition(numFiles)
      .write.mode("overwrite").parquet(s"$dir/data")
    writeParams(df.sparkSession, dir, "cm", Map("d" -> d.toString,
      "w" -> w.toString, "salt" -> salt, "mode" -> mode.name))
    ArtifactProvenance.stampArtifact(df.sparkSession, dir, "sketch-cm",
      "build", provenance)
  }

  /** Fold new raw rows into a count-min artifact (elementwise counter
    * addition — exact). */
  def appendCm(spark: SparkSession, dir: String, df: DataFrame,
               valueCol: String, outDir: String, numFiles: Int = 1,
               provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    ArtifactPaths.requireDistinct(spark, dir, outDir)
    require(numFiles > 0, "numFiles must be positive")
    val m = params(spark, dir, "cm")
    val fresh = Sketch.countMin(df, valueCol, m("d").toInt, m("w").toInt,
      m("salt"), HashMode.named(m("mode")))
    Sources.parquet(spark, s"$dir/data").unionByName(fresh)
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
      .repartition(numFiles)
      .write.mode("overwrite").parquet(s"$outDir/data")
    writeParams(spark, outDir, "cm", m)
    ArtifactProvenance.stampArtifact(spark, outDir, "sketch-cm", "append",
      provenance)
  }

  /** Frequency estimates for `probes` against a count-min artifact:
    * `(value, est_count)` via [[Sketch.cmEstimate]] under the stored
    * parameters. */
  def estimateCm(spark: SparkSession, dir: String, probes: DataFrame,
                 valueCol: String): DataFrame = {
    val m = params(spark, dir, "cm")
    Sketch.cmEstimate(Sources.parquet(spark, s"$dir/data"), probes, valueCol,
      m("d").toInt, m("w").toInt, m("salt"), HashMode.named(m("mode")))
  }

  private def writeParams(spark: SparkSession, dir: String, kind: String,
                          params: Map[String, String]): Unit =
    ArtifactMeta.write(spark, dir, "meta.json",
      ListMap("kind" -> kind) ++ params.toSeq.sortBy(_._1))

  /** The parameters a `kind` artifact at `dir` pins, `kind` excluded. */
  private[ops] def params(spark: SparkSession, dir: String,
                          kind: String): Map[String, String] = {
    val f = ArtifactMeta.read(spark, dir, "meta.json")
    val stored = f.str("kind")
    require(stored == kind,
      s"sketch artifact at $dir has kind $stored, expected $kind")
    ParamKeys(kind).map(k => k -> f.str(k)).toMap
  }
}
