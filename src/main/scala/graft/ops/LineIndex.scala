package graft.ops

import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Persisted frequent-gram artifact for the Bloom-backed cleaning
  * family: the UNPRUNED digest-pair counts behind
  * [[Curate.frequentLines]] (boilerplate lines),
  * [[ExactSubstr.frequentWindows]] (duplicated token windows) and
  * [[ExactSubstr.frequentShingles]] (duplicated sentence spans) written
  * once, with the `minDocs`/`minOccurrences` threshold applied at LOAD
  * — the last build-once family member to gain the incremental-merge
  * contract every other artifact already has ([[LmIndex]] persists
  * unpruned additive counts for exactly this reason).
  *
  * Why unpruned: the one-shot operators prune before returning, so
  * persisting THEIR output cannot be folded with tomorrow's increment
  * exactly — a line seen once in each half is frequent in the union but
  * in neither pruned part. At 100 TB that gap forces a full corpus
  * re-scan per refresh of the ingest-cleaning chain's three artifacts;
  * here [[merge]] unions count frames (gram-vocabulary-sized, never the
  * corpus) and only the NEW documents are re-counted — spec-pinned
  * equal to a fresh build on the concatenated corpus.
  *
  * Layout: `dir/counts/…parquet` `(h1, h2, n)` — the `graft_md5hh`
  * digest pair plus the kind's count — range-partitioned and sorted by
  * (h1, h2) for compression and min/max pruning, plus `dir/meta.json`
  * pinning the [[Kind]] (lines' separator / windows' length / shingles'
  * order), so a loader can never threshold one kind's counts under
  * another kind's semantics. Provenance stamps + probe-time
  * `freshAgainst` follow the family contract
  * ([[ArtifactProvenance.Target]]).
  *
  * MERGE PRECONDITION for the [[Kind.Lines]] kind: its count is a
  * count DISTINCT of doc ids, additive only when the increments' doc
  * ids are disjoint from the artifact's — the [[MinhashIndex.merge]]
  * precondition; dedup re-ingests upstream
  * ([[Curate.snapshotDiff]] `added` rows only). Windows and shingles
  * count per-occurrence and are unconditionally additive.
  *
  * The loaded frames are column-compatible drop-ins for the frequent*
  * outputs, so [[graft.stream.StreamCurate.loadArtifacts]] can
  * parameterise the online cleaning chain straight from disk.
  */
object LineIndex {

  /** Which gram shape an artifact counts — pinned in the metadata and
    * re-validated at load (`line_df` over distinct docs vs `win_df` /
    * `n_occ` over occurrences are DIFFERENT statistics; thresholding
    * one as the other would silently mis-clean). */
  sealed trait Kind {
    /** metadata discriminator */
    def name: String
    /** the count column name the matching frequent* operator emits */
    def countCol: String
  }
  object Kind {
    /** Boilerplate lines ([[Curate.lineCounts]] semantics: distinct-doc
      * frequency, null text = empty, `sep`-split). */
    final case class Lines(sep: String = "\n") extends Kind {
      val name = "lines"; val countCol = "line_df"
    }
    /** Duplicated token windows ([[ExactSubstr.windowCounts]]:
      * per-occurrence, length-`l` normalised-token windows). */
    final case class Windows(l: Int = 20) extends Kind {
      val name = "windows"; val countCol = "win_df"
    }
    /** Duplicated sentence shingles ([[ExactSubstr.shingleCounts]]:
      * per-occurrence, `n`-sentence spans). */
    final case class Shingles(n: Int = 3) extends Kind {
      val name = "shingles"; val countCol = "n_occ"
    }
  }

  private def countsOf(docs: DataFrame, kind: Kind, idCol: String,
                       textCol: String): DataFrame = kind match {
    case Kind.Lines(sep) =>
      Curate.lineCounts(docs, idCol, textCol, sep)
        .withColumnRenamed("line_df", "n")
    case Kind.Windows(l) =>
      ExactSubstr.windowCounts(docs, l, idCol, textCol)
        .withColumnRenamed("win_df", "n")
    case Kind.Shingles(n) =>
      ExactSubstr.shingleCounts(docs, n, idCol, textCol)
        .withColumnRenamed("n_occ", "n")
  }

  /** Count the corpus once and persist the unpruned frame. */
  def build(docs: DataFrame, dir: String, kind: Kind, numFiles: Int = 8,
            idCol: String = "doc_id", textCol: String = "text",
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    val spark = docs.sparkSession
    writeCounts(countsOf(docs, kind, idCol, textCol), dir, numFiles)
    writeKind(spark, dir, kind)
    ArtifactProvenance.stampArtifact(spark, dir, "line-index", "build",
      provenance)
  }

  /** Fold `newDocs` into the artifact at `dir`, writing the combined
    * counts to `outDir`: only the new documents are counted, the old
    * corpus contributes its persisted gram-vocabulary-sized frame —
    * union + sum, exact because the counts are unpruned (spec-pinned
    * equal to a fresh build on the concatenated corpus; see the class
    * doc for the Lines kind's disjoint-ids precondition). */
  def merge(spark: SparkSession, dir: String, newDocs: DataFrame,
            outDir: String, numFiles: Int = 8,
            idCol: String = "doc_id", textCol: String = "text",
            provenance: Option[ArtifactProvenance.Target] = None): Unit = {
    // an in-place merge (outDir == dir) would overwrite-delete the input
    // counts before the lazy union plan reads them, losing the artifact
    ArtifactPaths.requireDistinct(spark, dir, outDir)
    val kind = meta(spark, dir)
    val combined = Sources.parquet(spark, s"$dir/counts")
      .unionByName(countsOf(newDocs, kind, idCol, textCol))
      .groupBy(col("h1"), col("h2")).agg(sum(col("n")).as("n"))
    writeCounts(combined, outDir, numFiles)
    writeKind(spark, outDir, kind)
    ArtifactProvenance.stampArtifact(spark, outDir, "line-index", "merge",
      provenance)
  }

  /** The pruned frequent-gram frame, thresholded NOW — column-identical
    * to the matching frequent* operator's output (`(h1, h2, <count>)`),
    * so every existing consumer ([[Curate.stripLinesFlag]],
    * [[ExactSubstr.stripSubstrFlag]]/[[ExactSubstr.stripSentencesFlag]],
    * [[graft.stream.StreamCurate]]) takes it unchanged. `expectKind`
    * (recommended) makes a wiring mix-up loud instead of mis-cleaning;
    * `freshAgainst` is the family's opt-in staleness guard. */
  def load(spark: SparkSession, dir: String, threshold: Long,
           expectKind: Option[Kind] = None,
           freshAgainst: Option[DataFrame] = None): DataFrame = {
    require(threshold >= 2,
      "threshold must be >= 2 (1 would flag every gram; the frequent* " +
        "operators' own floor)")
    ArtifactProvenance.checkFresh(spark, dir, freshAgainst)
    val kind = meta(spark, dir)
    expectKind.foreach(k => require(k == kind,
      s"$dir holds a '${kind.name}' artifact (${kind}), not the expected " +
        s"'${k.name}' ($k) — thresholding one kind's counts under " +
        "another's semantics would silently mis-clean"))
    Sources.parquet(spark, s"$dir/counts")
      .filter(col("n") >= threshold)
      .select(col("h1"), col("h2"), col("n").as(kind.countCol))
  }

  /** The raw unpruned count frame (diagnostics, re-thresholding). */
  def counts(spark: SparkSession, dir: String): DataFrame =
    Sources.parquet(spark, s"$dir/counts")

  /** The artifact's pinned [[Kind]]. */
  def meta(spark: SparkSession, dir: String): Kind = {
    val f = ArtifactMeta.read(spark, dir, "meta.json")
    f.str("kind") match {
      case "lines" => Kind.Lines(f.str("sep"))
      case "windows" => Kind.Windows(f.int("size"))
      case "shingles" => Kind.Shingles(f.int("size"))
      case other => throw new IllegalArgumentException(
        s"$dir: unknown LineIndex kind $other")
    }
  }

  private def writeCounts(counts: DataFrame, dir: String,
                          numFiles: Int): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    counts
      .repartitionByRange(numFiles, col("h1"), col("h2"))
      .sortWithinPartitions(col("h1"), col("h2"))
      .write.mode("overwrite").parquet(s"$dir/counts")
  }

  private def writeKind(spark: SparkSession, dir: String, kind: Kind): Unit =
    ArtifactMeta.write(spark, dir, "meta.json",
      ListMap("version" -> 1, "kind" -> kind.name) ++ (kind match {
        case Kind.Lines(sep) => ListMap("sep" -> sep)
        case Kind.Windows(l) => ListMap("size" -> l)
        case Kind.Shingles(n) => ListMap("size" -> n)
      }))
}
