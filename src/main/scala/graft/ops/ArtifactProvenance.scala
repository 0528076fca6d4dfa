package graft.ops

import graft.governance.GovernanceBackend
import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Provenance for the build-once/probe-many artifact family (listed in
  * [[ArtifactMeta]], which also owns the `provenance.json` format) and
  * the persisted [[NearDup.hammingIndex]] frame: WHICH corpus
  * dataset/version built an artifact, recorded both IN the artifact
  * directory (it travels with the files) and in the governance activity
  * log (the audit view — the exact dataset↔consumer link dc43's
  * governance store exists to hold, reference
  * `governance/unity_catalog.py` DatasetContractLinkHook + the
  * pipeline-activity records in `governance/backend/stores/`).
  * Without it a stale artifact is undetectable: yesterday's Bloom
  * filter silently under-strips today's corpus.
  *
  * Three pieces, all optional per artifact and none touching the
  * artifact's own layout:
  *  - [[stamp]] writes `provenance.json` next to the artifact data and
  *    (when a governance backend is attached) appends an activity event
  *    under the CORPUS dataset id — so `pipelineActivity(corpus)` lists
  *    every artifact built from it, newest first.
  *  - [[read]] returns the stamped provenance, `None` for pre-stamp
  *    artifacts (they keep working — provenance is additive).
  *  - [[stampWithSnapshot]]/[[staleCount]] add the staleness check: the
  *    stamp stores the corpus' per-document content fingerprints (the
  *    [[Curate.snapshotDiff]] comparison set — one row per doc, tiny
  *    next to any artifact), and `staleCount` diffs the CURRENT corpus
  *    against them with the same fingerprint semantics, counting
  *    added/removed/changed documents. [[requireFresh]] is the loud
  *    probe-time guard. */
object ArtifactProvenance {

  /** The provenance record: `operation` is build/merge/append, `builtAt`
    * epoch millis. */
  final case class Provenance(artifactKind: String, datasetId: String,
                              datasetVersion: String, operation: String,
                              builtAt: Long)

  /** Opt-in provenance directive a builder threads to its save path —
    * the production wiring of [[stamp]]/[[stampWithSnapshot]]: which
    * corpus dataset/version the artifact is built from, the governance
    * backend the activity event lands in, and (when `snapshot` is set)
    * the corpus frame whose per-document fingerprints enable probe-time
    * [[requireFresh]] checks. `idCol`/`textCol` name the snapshot
    * frame's identity and content columns — probe-side `freshAgainst`
    * frames must present the SAME columns (the fingerprints must be
    * computed over the same content on both sides). */
  final case class Target(datasetId: String, datasetVersion: String,
                          governance: Option[GovernanceBackend] = None,
                          snapshot: Option[DataFrame] = None,
                          idCol: String = "doc_id", textCol: String = "text")

  /** The single hook artifact builders call after their data write: a
    * `Some` target stamps `provenance.json` + the governance activity
    * event, plus the staleness snapshot when the target carries one. A
    * `None` target DELETES any previous stamp under `dir` — a rebuild
    * that opts out of provenance must not leave the PREVIOUS build's
    * stamp/snapshot lying around for a later `requireFresh` to trust
    * (the stale stamp would describe a corpus the on-disk data was no
    * longer built from, defeating the guard exactly when it matters). */
  def stampArtifact(spark: SparkSession, dir: String, artifactKind: String,
                    operation: String, target: Option[Target]): Unit =
    target match {
      case Some(t) =>
        t.snapshot match {
          case Some(c) =>
            stampWithSnapshot(spark, dir, artifactKind, t.datasetId,
              t.datasetVersion, c, operation, t.governance, t.idCol, t.textCol)
          case None =>
            stamp(spark, dir, artifactKind, t.datasetId, t.datasetVersion,
              operation, t.governance)
        }
        ()
      case None => clearStamp(spark, dir)
    }

  /** Remove a stamp (and its snapshot) from an artifact directory —
    * idempotent, nothing to do when none exists. */
  def clearStamp(spark: SparkSession, dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = new org.apache.hadoop.fs.Path(s"$dir/$StampFile")
    val snap = new org.apache.hadoop.fs.Path(snapshotPath(dir))
    val fs = meta.getFileSystem(conf)
    if (fs.exists(meta)) fs.delete(meta, false)
    if (fs.exists(snap)) fs.delete(snap, true)
    ()
  }

  /** Probe-side hook: when a probe entry point is given a `freshAgainst`
    * corpus, require the artifact's stamped snapshot to match it exactly
    * ([[requireFresh]] with zero tolerance — callers wanting a drift
    * budget call `requireFresh` directly). `None` keeps probes on their
    * historical no-check behavior. The frame must be shaped like the
    * snapshot the artifact was stamped with (same `idCol`/`textCol`). */
  def checkFresh(spark: SparkSession, dir: String,
                 freshAgainst: Option[DataFrame],
                 idCol: String = "doc_id", textCol: String = "text"): Unit =
    freshAgainst.foreach(c => requireFresh(spark, dir, c, 0, idCol, textCol))

  /** A `(doc_id, text)`-shaped snapshot frame for VECTOR corpora: each
    * embedding rendered as a stable string, so the same text-fingerprint
    * staleness semantics cover the non-text artifacts ([[IvfIndex]]).
    * Use the SAME rendering at stamp time (`Target.snapshot`) and probe
    * time (`freshAgainst`). */
  def embeddingSnapshot(embeddings: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol).as("doc_id"),
      concat_ws(",", col(vecCol).cast("array<string>")).as("text"))

  private val StampFile = "provenance.json"
  private def snapshotPath(dir: String) = s"$dir/provenance_snapshot"

  /** The pipeline name provenance events are recorded under. */
  val ActivityPipeline = "artifact-build"

  /** Record who built this artifact: `provenance.json` in the artifact
    * directory plus, when `governance` is attached, one activity event
    * under the corpus dataset (pipeline [[ActivityPipeline]], operation
    * `"<operation>:<kind>"`, context carrying the artifact dir). Call
    * after the artifact's own build/merge/append wrote its data — the
    * stamp describes what exists on disk. */
  def stamp(spark: SparkSession, dir: String, artifactKind: String,
            datasetId: String, datasetVersion: String,
            operation: String = "build",
            governance: Option[GovernanceBackend] = None): Provenance = {
    require(artifactKind.nonEmpty && datasetId.nonEmpty && datasetVersion.nonEmpty,
      "artifactKind, datasetId and datasetVersion are all required — a blank " +
        "stamp is exactly the undetectable-staleness gap provenance closes")
    val p = Provenance(artifactKind, datasetId, datasetVersion, operation,
      System.currentTimeMillis())
    ArtifactMeta.write(spark, dir, StampFile, p)
    governance.foreach(_.recordActivity(
      pipeline = ActivityPipeline,
      operation = s"$operation:$artifactKind",
      datasetId = datasetId,
      datasetVersion = datasetVersion,
      // the "contract" of an artifact build is the artifact itself: the
      // activity record's contract slot names the kind so the audit view
      // reads "corpus X vN was read by artifact-build of <kind>"
      contract = graft.contracts.Contract(id = s"graft.artifact.$artifactKind",
        version = "1.0.0"),
      context = Map("artifactDir" -> dir)))
    p
  }

  /** The stamped provenance, `None` for artifacts that predate stamping
    * (additive — nothing refuses to load on a missing stamp; staleness
    * guards use [[requireFresh]] explicitly). A corrupt or
    * partially-written stamp (a kill between create and close) also
    * reads `None` rather than poisoning every subsequent load with a
    * parse exception — re-stamp to repair. Filesystem failures
    * (DFS outage, permission denied) still PROPAGATE: an infrastructure
    * error must not read as "no provenance recorded". */
  def read(spark: SparkSession, dir: String): Option[Provenance] =
    // ArtifactMeta rejects a missing, unparseable or incomplete stamp
    // with an IllegalArgumentException; content CORRUPTION (a torn write
    // fails the filesystem's checksum before we ever see bytes) degrades
    // like a parse failure, and a file deleted between exists and open
    // (a concurrent re-stamp's delete-then-create window) is by
    // definition "no provenance recorded"; other I/O errors (outage,
    // permission) throw through
    try Some(ArtifactMeta.readAs[Provenance](spark, dir, StampFile))
    catch {
      case _: IllegalArgumentException | _: org.apache.hadoop.fs.ChecksumException |
           _: java.io.FileNotFoundException => None
    }

  /** [[stamp]] plus the corpus content snapshot the staleness check
    * diffs against: one `(doc_id, fingerprint)` row per corpus document
    * — the [[Curate.snapshotDiff]] comparison set, persisted. */
  def stampWithSnapshot(spark: SparkSession, dir: String, artifactKind: String,
                        datasetId: String, datasetVersion: String,
                        corpus: DataFrame,
                        operation: String = "build",
                        governance: Option[GovernanceBackend] = None,
                        idCol: String = "doc_id", textCol: String = "text",
                        numFiles: Int = 8): Provenance = {
    // validate BEFORE the distributed snapshot job: a rejected stamp
    // must not burn a corpus pass and leave an orphaned snapshot a
    // later staleCount would happily read as stamped
    require(artifactKind.nonEmpty && datasetId.nonEmpty && datasetVersion.nonEmpty,
      "artifactKind, datasetId and datasetVersion are all required — a blank " +
        "stamp is exactly the undetectable-staleness gap provenance closes")
    corpus.select(col(idCol).as("doc_id"),
        TextOps.fingerprintCol(col(textCol)).as("fingerprint"))
      .repartition(numFiles)
      .write.mode("overwrite").parquet(snapshotPath(dir))
    stamp(spark, dir, artifactKind, datasetId, datasetVersion, operation, governance)
  }

  /** How many documents changed between the corpus the artifact was
    * stamped from and `currentDocs`: added + removed + content-changed,
    * by the same fingerprint semantics as [[Curate.snapshotDiff]].
    * Requires a [[stampWithSnapshot]] stamp (loud otherwise — a
    * staleness check against nothing would read as "fresh"). */
  def staleCount(spark: SparkSession, dir: String, currentDocs: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text"): Long = {
    val snapPath = new org.apache.hadoop.fs.Path(snapshotPath(dir))
    val fs = snapPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(snapPath),
      s"no provenance snapshot under $dir — stamp the artifact with " +
        "stampWithSnapshot to enable staleness checks")
    val old = Sources.parquet(spark, snapshotPath(dir))
      .withColumnRenamed("fingerprint", "_ap_old")
    val cur = currentDocs.select(col(idCol).as("doc_id"),
      TextOps.fingerprintCol(col(textCol)).as("_ap_new"))
    old.join(cur, Seq("doc_id"), "full_outer")
      .filter(col("_ap_old").isNull || col("_ap_new").isNull ||
        col("_ap_old") =!= col("_ap_new"))
      .count()
  }

  /** Probe-time freshness guard: loud when more than `maxChanged`
    * documents differ from the stamped corpus — the stale-artifact
    * failure mode surfaced as an error instead of silent under-cleaning. */
  def requireFresh(spark: SparkSession, dir: String, currentDocs: DataFrame,
                   maxChanged: Long = 0,
                   idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val changed = staleCount(spark, dir, currentDocs, idCol, textCol)
    require(changed <= maxChanged, {
      val prov = read(spark, dir)
        .map(p => s"${p.artifactKind} built from ${p.datasetId}:${p.datasetVersion}")
        .getOrElse("unstamped artifact")
      s"stale artifact under $dir ($prov): $changed documents differ from " +
        s"the stamped corpus (allowed $maxChanged) — rebuild or merge the " +
        "artifact before probing"
    })
  }
}
