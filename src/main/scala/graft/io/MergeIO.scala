package graft.io

import graft.contracts.Contract
import graft.strategies.{NoOpStrategy, ViolationStrategy}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Governed merge/upsert writes — the Spark-native counterpart of the
  * reference's Delta `merge_with_governance` (`spark/io/merge.py:127`).
  *
  * Without a transactional table format, an upsert is a snapshot rewrite:
  * keep target rows whose key is absent from the source (left_anti), union
  * the validated+aligned source, write to a staging directory, then swap
  * directories. The join is key-partitioned (one shuffle each side); at
  * 100 TB the same code runs against a partitioned layout where only the
  * touched partitions need rewriting — or against Delta's MERGE, which
  * this call-shape maps onto 1:1.
  */
object MergeIO {

  def upsert(
      df: DataFrame,
      path: String,
      contract: Contract,
      keys: Seq[String],
      format: String = "parquet",
      strategy: ViolationStrategy = NoOpStrategy,
      autoCast: Boolean = true
  ): WriteResult = {
    require(keys.nonEmpty, "merge keys must not be empty")
    val spark = df.sparkSession
    // validate the input frame (pre-align): write()'s pre-scan path
    val (validation, aligned, plan) = ContractIO.prescan(df, contract, strategy, autoCast)
    // Split-style plans route their valid subset (by the strategy's OWN
    // suffix) into the merge; when no mergeable subset exists (e.g.
    // includeValid=false) nothing reaches the target. Other subsets land
    // as SIBLINGS of the target (`<path>_<suffix>`, append so quarantine
    // accumulates across upserts) — never inside it, which the snapshot
    // swap would destroy. Note: the plain write path uses `<path>/<suffix>`;
    // merge cannot, because the target directory is fully rewritten.
    val validSuffix = strategy match {
      case s: graft.strategies.SplitStrategy => s.validSuffix
      case _ => "valid"
    }
    val validReq = plan.additional.find(_.pathSuffix.contains(validSuffix))
    val source = plan.primary.map(_.df)
      .orElse(validReq.map(_.df))
      .getOrElse(if (plan.additional.nonEmpty) aligned.limit(0) else aligned)

    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverIfCrashed(fs, path)

    val target = new Path(path)
    val merged =
      if (fs.exists(target)) {
        val existing = Sources.reader(spark, format).load(path)
        existing.join(source.select(keys.map(org.apache.spark.sql.functions.col): _*).distinct(),
            keys, "left_anti")
          .unionByName(source)
      } else source

    swapInto(fs, path, format, merged)

    // side-writes (quarantine etc.) run AFTER the swap succeeds: a failed
    // merge must not have already appended to the reject datasets
    val sideWrites = Seq.newBuilder[String]
    val sideWarnings = Seq.newBuilder[String]
    plan.additional.filterNot(r => validReq.exists(_ eq r)).foreach { req =>
      val side = path.stripSuffix("/") + "_" + req.pathSuffix.getOrElse("additional")
      req.df.write.format(format).mode("append").save(side)
      sideWrites += side
      sideWarnings ++= req.warnings
    }
    sideWarnings ++= validReq.toSeq.flatMap(_.warnings)

    WriteResult(validation, path +: sideWrites.result(),
      validation.warnings ++ plan.primary.toSeq.flatMap(_.warnings) ++ sideWarnings.result())
  }

  import org.apache.spark.sql.functions._

  /** Crash recovery: a previous swap that died between rename(target →
    * __old) and rename(__staging → target) left the dataset only under
    * __old — restore it before reading, so readers (and the next merge)
    * see the last complete snapshot instead of nothing. */
  private def recoverIfCrashed(fs: org.apache.hadoop.fs.FileSystem,
                               path: String): Unit = {
    val target = new Path(path)
    val retired = new Path(path.stripSuffix("/") + "__old")
    if (fs.exists(retired) && !fs.exists(target))
      Staging.renameOrFail(fs, retired, target, "crash recovery")
  }

  /** Snapshot swap: write staging, move old aside, promote, drop old —
    * __old stays intact until the promote succeeds. */
  private def swapInto(fs: org.apache.hadoop.fs.FileSystem, path: String,
                       format: String, frame: DataFrame): Unit = {
    val target = new Path(path)
    val staging = new Path(path.stripSuffix("/") + "__staging")
    val retired = new Path(path.stripSuffix("/") + "__old")
    frame.write.format(format).mode("overwrite").save(staging.toString)
    if (fs.exists(retired)) fs.delete(retired, true)
    if (fs.exists(target)) Staging.renameOrFail(fs, target, retired, "retiring current snapshot")
    Staging.renameOrFail(fs, staging, target, "promoting staged snapshot")
    if (fs.exists(retired)) fs.delete(retired, true)
  }

  /** SCD2 history maintained ON DISK: fold `snapshot` into the history
    * at `path` — [[scd2Init]] on first use, [[scd2Apply]] after — and
    * land the result with the same crash-safe snapshot swap as
    * [[upsert]] (a failed promote leaves the previous history under
    * `__old`, recovered on the next call). At 100 TB the same call
    * shape maps onto a partitioned rewrite of touched partitions or a
    * Delta MERGE; the history frame is one row per VERSION, orders of
    * magnitude smaller than the event stream it summarises. */
  def scd2Upsert(spark: org.apache.spark.sql.SparkSession, path: String,
                 snapshot: DataFrame, keyCols: Seq[String],
                 attrCols: Seq[String], asOf: java.sql.Timestamp,
                 closeMissing: Boolean = false,
                 format: String = "parquet"): Unit = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverIfCrashed(fs, path)
    val next =
      if (fs.exists(new Path(path))) {
        val history = Sources.reader(spark, format).load(path)
        // the lazy plan reads the files the swap will delete — break
        // the lineage before overwriting
        val materialized = history.localCheckpoint(true)
        scd2Apply(materialized, snapshot, keyCols, attrCols, asOf, closeMissing)
      } else scd2Init(snapshot, keyCols, attrCols, asOf)
    swapInto(fs, path, format, next)
  }

  /** Bootstrap an SCD2 history from the first snapshot: every row opens
    * version 1 at `asOf`. Schema: keys ++ attrs ++ (valid_from,
    * valid_to, version, is_current) — the same shape
    * [[graft.analytics.Analytics.scd2]] derives from an event stream. */
  def scd2Init(snapshot: DataFrame, keyCols: Seq[String],
               attrCols: Seq[String], asOf: java.sql.Timestamp): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty, "keys and attrs required")
    snapshot.select((keyCols ++ attrCols).map(col): _*)
      .withColumn("valid_from", lit(asOf))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("version", lit(1L))
      .withColumn("is_current", lit(true))
  }

  /** SCD2 MERGE: fold a new dimension snapshot into an existing history
    * — the WRITE-side companion of the read-side
    * [[graft.analytics.Analytics.scd2]] derivation. Per key:
    * changed attributes (null-safe struct compare) close the current
    * version at `asOf` and open version+1; unchanged keys carry their
    * open row; unseen keys insert version 1; keys MISSING from the
    * snapshot close at `asOf` when `closeMissing` (soft delete) and
    * carry otherwise. Closed history rows pass through untouched.
    *
    * Pure transform: returns the new history frame — land it with the
    * snapshot-swap [[upsert]] machinery, a partitioned rewrite, or a
    * Delta MERGE (this call shape maps 1:1). Scale shape: one key-hash
    * full-outer join of the CURRENT rows against the snapshot (both
    * one-row-per-key), plus the untouched closed history union — no
    * window, nothing corpus-ordered. Applying snapshots in sequence is
    * spec-pinned EQUAL to the batch `scd2` derivation over the
    * equivalent event stream. */
  def scd2Apply(history: DataFrame, snapshot: DataFrame, keyCols: Seq[String],
                attrCols: Seq[String], asOf: java.sql.Timestamp,
                closeMissing: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty, "keys and attrs required")
    val histCols = keyCols ++ attrCols ++
      Seq("valid_from", "valid_to", "version", "is_current")
    val closed = history.filter(!col("is_current")).select(histCols.map(col): _*)
    val cur = history.filter(col("is_current")).select(histCols.map(col): _*)
    val snap = snapshot.select(
      keyCols.map(col) ++ attrCols.map(c => col(c).as(s"_new_$c")): _*)
    val j = cur.withColumn("_has_cur", lit(true))
      .join(snap.withColumn("_has_new", lit(true)), keyCols, "full_outer")
    val sameAttrs = struct(attrCols.map(col): _*) <=>
      struct(attrCols.map(c => col(s"_new_$c")): _*)
    val hasCur = col("_has_cur").isNotNull
    val hasNew = col("_has_new").isNotNull
    // the carried/closed flavour of an existing current row
    val curRow = j.filter(hasCur).select(
      (keyCols.map(col) ++ attrCols.map(col) ++ Seq(
        col("valid_from"),
        when(hasNew && !sameAttrs, lit(asOf))
          .when(!hasNew && lit(closeMissing), lit(asOf))
          .otherwise(col("valid_to")).as("valid_to"),
        col("version"),
        (!(hasNew && !sameAttrs) && !(!hasNew && lit(closeMissing)))
          .as("is_current"))): _*)
    // freshly opened rows continue from max(version) over ALL history —
    // not just the current row: a key soft-closed by closeMissing that
    // reappears has no current row but must NOT restart at version 1,
    // or the history carries duplicate (key, version) pairs. One extra
    // key-hash aggregation over history (one row per key out), joined
    // key-hash onto the opened side — same shuffle key as `j`.
    val maxVer = history.groupBy(keyCols.map(col): _*)
      .agg(max(col("version")).as("_prev_version"))
    val opened = j.filter(hasNew && (!hasCur || !sameAttrs))
      .select(keyCols.map(col) ++ attrCols.map(c => col(s"_new_$c").as(c)): _*)
      .join(maxVer, keyCols, "left")
      .select((keyCols.map(col) ++ attrCols.map(col) ++ Seq(
        lit(asOf).as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        (coalesce(col("_prev_version"), lit(0L)) + lit(1L)).as("version"),
        lit(true).as("is_current"))): _*)
    closed.unionByName(curRow).unionByName(opened)
  }
}
