package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** persist() exactly once per canonical plan. Operators that cache an
  * intermediate internally (gram streams, model counts, hot-key sets)
  * get re-built plan-for-plan when a caller runs the same query twice in
  * one session — a benchmark's timed iterations, a pipeline reusing an
  * operator — and a bare `.persist()` then hits CacheManager's
  * canonicalized-plan match and warns `Asked to cache already cached
  * data` on every rebuild, burying real warnings. `Dataset.storageLevel`
  * performs the same canonical lookup, so guarding on it is exact. */
object Caching {
  /** Cache `df` unless an equivalent plan already is, then eagerly
    * materialise the cache (construction-time job); returns `df`. */
  def ensureCached(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) { df.persist(); df.count() }
    df
  }

  /** Lazy variant: mark for caching without materialising. */
  def ensureCachedLazy(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) df.persist()
    df
  }

  /** Cache EVERY frame and materialise them all in ONE job: each frame
    * is persist()-marked, then a union of constant projections over the
    * marked frames is counted — scanning an InMemoryTableScan builds its
    * full cached batches regardless of requested columns, so one action
    * populates every cache. N separate `ensureCached` calls pay N job
    * submissions (~0.2 s each at bench scale) for the same result; the
    * union's branches may also run concurrently where sequential jobs
    * cannot. Frames whose inputs are themselves lazily cached should NOT
    * go through here (concurrent branches would race to compute the
    * shared input) — materialise shared inputs first ([[ensureCached]]). */
  def ensureCachedAll(dfs: Seq[DataFrame]): Unit = {
    import org.apache.spark.sql.functions.lit
    // dedupe by canonicalized plan: two equivalent frames in `dfs` both
    // read storageLevel NONE here (neither is persisted yet), and
    // persisting the second would hit CacheManager's "already cached"
    // warning the header of this file exists to avoid
    val fresh = dfs.filter(_.storageLevel == StorageLevel.NONE)
      .distinctBy(_.queryExecution.analyzed.canonicalized)
    if (fresh.isEmpty) return
    fresh.foreach(_.persist())
    fresh.map(_.select(lit(1).as("_m"))).reduce(_ union _).count()
  }

  /** Per-round materialisation for iterative operators: reliable
    * checkpoint when the session has a checkpoint dir configured
    * (recomputable across executor loss — the right mode on a real
    * cluster), executor-local localCheckpoint otherwise (fine in local
    * mode, where executor loss is process death). Either way the
    * returned frame's LINEAGE IS TRUNCATED — the logical plan of round
    * k is one scan of round k's data, not k nested joins — so analyzer/
    * optimizer time stays flat and a lost executor recomputes one
    * round, not the whole chain. Reliable checkpoint FILES are only
    * garbage-collected when
    * spark.cleaner.referenceTracking.cleanCheckpoints=true — set it (or
    * point the checkpoint dir at job-scoped storage) on deployments
    * that iterate repeatedly. */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Rolling checkpoint window for iterative loops: rounds inside the
    * window are lazily cached (pipelined into the next action, zero
    * extra jobs — the cheap path that dominates small iteration
    * budgets); every `every` rounds the frame is eagerly checkpointed
    * ([[materialize]] — lineage truncated) and everything it supersedes
    * is released (cached rounds unpersist, the previous checkpoint's
    * RDD blocks drop). Lineage depth and live storage are both bounded
    * by the window length at ANY iteration count, while a 5-round gated
    * query with `every = 8` pays nothing it didn't already pay.
    * `every = 1` degenerates to checkpoint-per-round. */
  final class CheckpointWindow(every: Int) {
    require(every >= 1, "checkpoint interval must be >= 1")
    private var sinceCp = 0
    private var cached = List.empty[DataFrame]
    private var lastCp: DataFrame = null
    def advance(next: DataFrame): DataFrame = {
      sinceCp += 1
      if (sinceCp >= every) {
        val cp = materialize(next) // computes through `cached`
        cached.foreach(_.unpersist(false))
        cached = Nil
        if (lastCp ne null) releaseMaterialized(lastCp)
        lastCp = cp
        sinceCp = 0
        cp
      } else {
        val c = ensureCachedLazy(next)
        cached ::= c
        c
      }
    }

    /** Release the trailing lazily-cached rounds accumulated since the
      * last checkpoint — call after the loop ends, or up to `every - 1`
      * cached frames linger until the ContextCleaner gets to them.
      * `keep` (normally the frame the caller returns) survives with its
      * cache intact; pass null when nothing outlives the loop. The last
      * checkpoint is deliberately NOT released here: `keep`'s lineage
      * may be truncated AT it (a localCheckpoint cannot be recomputed),
      * and [[advance]] already releases superseded checkpoints —
      * at most one remains, bounded, reclaimed by the cleaner. */
    def release(keep: DataFrame): Unit = {
      cached.filterNot(_ eq keep).foreach(_.unpersist(false))
      cached = if ((keep ne null) && cached.exists(_ eq keep)) List(keep) else Nil
    }
  }

  /** Deterministically release a frame produced by [[materialize]] once
    * a LATER round has been materialised from it (never before — the
    * release drops the only copy of its data). localCheckpoint storage
    * lives on the underlying RDD, which `Dataset.unpersist` does not
    * touch (it only clears CacheManager entries), so this walks to the
    * checkpointed RDD and unpersists it directly; reliable-checkpoint
    * files are left to the cleaner config documented on [[materialize]].
    * Best-effort: an unrecognised plan shape is a no-op (the
    * ContextCleaner still reclaims blocks on GC), never an error.
    *
    * `RDD.unpersist` WARNs when the target was locally checkpointed
    * ("lineage has been truncated... can no longer be recomputed") —
    * accurate in general, but here it describes exactly the intended
    * operation: the released round is SUPERSEDED by a later checkpoint
    * and is never recomputed, so a full Verify sweep would otherwise
    * print the warning once per checkpoint-window rotation per
    * iterative gate (pure noise burying real warnings). The specific
    * logger is capped at ERROR once, on first release: `unpersist` is
    * the only code path logging through the concrete RDD class's
    * logger that this library triggers, and the cluster-mode reliable-
    * checkpoint path never takes it. */
  private lazy val silenceLocalCheckpointUnpersistWarn: Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    catch { case scala.util.control.NonFatal(_) => () }

  def releaseMaterialized(df: DataFrame): Unit =
    try df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        // unconditional: RDD.isLocallyCheckpointed is private[rdd], and
        // capping the logger is harmless on the reliable-checkpoint path
        silenceLocalCheckpointUnpersistWarn
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }
}
