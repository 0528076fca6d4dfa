package graft.ops

import org.apache.spark.sql.DataFrame

/** Scale-gated fan-out for CPU-dense map work over SMALL inputs.
  *
  * The corpus operators (tokenisation, char-n-gram hashing, regex
  * batteries, shingling) are compute-bound per row, not byte-bound — and
  * a small parquet table arrives as ONE scan task regardless of
  * `spark.sql.files.*`: split sizing is byte-range based, but a parquet
  * ROW GROUP is unsplittable, so a single-row-group file pins the whole
  * map stage to one core (measured at sf0.1: the lang-ID inference pass
  * ran 4.5× faster once fanned across local[32]).
  *
  * [[fan]] repartitions such an input round-robin across
  * `defaultParallelism` — but ONLY when the optimizer's size estimate for
  * the frame is at most [[MaxInputBytes]] (256 MiB), so the fan-out is a
  * bounded micro-shuffle by construction: at 100 TB the estimate is far
  * over the ceiling and the operator keeps its zero-extra-shuffle shape
  * (the natural scan parallelism of a large input already feeds every
  * core). Streaming
  * frames pass through untouched (micro-batch sources size their own
  * partitions; the batch-only estimate below is not defined for them).
  *
  * Row-order neutrality: every graft operator is row-order-independent
  * by the determinism contract (exact decimal/integer aggregation,
  * order-independent hashes), and `spark.sql.execution.sortBeforeRepartition`
  * (default on) keeps the round-robin assignment stable under task
  * retries, so fanning cannot change any gated result. */
object Parallel {

  /** The fan-out input-size ceiling: a 256 MiB round-robin shuffle is
    * one or two seconds of network on any realistic deployment —
    * negligible next to the CPU-dense map work it parallelises, and
    * small enough that crossing it means the scan already has real
    * split parallelism. */
  val MaxInputBytes: Long = 256L * 1024 * 1024

  /** Fan `df` across the cluster when it is provably small (optimizer
    * size estimate ≤ [[MaxInputBytes]]); identity otherwise.
    *
    * The estimate-trust assumption: the gate reads the OPTIMIZED plan's
    * `sizeInBytes`, which for a bare scan is the file size; a derived
    * plan's basic (non-CBO) estimate can under-count after selective
    * filters, but a >256 MiB frame mis-estimated under the ceiling costs
    * one bounded round-robin pass. */
  def fan(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (p <= 1) return df
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= MaxInputBytes) df.repartition(p) else df
  }
}
