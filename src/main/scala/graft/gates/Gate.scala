package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A headline gate's bench numbers. `budget` is the raw wall-clock budget
  * in seconds (`Bench.budgetSecs` scales it by 1.25 and adds 0.1 s), `pin`
  * the settled seconds the per-query 2x gate compares against (re-based
  * only under the `Bench.pinnedSecs` policy). `baseline` marks the
  * round-5 pins, also recorded in BASELINE.json, that `vs_baseline`
  * totals over. */
final case class Pin(budget: Double, pin: Double, baseline: Boolean = false)

/** One correctness gate: the Spark plan `build` runs over a scale-factor
  * directory, the DuckDB `oracle` SQL that must return the same rows over
  * the same tables (the compare hashes values under sorted column names,
  * so column names must match), and, for a headline query, its `bench`
  * numbers. */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
                      oracle: String, bench: Option[Pin] = None)

/** The gate registry: every family's gates in one sequence, in the order
  * Verify, Bench and Profile run them. Adding a gate is one `Gate` entry in
  * its family's file. */
object Gates {
  val all: Seq[Gate] =
    GovernanceGates.gates ++ AnalyticsGates.gates ++ TextGates.gates ++
      DedupGates.gates ++ VectorGates.gates ++ WebMediaGates.gates ++
      GraphTokenizerGates.gates ++ CurationGates.gates
}
