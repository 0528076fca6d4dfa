package graft

import graft.analytics.Analytics
import graft.gates.Gates
import graft.gates.Shared.t
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The correctness contract — one query + DuckDB oracle per operator in
  * SURVEY.md §2, as name-keyed views over the gate registry
  * [[graft.gates.Gates.all]] (each gate's plan and oracle are defined side
  * by side there). */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Pricing(t(spark, "/root/testdata/sf0.001", "lineitem"))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.all.map(g => g.name -> g.build).toMap

  lazy val oracleSql: Map[String, String] =
    Gates.all.map(g => g.name -> g.oracle).toMap
}
