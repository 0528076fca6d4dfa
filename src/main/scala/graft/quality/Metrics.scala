package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Expectation metrics as one aggregate.
  *
  * The reference (dc43 `spark/data_quality.py:98-196`) issues one Spark job
  * per expectation (`df.filter(NOT pred).count()` each, plus
  * `distinct().count()` per unique column, plus a bare `count()`): at N
  * expectations that is N+1 full scans of the dataset. Here every predicate
  * violation is a per-row 0/1 flag and every uniqueness check a
  * `count - count_distinct - has_null` delta, all in ONE aggregate, so
  * contract size never adds a scan.
  *
  * The driver-side maps ([[compute]], [[computeWithObservations]],
  * [[computeWithQueries]]) observe that aggregate with `Dataset.observe` on
  * a `noop`-sink action: observed metrics merge per-task partials on the
  * driver, so no `SinglePartition` exchange (and no job of its own under
  * AQE) is needed. Jobs per metric pre-scan:
  *   - 1 without `unique` rules;
  *   - 2 with any number of them: the frame is grouped once by the unique
  *     key(s) (one shuffle over a (rule index, typed key) expansion, the
  *     shape of Spark's distinct-aggregate rewrite) and the observed
  *     aggregate over the groups yields `Σ(n − 1)` per key — exactly
  *     `count − countDistinct − hasNull`, since NULL keys form one group;
  *   - 0 of their own when the metrics ride a governed write
  *     ([[observedForWrite]]): every NoOp or Flag write, and every Split
  *     or Strict write that stages (`graft.io.ContractIO`); each present
  *     unique key adds one shuffle stage inside the write.
  * The observed aggregate always sits in the result stage: accumulator
  * updates of a re-executed shuffle-map stage may be applied twice.
  */
object Metrics {

  /** What one countable spec measures. */
  private sealed trait Measure
  /** `flag` is 1 on a violating row, else 0. */
  private final case class Flagged(name: String, flag: Column) extends Measure
  /** The spec's column is absent: every row violates (reference semantics). */
  private final case class EveryRow(name: String) extends Measure
  /** Rows beyond the first per distinct `key`, NULL being one value. */
  private final case class UniqueKey(name: String, key: Column) extends Measure

  private def measures(specs: Seq[ExpectationSpec], columns: Set[String]): Seq[Measure] =
    specs.flatMap { spec =>
      val name = s"violations.${spec.key}"
      spec.rule match {
        case "query" => None
        case "unique" =>
          spec.column.map(c => if (columns.contains(c)) UniqueKey(name, Expectations.qcol(c)) else EveryRow(name))
        case _ =>
          Expectations.passPredicate(spec).map { pred =>
            spec.column match {
              case Some(c) if !columns.contains(c) => EveryRow(name)
              // when(!pred) is NULL for NULL inputs → otherwise(0): null values
              // do not count as threshold/enum/regex violations, matching the
              // reference's `filter(NOT (pred)).count()` semantics.
              case _ => Flagged(name, when(!pred, 1L).otherwise(0L))
            }
          }
      }
    }

  /** Aggregate expressions for the metric set: `row_count` plus one
    * `violations.<key>` per countable spec, over the rows of the frame.
    * Usable in `df.agg` and, without present `unique` columns (count
    * distinct cannot be observed), in `Dataset.observe`. */
  def aggregateExprs(specs: Seq[ExpectationSpec], columns: Set[String]): Seq[Column] =
    // total - distinct, where NULL counts as one distinct value
    // (matches reference `total - df.select(c).distinct().count()`)
    rowExprs(measures(specs, columns), (_, key) =>
      count(lit(1)) - countDistinct(key) - max(when(key.isNull, 1L).otherwise(0L)))

  /** `row_count` plus one `violations.<key>` per measure over the rows of
    * a frame, `unique(name, key)` giving a unique measure's count. */
  private def rowExprs(ms: Seq[Measure], unique: (String, Column) => Column): Seq[Column] =
    count(lit(1)).as("row_count") +: ms.map {
      case Flagged(name, flag) => sum(flag).as(name)
      case EveryRow(name) => count(lit(1)).as(name)
      case UniqueKey(name, key) => unique(name, key).as(name)
    }

  /** `df` observed into `obs` with the metrics of [[compute]], for a
    * write to carry them: the same `row_count` and `violations.*` values,
    * read off the rows the write passes. A unique rule cannot be observed
    * as a count distinct, so each present unique key adds a per-row
    * marker, `row_number() over (partition by key) > 1`, whose sum is
    * `count − countDistinct − hasNull` (NULL keys form one partition).
    * Each marker is one shuffle by its key inside the write's plan; the
    * observation sits above them, in the result stage. The markers are
    * dropped again: the returned frame has `df`'s columns. */
  def observedForWrite(df: DataFrame, specs: Seq[ExpectationSpec], obs: Observation): DataFrame = {
    val ms = measures(specs, df.columns.toSet)
    val keys = ms.collect { case UniqueKey(name, key) => name -> key }
    val markOf = keys.map(_._1).zipWithIndex.map { case (name, i) => name -> s"_graft_dup$i" }.toMap
    val marked = keys.foldLeft(df) { case (d, (name, key)) =>
      d.withColumn(markOf(name), when(row_number().over(Window.partitionBy(key).orderBy(key)) > 1, 1L).otherwise(0L))
    }
    val exprs = rowExprs(ms, (name, _) => sum(col(markOf(name))))
    marked.observe(obs, exprs.head, exprs.tail: _*).drop(markOf.values.toSeq: _*)
  }

  /** Per enum spec on a present column: the row's value as a string when
    * it is outside the allowed set, else NULL. */
  private def enumViolations(specs: Seq[ExpectationSpec], columns: Set[String]): Seq[(String, Column)] =
    specs.filter(s => s.rule == "enum" && s.column.exists(columns.contains))
      .flatMap { spec =>
        Expectations.passPredicate(spec).map { pred =>
          s"observed.${spec.key}" -> when(!pred, Expectations.qcol(spec.column.get).cast("string"))
        }
      }

  private def sortedCapped(values: Column, cap: Int): Column =
    slice(array_sort(collect_set(values)), 1, cap)

  /** Observed-value aggregates for enum specs: per spec a capped, SORTED
    * array of distinct values seen outside the allowed set, keyed
    * `observed.<spec key>` (so `observed.enum_<field>`). This is what the
    * reference's drafting layer reads to EXTEND an enum with newly-observed
    * values instead of dropping it (`contracts/backend/drafting.py:158-201`
    * reads `observed.enum_<field>` off the validation metrics).
    *
    * Values ride the same aggregate as the violation counts. Sorting makes
    * the payload deterministic across partitioning (a bare `collect_set`
    * is arrival-ordered); `cap` bounds what reaches the driver. The
    * aggregation state itself is bounded by the column's distinct
    * VIOLATING values — fine for the categorical columns enum rules
    * describe; don't point an enum rule at a free-text column. */
  def observedEnumExprs(specs: Seq[ExpectationSpec], columns: Set[String],
                        cap: Int = 32): Seq[Column] =
    enumViolations(specs, columns).map { case (name, v) => sortedCapped(v, cap).as(name) }

  // column names of the frame the metrics are observed on
  private val SetCol = "_graft_set"
  private val RowsCol = "_graft_n"
  private def flagCol(i: Int) = s"_graft_f$i"
  private def slotCol(i: Int) = s"_graft_k$i"

  /** The frame the metrics are observed on and the observed aggregate.
    *
    * Each row of that frame stands for `_graft_n` input rows of one set
    * (`_graft_set`) and carries the summed violation flags (set 0 only)
    * and one value slot per set. Without present unique columns it is a
    * projection of the input: set 0, one row each, every enum value in
    * its slot. With them it is the input grouped by (set, slots), where
    * set 0 groups by the first unique key and every further unique key
    * and enum value is an extra set whose rows fill only its own slot —
    * so the groups of set `i` are exactly the distinct values of slot `i`,
    * NULL included. The frame only projects what the metrics read, so a
    * columnar scan stays pruned. */
  private def observedPlan(df: DataFrame, specs: Seq[ExpectationSpec],
                           observedCap: Option[Int]): (DataFrame, Seq[Column]) = {
    val columns = df.columns.toSet
    val ms = measures(specs, columns)
    val flags = ms.collect { case Flagged(_, flag) => flag }
    val keys = ms.collect { case UniqueKey(_, key) => key }
    val enums = observedCap.fold(Seq.empty[(String, Column)])(_ => enumViolations(specs, columns))
    val slots = keys ++ enums.map(_._2)
    lazy val types = df.select(slots: _*).schema.map(_.dataType)
    def set(s: Int, fills: Int => Boolean): Seq[Column] =
      Seq(lit(s).as(SetCol), lit(1L).as(RowsCol)) ++
        flags.zipWithIndex.map { case (f, i) => (if (s == 0) f else lit(0L)).as(flagCol(i)) } ++
        slots.zipWithIndex.map { case (v, i) => (if (fills(i)) v else lit(null).cast(types(i))).as(slotCol(i)) }
    val sets = if (keys.isEmpty) Seq(set(0, _ => true)) else slots.indices.map(s => set(s, _ == s))
    val rows = sets match {
      case Seq(only) => df.select(only: _*)
      case _ => df.select(explode(array(sets.map(s => struct(s: _*)): _*)).as("_graft_r")).select("_graft_r.*")
    }
    val summed = (RowsCol +: flags.indices.map(flagCol)).map(c => sum(c).as(c))
    val frame =
      if (keys.isEmpty) rows
      else rows.groupBy(col(SetCol) +: slots.indices.map(i => col(slotCol(i))): _*).agg(summed.head, summed.tail: _*)
    val flagIndex = ms.collect { case m: Flagged => m.name }.zipWithIndex.toMap
    val setIndex = ms.collect { case m: UniqueKey => m.name }.zipWithIndex.toMap
    val rowCount = sum(when(col(SetCol) === 0, col(RowsCol)))
    val metricExprs = ms.map {
      case Flagged(name, _) => sum(col(flagCol(flagIndex(name)))).as(name)
      case EveryRow(name) => rowCount.as(name)
      case UniqueKey(name, _) => sum(when(col(SetCol) === setIndex(name), col(RowsCol) - 1)).as(name)
    }
    val enumExprs = enums.zipWithIndex.map { case ((name, _), e) =>
      sortedCapped(col(slotCol(keys.size + e)), observedCap.get).as(name)
    }
    (frame, (rowCount.as("row_count") +: metricExprs) ++ enumExprs)
  }

  /** `row_count` + all violation counts. Specs whose column is missing
    * from `df` count every row as violating, mirroring the reference. */
  def compute(df: DataFrame, specs: Seq[ExpectationSpec]): Map[String, Long] =
    observe(df, specs, None).collect { case (k, n: Long) => k -> n }

  /** [[compute]] plus enum observations, in the same jobs. Violation counts
    * come back as `Long`, observations as `Seq[String]` under
    * `observed.enum_<field>` (only present when non-empty, matching the
    * reference's "no observations → no extension" contract). */
  def computeWithObservations(df: DataFrame, specs: Seq[ExpectationSpec],
                              observedCap: Int = 32): Map[String, Any] =
    observe(df, specs, Some(observedCap))

  /** The one metric action: observe [[observedPlan]]'s aggregate on a
    * `noop`-sink write of its frame. */
  private def observe(df: DataFrame, specs: Seq[ExpectationSpec], observedCap: Option[Int]): Map[String, Any] = {
    val (frame, exprs) = observedPlan(df, specs, observedCap)
    val obs = Observation("graft_dq_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    frame.observe(obs, exprs.head, exprs.tail: _*).write.format("noop").mode("overwrite").save()
    metricMap(obs.get)
  }

  /** Observed metric values as the verdict reads them: counts as `Long`
    * (NULL sums of empty input as 0), `observed.*` payloads as their
    * non-null values, dropped when empty. */
  private[graft] def metricMap(observed: Map[String, Any]): Map[String, Any] =
    observed.flatMap {
      case (k, v) if k.startsWith("observed.") =>
        val vs = Option(v).toSeq.flatMap(_.asInstanceOf[Seq[String]]).filter(_ != null)
        if (vs.isEmpty) None else Some(k -> vs)
      case (k, n: Number) => Some(k -> n.longValue)
      case (k, _) => Some(k -> 0L)
    }

  /** Canonical dataset alias that `query` rules reference in their SQL. */
  val QueryViewAlias = "_graft_dq_tmp"

  /** Compute standard metrics plus object-level `query` rules: custom SQL
    * referencing [[QueryViewAlias]], scalar result recorded under the rule
    * key (reference `data_quality.py:161-196`). The alias is rewritten to
    * a per-call unique temp view so concurrent validations on one
    * SparkSession cannot collide. */
  def computeWithQueries(
      df: DataFrame,
      specs: Seq[ExpectationSpec],
      spark: SparkSession
  ): Map[String, Any] = compute(df, specs) ++ queryMetrics(df, specs, spark)

  /** The `query` rules' metrics alone: each rule's SQL over `df`, one
    * action per rule. Empty, and no view registered, without such rules. */
  def queryMetrics(df: DataFrame, specs: Seq[ExpectationSpec], spark: SparkSession): Map[String, Any] = {
    val querySpecs = specs.filter(s => s.rule == "query" && s.query.isDefined)
    if (querySpecs.isEmpty) return Map.empty
    val view = "graft_dq_" + java.util.UUID.randomUUID().toString.replace("-", "")
    df.createOrReplaceTempView(view)
    try {
      querySpecs.flatMap { s =>
        val rows = spark.sql(s.query.get.replace(QueryViewAlias, view)).collect()
        rows.headOption.flatMap(r => Option(r.get(0))).collect {
          case n: Number => s.key -> (n: Any)
        }
      }.toMap
    } finally spark.catalog.dropTempView(view)
  }

  /** The same violation metrics as a one-row DataFrame (distributed end to
    * end; nothing but the verdict row reaches the driver). Metric column
    * names use `_` instead of `.` so results stay SQL-addressable. */
  def computeAsDataFrame(df: DataFrame, specs: Seq[ExpectationSpec]): DataFrame = {
    val columns = df.columns.toSet
    val exprs = aggregateExprs(specs, columns)
    val out = df.agg(exprs.head, exprs.tail: _*)
    out.columns.foldLeft(out)((acc, c) => acc.withColumnRenamed(c, c.replace(".", "_")))
  }
}
