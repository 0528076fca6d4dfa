package graft.strategies

import graft.quality.{ExpectationSpec, Expectations, ValidationResult}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Which rows of a strategy's clean-verdict primary frame a request
  * writes, unchanged: every plan is a row subset of that one frame. */
sealed trait RowSet
object RowSet {
  case object All extends RowSet
  /** Rows whose composite predicate ([[Strategies.passAll]]) is TRUE. */
  case object Passing extends RowSet
  /** Rows whose composite predicate is FALSE; NULL rows are in neither. */
  case object Failing extends RowSet
}

/** A single write produced by a strategy plan. `rows` names the subset
  * of the clean-verdict plan's primary frame that `df` holds. A staged
  * write (`graft.io.ContractIO`) stages that frame once and publishes each
  * request's `rows` from the staged files; `df` itself runs only when no
  * staged row belongs to it, or where nothing can be staged. */
final case class WriteRequest(
    df: DataFrame,
    pathSuffix: Option[String],
    rows: RowSet,
    warnings: Seq[String] = Nil
)

/** What to write given a validation outcome (reference:
  * dc43 `spark/violation_strategy.py`). */
final case class WritePlan(
    primary: Option[WriteRequest],
    additional: Seq[WriteRequest] = Nil,
    failWith: Option[String] = None
)

object Strategies {

  /** Row passes every countable expectation. SQL three-valued logic is kept
    * deliberately: a NULL predicate row lands in neither the valid nor the
    * reject subset, exactly like the reference's `filter(composite)` /
    * `filter(NOT composite)` pair. */
  def passAll(specs: Seq[ExpectationSpec]): Column =
    specs.flatMap(Expectations.passPredicate)
      .reduceOption(_ && _)
      .getOrElse(lit(true))

  /** Per-row array of failed expectation keys; null when the row is clean
    * (reference Flag strategy, `violation_strategy.py:499-522`). */
  def failedExpectationsColumn(specs: Seq[ExpectationSpec]): Column = {
    val flags = specs.flatMap { spec =>
      // when(!p) on a NULL predicate yields no flag — reference Flag strategy
      // uses the same `when(~expr, name)` three-valued behaviour.
      Expectations.passPredicate(spec).map(p => when(!p, lit(spec.key)))
    }
    if (flags.isEmpty) lit(null).cast("array<string>")
    else {
      val arr = array_compact(array(flags: _*))
      when(size(arr) > 0, arr).otherwise(lit(null).cast("array<string>"))
    }
  }

  def hasViolations(result: ValidationResult): Boolean = {
    val metricViolations = result.metrics.exists {
      case (k, v: Number) => k.startsWith("violations.") && v.longValue > 0
      case _              => false
    }
    metricViolations || result.errors.nonEmpty
  }
}

/** Plans how a validated write proceeds when violations are present. */
sealed trait ViolationStrategy {
  def plan(df: DataFrame, specs: Seq[ExpectationSpec], validation: ValidationResult): WritePlan

  /** Whether the plan's shape depends on the validation verdict. When
    * false, a governed write observes its metrics on the write of its
    * rows, whatever the contract's rules; when true, it stages the frame
    * of the clean-verdict plan once and publishes after the verdict, or
    * runs one metrics pre-scan first where it cannot stage
    * (`graft.io.ContractIO`). */
  def gatesOnVerdict: Boolean = false
}

/** Write the aligned frame as-is regardless of violations. */
case object NoOpStrategy extends ViolationStrategy {
  def plan(df: DataFrame, specs: Seq[ExpectationSpec], validation: ValidationResult): WritePlan =
    WritePlan(primary = Some(WriteRequest(df, None, RowSet.All)))
}

/** Split the frame into `<path>/valid` and `<path>/reject` subsets on the
  * composite expectation predicate when violations occur. Both subsets are
  * filters over the same aligned frame: run as planned, each is a scan of
  * its own. A governed write on a file format reads the input once
  * instead: it stages every row partitioned by the predicate and
  * publishes each request's [[RowSet]] by rename (`graft.io.ContractIO`). */
final case class SplitStrategy(
    validSuffix: String = "valid",
    rejectSuffix: String = "reject",
    includeValid: Boolean = true,
    includeReject: Boolean = true,
    writePrimaryOnViolation: Boolean = false
) extends ViolationStrategy {
  override def gatesOnVerdict: Boolean = true
  def plan(df: DataFrame, specs: Seq[ExpectationSpec], validation: ValidationResult): WritePlan = {
    val all = WriteRequest(df, None, RowSet.All)
    if (!Strategies.hasViolations(validation)) return WritePlan(Some(all))
    val pass = Strategies.passAll(specs)
    val requests = Seq.newBuilder[WriteRequest]
    if (includeValid)
      requests += WriteRequest(df.filter(pass), Some(validSuffix), RowSet.Passing,
        Seq(s"Valid subset written to dataset suffix '$validSuffix'"))
    if (includeReject)
      requests += WriteRequest(df.filter(!pass), Some(rejectSuffix), RowSet.Failing,
        Seq(s"Rejected subset written to dataset suffix '$rejectSuffix'"))
    val primary = if (writePrimaryOnViolation) Some(all) else None
    WritePlan(primary, requests.result())
  }
}

/** Keep all rows but append an array column naming each failed
  * expectation (null for clean rows). */
final case class FlagStrategy(columnName: String = "_corrupted_data") extends ViolationStrategy {
  def plan(df: DataFrame, specs: Seq[ExpectationSpec], validation: ValidationResult): WritePlan =
    WritePlan(Some(WriteRequest(
      df.withColumn(columnName, Strategies.failedExpectationsColumn(specs)), None, RowSet.All)))
}

/** Decorate another strategy and fail the run when violations persist. */
final case class StrictStrategy(
    base: ViolationStrategy = NoOpStrategy,
    failureMessage: String = "Validation recorded contract violations",
    failOnWarnings: Boolean = false
) extends ViolationStrategy {
  override def gatesOnVerdict: Boolean = true
  def plan(df: DataFrame, specs: Seq[ExpectationSpec], validation: ValidationResult): WritePlan = {
    val basePlan = base.plan(df, specs, validation)
    val violated = Strategies.hasViolations(validation) ||
      (failOnWarnings && validation.warnings.nonEmpty)
    if (violated) basePlan.copy(failWith = Some(failureMessage)) else basePlan
  }
}
