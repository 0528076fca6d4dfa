package graft
package gates

import graft.align.ApplyContract
import graft.draft.Drafter
import graft.ops.Curate
import graft.quality.{Evaluator, Expectations, Metrics, SchemaSnapshot, ValidationResult}
import graft.strategies.{FlagStrategy, SplitStrategy}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** The contract validation engine gated on its own outputs: metric pre-scans,
  * alignment, the split and flag strategies, validation, schema snapshots,
  * contract drafting and snapshot diffs. */
object GovernanceGates {

  private val lineitemSpecs = Expectations.fromContract(DemoContracts.lineitem)

  private def splitPart(s: SparkSession, dir: String, suffix: String): DataFrame = {
    val df = t(s, dir, "lineitem")
    val validation = Evaluator.validate(df, DemoContracts.lineitem)
    SplitStrategy().plan(df, lineitemSpecs, validation)
      .additional.find(_.pathSuffix.contains(suffix)).map(_.df)
      .getOrElse(df.limit(0))
  }

  /** The composite pass predicate of the lineitem demo contract, in spec
    * order — must stay in lockstep with `Expectations.fromContract`. */
  private def splitPassSql: String = Seq(
    "l_orderkey IS NOT NULL", "l_partkey IS NOT NULL", "l_suppkey IS NOT NULL",
    "l_linenumber IS NOT NULL", "l_quantity IS NOT NULL",
    "l_quantity > 5", "l_quantity <= 45",
    "l_extendedprice IS NOT NULL", "l_extendedprice < 95000",
    "l_discount >= 0.02", "l_tax <= 0.07",
    "l_returnflag IS NOT NULL", "l_returnflag IN ('A','N')",
    "regexp_matches(l_linestatus, '^[OF]$')",
    "l_shipdate IS NOT NULL").mkString(" AND ")

  private def flagRowsSql: String = Seq(
    "l_orderkey IS NULL"      -> "not_null_l_orderkey",
    "l_partkey IS NULL"       -> "not_null_l_partkey",
    "l_suppkey IS NULL"       -> "not_null_l_suppkey",
    "l_linenumber IS NULL"    -> "not_null_l_linenumber",
    "l_quantity IS NULL"      -> "not_null_l_quantity",
    "NOT (l_quantity > 5)"    -> "gt_l_quantity",
    "NOT (l_quantity <= 45)"  -> "le_l_quantity",
    "l_extendedprice IS NULL" -> "not_null_l_extendedprice",
    "NOT (l_extendedprice < 95000)" -> "lt_l_extendedprice",
    "NOT (l_discount >= 0.02)" -> "ge_l_discount",
    "NOT (l_tax <= 0.07)"     -> "le_l_tax",
    "l_returnflag IS NULL"    -> "not_null_l_returnflag",
    "NOT (l_returnflag IN ('A','N'))" -> "enum_l_returnflag",
    "NOT regexp_matches(l_linestatus, '^[OF]$')" -> "regex_l_linestatus",
    "l_shipdate IS NULL"      -> "not_null_l_shipdate"
  ).map { case (pred, key) =>
    s"SELECT l_orderkey, l_linenumber, '$key' AS failed_expectation FROM lineitem WHERE $pred"
  }.mkString("\nUNION ALL\n")

  val gates: Seq[Gate] = Seq(
    Gate("q_metrics", (s, d) =>
      Metrics.computeAsDataFrame(t(s, d, "lineitem"), lineitemSpecs),
      """SELECT
        |  CAST(count(*) AS BIGINT) AS row_count,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_orderkey",
        |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_partkey",
        |  CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_suppkey",
        |  CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_linenumber",
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_quantity",
        |  CAST(sum(CASE WHEN NOT (l_quantity > 5) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_gt_l_quantity",
        |  CAST(sum(CASE WHEN NOT (l_quantity <= 45) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_le_l_quantity",
        |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_extendedprice",
        |  CAST(sum(CASE WHEN NOT (l_extendedprice < 95000) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_lt_l_extendedprice",
        |  CAST(sum(CASE WHEN NOT (l_discount >= 0.02) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_ge_l_discount",
        |  CAST(sum(CASE WHEN NOT (l_tax <= 0.07) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_le_l_tax",
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_returnflag",
        |  CAST(sum(CASE WHEN NOT (l_returnflag IN ('A','N')) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_enum_l_returnflag",
        |  CAST(sum(CASE WHEN NOT regexp_matches(l_linestatus, '^[OF]$') THEN 1 ELSE 0 END) AS BIGINT) AS "violations_regex_l_linestatus",
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_shipdate"
        |FROM lineitem""".stripMargin,
      Some(Pin(0.66, 0.377, baseline = true))),
    Gate("q_metrics_unique", (s, d) =>
      Metrics.computeAsDataFrame(t(s, d, "orders"),
        Expectations.fromContract(DemoContracts.orders)),
      """SELECT
        |  CAST(count(*) AS BIGINT) AS row_count,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_o_orderkey",
        |  CAST(count(*) - count(DISTINCT o_orderkey) - (CASE WHEN count(o_orderkey) < count(*) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_unique_o_orderkey",
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_o_custkey",
        |  CAST(count(*) - count(DISTINCT o_custkey) - (CASE WHEN count(o_custkey) < count(*) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_unique_o_custkey",
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_o_orderstatus",
        |  CAST(sum(CASE WHEN NOT (o_orderstatus IN ('O','F','P')) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_enum_o_orderstatus",
        |  CAST(sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_gt_o_totalprice",
        |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_o_orderdate"
        |FROM orders""".stripMargin),
    Gate("q_apply_contract", (s, d) =>
      ApplyContract.align(t(s, d, "lineitem"), DemoContracts.lineitemAlign),
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(trunc(l_quantity) AS BIGINT) AS l_quantity, l_returnflag,
        |  CAST(l_shipdate AS DATE) AS l_shipdate, CAST(NULL AS VARCHAR) AS l_shipmode
        |FROM lineitem""".stripMargin),
    Gate("q_split_valid", (s, d) => splitPart(s, d, "valid"),
      s"SELECT * FROM lineitem WHERE $splitPassSql"),
    Gate("q_split_reject", (s, d) => splitPart(s, d, "reject"),
      s"SELECT * FROM lineitem WHERE NOT ($splitPassSql)"),
    Gate("q_flag_rows", (s, d) => {
      val df = t(s, d, "lineitem")
      val vr = ValidationResult(ok = false, Nil, Nil, Map.empty, Map.empty)
      FlagStrategy().plan(df, lineitemSpecs, vr).primary.get.df
        .select(col("l_orderkey"), col("l_linenumber"),
          explode(col("_corrupted_data")).as("failed_expectation"))
    }, flagRowsSql),
    Gate("q_validate", (s, d) => {
      import s.implicits._
      val res = Evaluator.validate(t(s, d, "lineitem"), DemoContracts.lineitemBroken)
      (res.errors.map(("error", _)) ++ res.warnings.map(("warning", _)))
        .toDF("severity", "message")
    },
      // golden oracle: the verdict is fully determined by lineitemBroken vs the
      // lineitem schema; the only data-dependent part is the null count for the
      // missing-but-required column, which the oracle computes from the table
      """SELECT * FROM (VALUES
        |  ('error', 'type mismatch for l_quantity: expected int, observed double'),
        |  ('error', 'missing required column: l_shipmode'),
        |  ('warning', 'missing optional column: l_comment')
        |) AS t(severity, message)
        |UNION ALL
        |SELECT 'error',
        |  'column l_shipmode contains ' || count(*) ||
        |  ' null value(s) but is required in the contract'
        |FROM lineitem
        |HAVING count(*) > 0""".stripMargin),
    Gate("q_expectation_plan", (s, _) => {
      import s.implicits._
      lineitemSpecs.map(sp => (sp.key, sp.rule, sp.column.getOrElse(""),
        Expectations.sqlPredicate(sp).getOrElse("")))
        .toDF("key", "rule", "column", "predicate")
    },
      """SELECT * FROM (VALUES
        |  ('not_null_l_orderkey', 'not_null', 'l_orderkey', '`l_orderkey` IS NOT NULL'),
        |  ('not_null_l_partkey', 'not_null', 'l_partkey', '`l_partkey` IS NOT NULL'),
        |  ('not_null_l_suppkey', 'not_null', 'l_suppkey', '`l_suppkey` IS NOT NULL'),
        |  ('not_null_l_linenumber', 'not_null', 'l_linenumber', '`l_linenumber` IS NOT NULL'),
        |  ('not_null_l_quantity', 'not_null', 'l_quantity', '`l_quantity` IS NOT NULL'),
        |  ('gt_l_quantity', 'gt', 'l_quantity', '`l_quantity` > 5'),
        |  ('le_l_quantity', 'le', 'l_quantity', '`l_quantity` <= 45'),
        |  ('not_null_l_extendedprice', 'not_null', 'l_extendedprice', '`l_extendedprice` IS NOT NULL'),
        |  ('lt_l_extendedprice', 'lt', 'l_extendedprice', '`l_extendedprice` < 95000'),
        |  ('ge_l_discount', 'ge', 'l_discount', '`l_discount` >= 0.02'),
        |  ('le_l_tax', 'le', 'l_tax', '`l_tax` <= 0.07'),
        |  ('not_null_l_returnflag', 'not_null', 'l_returnflag', '`l_returnflag` IS NOT NULL'),
        |  ('enum_l_returnflag', 'enum', 'l_returnflag', '`l_returnflag` IN (''A'', ''N'')'),
        |  ('regex_l_linestatus', 'regex', 'l_linestatus', '`l_linestatus` RLIKE ''^[OF]$'''),
        |  ('not_null_l_shipdate', 'not_null', 'l_shipdate', '`l_shipdate` IS NOT NULL')
        |) AS t("key", rule, "column", predicate)""".stripMargin),
    Gate("q_schema_snapshot", (s, d) => {
      import s.implicits._
      SchemaSnapshot.of(t(s, d, "lineitem")).toSeq
        .map { case (n, i) => (n, i.backendType, i.odcsType, i.nullable) }
        .toDF("column", "backend_type", "odcs_type", "nullable")
    },
      // golden VALUES oracles: these outputs are fully determined by the
      // demo contracts / table schemas, so the oracle pins them exactly
      """SELECT * FROM (VALUES
        |  ('l_orderkey', 'bigint', 'bigint', true),
        |  ('l_partkey', 'bigint', 'bigint', true),
        |  ('l_suppkey', 'bigint', 'bigint', true),
        |  ('l_linenumber', 'int', 'int', true),
        |  ('l_quantity', 'double', 'double', true),
        |  ('l_extendedprice', 'double', 'double', true),
        |  ('l_discount', 'double', 'double', true),
        |  ('l_tax', 'double', 'double', true),
        |  ('l_returnflag', 'string', 'string', true),
        |  ('l_linestatus', 'string', 'string', true),
        |  ('l_shipdate', 'timestamp_ntz', 'timestamp', true)
        |) AS t("column", backend_type, odcs_type, nullable)""".stripMargin),
    Gate("q_draft_contract", (s, d) => {
      import s.implicits._
      val draft = Drafter.fromDataFrame(t(s, d, "documents"), "docs.documents")
      draft.properties.map(f => (draft.id, draft.version,
        draft.status.getOrElse(""), f.name, f.odcsType, f.required))
        .toDF("contract_id", "version", "status", "field", "field_type", "required")
    },
      """SELECT 'docs.documents' AS contract_id, '0.1.1-draft' AS version,
        |  'draft' AS status, t.field, t.field_type, false AS required
        |FROM (VALUES
        |  ('doc_id', 'bigint'), ('text', 'string'), ('lang', 'string'),
        |  ('source', 'string'), ('n_chars', 'bigint')
        |) AS t(field, field_type)""".stripMargin),
    Gate("q_quality_query", (s, d) => {
      import s.implicits._
      val specs = Expectations.fromContract(DemoContracts.lineitemWithQuery)
      val m = Metrics.computeWithQueries(t(s, d, "lineitem"), specs, s)
      Seq(m("high_discount_count").asInstanceOf[Number].longValue)
        .toDF("high_discount_count")
    },
      "SELECT CAST(count(*) AS BIGINT) AS high_discount_count FROM lineitem WHERE l_discount > 0.06"),
    // snapshot diff against a derived "tomorrow": every 7th doc removed,
    // every remaining 10th edited, adds synthesized above the id space
    Gate("q_snapshot_diff", (s, d) => {
      val docs = t(s, d, "documents")
      val tomorrow = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
      Curate.snapshotDiff(docs, tomorrow)
    },
      """WITH tomorrow AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' edited' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0),
        |o AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fo FROM documents),
        |nn AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fn FROM tomorrow)
        |SELECT coalesce(o.doc_id, nn.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN nn.doc_id IS NULL THEN 'removed'
        |       WHEN fo <> fn THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN nn ON o.doc_id = nn.doc_id""".stripMargin)
  )
}
