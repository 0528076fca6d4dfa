package graft

import graft.contracts._
import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table loader for the driver-generated TPC-H-ish parquet data. */
object T {

  /** Loads a table, `<dir>/<name>.parquet`. Every table, `events.ts`
    * included, stores timestamps in microseconds, which Spark and DuckDB
    * read alike. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Sources.parquet(spark, s"${dir.stripSuffix("/")}/$name.parquet")
}

/** Demo contracts over the test tables, used by the `graft.gates` queries
  * and the ScalaTest suites. Thresholds are chosen so the data genuinely
  * violates some expectations (the engine's interesting path). */
object DemoContracts {

  private def q(rule: QualityRule) = Seq(rule)

  /** lineitem contract exercising every per-field rule kind. */
  val lineitem: Contract = Contract(
    id = "sales.lineitem",
    version = "1.2.0",
    name = Some("lineitem"),
    status = Some("active"),
    schema = Seq(SchemaObjectDef(
      name = "lineitem",
      properties = Seq(
        FieldDef("l_orderkey", Some("bigint"), required = true),
        FieldDef("l_partkey", Some("bigint"), required = true),
        FieldDef("l_suppkey", Some("bigint"), required = true),
        FieldDef("l_linenumber", Some("int"), required = true),
        FieldDef("l_quantity", Some("double"), required = true,
          quality = Seq(
            QualityRule(mustBeGreaterThan = Some(BigDecimal(5))),
            QualityRule(mustBeLessOrEqualTo = Some(BigDecimal(45))))),
        FieldDef("l_extendedprice", Some("double"), required = true,
          quality = q(QualityRule(mustBeLessThan = Some(BigDecimal(95000))))),
        FieldDef("l_discount", Some("double"),
          quality = q(QualityRule(mustBeGreaterOrEqualTo = Some(BigDecimal(0.02))))),
        FieldDef("l_tax", Some("double"),
          quality = q(QualityRule(mustBeLessOrEqualTo = Some(BigDecimal(0.07))))),
        FieldDef("l_returnflag", Some("string"), required = true,
          quality = q(QualityRule(rule = Some("enum"), values = Seq("A", "N")))),
        FieldDef("l_linestatus", Some("string"),
          quality = q(QualityRule(rule = Some("regex"), pattern = Some("^[OF]$")))),
        FieldDef("l_shipdate", Some("timestamp"), required = true)
      )
    ))
  )

  /** orders contract exercising uniqueness (o_orderkey unique holds,
    * o_custkey unique is heavily violated). */
  val orders: Contract = Contract(
    id = "sales.orders",
    version = "1.0.0",
    name = Some("orders"),
    status = Some("active"),
    schema = Seq(SchemaObjectDef(
      name = "orders",
      properties = Seq(
        FieldDef("o_orderkey", Some("bigint"), required = true, unique = true),
        FieldDef("o_custkey", Some("bigint"), required = true,
          quality = q(QualityRule(rule = Some("unique")))),
        FieldDef("o_orderstatus", Some("string"), required = true,
          quality = q(QualityRule(rule = Some("enum"), values = Seq("O", "F", "P")))),
        FieldDef("o_totalprice", Some("double"),
          quality = q(QualityRule(mustBeGreaterThan = Some(BigDecimal(0))))),
        FieldDef("o_orderdate", Some("timestamp"), required = true)
      )
    ))
  )

  /** Alignment target: subset + reorder + widen/narrow casts + a column the
    * data does not have (l_shipmode → typed null). Casts chosen to have
    * identical semantics in Spark and DuckDB (int widening, timestamp→date
    * truncation, integral double→bigint). */
  val lineitemAlign: Contract = Contract(
    id = "sales.lineitem_slim",
    version = "0.3.0",
    name = Some("lineitem_slim"),
    status = Some("active"),
    schema = Seq(SchemaObjectDef(
      name = "lineitem_slim",
      properties = Seq(
        FieldDef("l_orderkey", Some("bigint"), required = true),
        FieldDef("l_linenumber", Some("bigint")),
        FieldDef("l_quantity", Some("bigint")),
        FieldDef("l_returnflag", Some("string")),
        FieldDef("l_shipdate", Some("date")),
        FieldDef("l_shipmode", Some("string"))
      )
    ))
  )

  /** Object-level custom SQL metric (reference `query` rule). */
  val lineitemWithQuery: Contract = lineitem.copy(
    schema = lineitem.schema.map(o => o.copy(quality = Seq(
      QualityRule(rule = Some("query"), name = Some("high_discount_count"),
        query = Some("SELECT count(*) FROM _graft_dq_tmp WHERE l_discount > 0.06"),
        engine = Some("spark_sql"))
    )))
  )

  /** Contract with a required column the data lacks (validation must error)
    * plus a type mismatch (l_quantity declared int, data double). */
  val lineitemBroken: Contract = Contract(
    id = "sales.lineitem_broken",
    version = "0.1.0",
    name = Some("lineitem_broken"),
    schema = Seq(SchemaObjectDef(
      name = "lineitem_broken",
      properties = Seq(
        FieldDef("l_orderkey", Some("bigint"), required = true),
        FieldDef("l_quantity", Some("int"), required = true),
        FieldDef("l_shipmode", Some("string"), required = true),
        FieldDef("l_comment", Some("string"))
      )
    ))
  )
}
