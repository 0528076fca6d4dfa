package graft.quality

import graft.SparkSpec
import graft.contracts._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The observed metric maps equal the distributed `computeAsDataFrame` row
  * (and, for enum observations, the same aggregate run as `df.agg`) on the
  * inputs where a grouped count can drift from `count - countDistinct -
  * hasNull`. */
class MetricsEquivalenceSpec extends SparkSpec {

  private def frame(schema: StructType, rows: Seq[Row], partitions: Int = 3): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)

  private def field(name: String, unique: Boolean = false, required: Boolean = false,
                    quality: Seq[QualityRule] = Nil): FieldDef =
    FieldDef(name, None, required = required, unique = unique, quality = quality)

  private def specsOf(fields: FieldDef*): Seq[ExpectationSpec] =
    Expectations.fromContract(Contract(id = "t.eq", version = "1.0.0",
      schema = Seq(SchemaObjectDef("t", fields))))

  private val positive = QualityRule(mustBeGreaterThan = Some(BigDecimal(0)))
  private val abEnum = QualityRule(rule = Some("enum"), values = Seq("a", "b"))

  /** `computeAsDataFrame`'s row, keyed by its `_` names, NULL sums as 0. */
  private def reference(df: DataFrame, specs: Seq[ExpectationSpec]): Map[String, Long] = {
    val row = Metrics.computeAsDataFrame(df, specs).collect().head
    row.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }.toMap
  }

  /** Non-empty enum observations of the row-level aggregate. */
  private def referenceObserved(df: DataFrame, specs: Seq[ExpectationSpec], cap: Int): Map[String, Seq[String]] = {
    val exprs = Metrics.observedEnumExprs(specs, df.columns.toSet, cap)
    if (exprs.isEmpty) Map.empty
    else {
      val row = df.agg(exprs.head, exprs.tail: _*).collect().head
      row.schema.fieldNames.zipWithIndex.flatMap { case (n, i) =>
        val vs = if (row.isNullAt(i)) Nil else row.getSeq[String](i).filter(_ != null)
        if (vs.isEmpty) None else Some(n -> vs)
      }.toMap
    }
  }

  /** Asserts both driver-side maps against the references; returns the
    * `compute` map for hand-computed checks. */
  private def assertEquivalent(df: DataFrame, specs: Seq[ExpectationSpec], cap: Int = 32): Map[String, Long] = {
    val ref = reference(df, specs)
    val m = Metrics.compute(df, specs)
    assert(m.map { case (k, v) => k.replace(".", "_") -> v } == ref)
    val mo = Metrics.computeWithObservations(df, specs, observedCap = cap)
    val (observed, counts) = mo.partition(_._1.startsWith("observed."))
    assert(counts.map { case (k, v) => k.replace(".", "_") -> v } == ref)
    assert(observed == referenceObserved(df, specs, cap))
    m
  }

  private val keyed = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType), StructField("tag", StringType)))

  test("nulls in the unique key form one group") {
    val df = frame(keyed, Seq(Row(1L, 1.0, "a"), Row(null, 2.0, "b"), Row(null, -1.0, "c"),
      Row(null, null, null), Row(2L, 0.0, "a"), Row(2L, 3.0, "b")))
    val m = assertEquivalent(df, specsOf(field("id", unique = true, required = true),
      field("v", quality = Seq(positive)), field("tag", quality = Seq(abEnum))))
    assert(m("row_count") == 6L)
    assert(m("violations.unique_id") == 3L) // two extra NULLs, one extra 2
    assert(m("violations.not_null_id") == 3L)
    assert(m("violations.gt_v") == 2L)
  }

  test("NaN and -0.0 next to 0.0 as double keys") {
    val schema = StructType(Seq(StructField("d", DoubleType)))
    val df = frame(schema, Seq(0.0, -0.0, Double.NaN, Double.NaN, 1.0, null, null).map(Row(_)))
    val m = assertEquivalent(df, specsOf(field("d", unique = true, quality = Seq(positive))))
    assert(m("violations.unique_d") == 3L) // 0.0 = -0.0, NaN = NaN, NULL = NULL
  }

  test("zero-row and zero-partition frames") {
    val specs = specsOf(field("id", unique = true, required = true),
      field("v", quality = Seq(positive)), field("tag", quality = Seq(abEnum)), field("gone", required = true))
    val emptyParts = frame(keyed, Nil, partitions = 3)
    val noParts = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], keyed)
    assert(noParts.rdd.getNumPartitions == 0)
    for (df <- Seq(emptyParts, noParts)) {
      val m = assertEquivalent(df, specs)
      assert(m.values.forall(_ == 0L) && m.contains("violations.not_null_gone"))
      // the row-level branch: no present unique column
      val rowLevel = assertEquivalent(df, specs.filterNot(_.rule == "unique"))
      assert(rowLevel("row_count") == 0L)
    }
  }

  test("a unique rule on a missing column counts every row") {
    val df = frame(keyed, Seq(Row(1L, 1.0, "a"), Row(1L, 2.0, "z"), Row(2L, 3.0, "b")))
    val m = assertEquivalent(df, specsOf(field("missing", unique = true), field("tag", quality = Seq(abEnum))))
    assert(m("violations.unique_missing") == 3L)
    // next to a present one, on the grouped branch
    val g = assertEquivalent(df, specsOf(field("id", unique = true), field("missing", unique = true)))
    assert(g("violations.unique_missing") == 3L && g("violations.unique_id") == 1L)
  }

  test("two unique columns of different types share one grouping") {
    val df = frame(keyed, Seq(Row(1L, 1.0, "a"), Row(1L, 1.0, "b"), Row(2L, -1.0, "a"),
      Row(null, 2.0, null), Row(null, 2.0, null), Row(3L, Double.NaN, "x")))
    val m = assertEquivalent(df, specsOf(field("id", unique = true, required = true),
      field("v", unique = true, quality = Seq(positive)), field("tag", unique = true, quality = Seq(abEnum))))
    assert(m("row_count") == 6L)
    assert(m("violations.unique_id") == 2L)
    assert(m("violations.unique_v") == 2L)
    assert(m("violations.unique_tag") == 2L)
    assert(m("violations.gt_v") == 1L)
    assert(m("violations.enum_tag") == 1L)
  }

  test("enum observations with a duplicated key: sorted, capped, NULL not observed") {
    val df = frame(keyed, Seq(Row(1L, 1.0, "z"), Row(1L, 1.0, "y"), Row(1L, 1.0, "z"),
      Row(2L, 1.0, null), Row(2L, 1.0, "x"), Row(3L, 1.0, "a"), Row(null, 1.0, "w")))
    val specs = specsOf(field("id", unique = true), field("tag", quality = Seq(abEnum)))
    val m = assertEquivalent(df, specs, cap = 2)
    assert(m("violations.unique_id") == 3L && m("violations.enum_tag") == 5L)
    val mo = Metrics.computeWithObservations(df, specs, observedCap = 2)
    assert(mo("observed.enum_tag") == Seq("w", "x"))
    assert(Metrics.computeWithObservations(df, specs)("observed.enum_tag") == Seq("w", "x", "y", "z"))
    // no violating value: no key, also on the grouped branch
    val clean = frame(keyed, Seq(Row(1L, 1.0, "a"), Row(1L, 1.0, null)))
    assert(!Metrics.computeWithObservations(clean, specs).contains("observed.enum_tag"))
  }
}
