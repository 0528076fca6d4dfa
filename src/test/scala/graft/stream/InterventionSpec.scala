package graft.stream

import graft.SparkSpec
import graft.contracts._
import graft.io.WriteResult
import graft.obs.BufferingObservationSink
import graft.quality.{Expectations, Metrics}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException

import scala.jdk.CollectionConverters._

final case class Rec(id: Long, v: Double)

class InterventionSpec extends SparkSpec {
  import spark.implicits._

  private val contract = Contract(id = "t.stream", version = "1.0.0",
    schema = Seq(SchemaObjectDef("t", Seq(
      FieldDef("id", Some("bigint"), required = true),
      FieldDef("v", Some("double"),
        quality = Seq(QualityRule(mustBeGreaterThan = Some(BigDecimal(0)))))))))

  test("governed streaming write records per-batch observations and intervenes on violations") {
    val mem = MemoryStream[Rec](spark)
    val sink = new BufferingObservationSink
    val out = tmpDir("graft_stream_out")
    val q = ContractStream.write(mem.toDF(), s"$out/data", contract,
      checkpointLocation = s"$out/ckpt",
      intervention = new FailAfterViolationsIntervention(maxViolatedBatches = 0),
      sink = sink)
    try {
      mem.addData(Rec(1, 1.0), Rec(2, 2.0)) // clean batch: stream continues
      q.processAllAvailable()
      assert(q.isActive)
      assert(sink.all.exists { case (id, _, m, v) =>
        id == "t.stream" && v.ok && m("row_count").asInstanceOf[Long] == 2L })
      mem.addData(Rec(3, -5.0)) // violated batch: intervention stops the stream
      val e = intercept[StreamingQueryException] { q.processAllAvailable(); q.awaitTermination(10000) }
      assert(e.getMessage.contains("violated its contract") ||
        Option(e.getCause).exists(_.getMessage.contains("violated its contract")))
      assert(sink.all.exists { case (_, _, _, v) => !v.ok })
      // the clean batch's rows were appended before the stop
      assert(spark.read.parquet(s"$out/data").count() >= 2)
    } finally q.stop()
  }

  test("governed streaming write observes unique rules per batch, as a pre-scan of the batch") {
    val unique = contract.copy(schema = contract.schema.map(o =>
      o.copy(properties = o.properties.map(f => if (f.name == "id") f.copy(unique = true) else f))))
    val batches = Seq(Seq(Rec(1, 1.0), Rec(1, 2.0), Rec(2, -3.0)), Seq(Rec(3, 1.0), Rec(3, 1.0), Rec(3, 2.0), Rec(4, 5.0)))
    val results = new java.util.concurrent.ConcurrentLinkedQueue[WriteResult]()
    val mem = MemoryStream[Rec](spark)
    val out = tmpDir("graft_stream_unique")
    val q = ContractStream.write(mem.toDF(), s"$out/data", unique, checkpointLocation = s"$out/ckpt",
      onBatch = (_, r) => results.add(r))
    try batches.foreach { rows => mem.addData(rows: _*); q.processAllAvailable() }
    finally q.stop()
    assert(results.size == batches.size)
    val specs = Expectations.fromContract(unique)
    batches.zip(results.asScala).zipWithIndex.foreach { case ((rows, result), i) =>
      val expected = Metrics.compute(rows.toDF(), specs)
      val observed = result.validation.metrics
      assert(expected("violations.unique_id") == i + 1L)
      assert(expected.forall { case (k, v) => observed(k) == v })
    }
  }
}
