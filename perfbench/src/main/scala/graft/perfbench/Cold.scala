package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** `analytics_cold`: registered queries run one at a time from a cold
  * session cache (every persisted RDD dropped and `spark.catalog
  * .clearCache()` first), each timed from the
  * `SparkEntry.queries(name)` call through a noop-sink write, and each
  * followed by a warm rerun whose ratio to the cold run is `overhead_x`.
  * The seed permutes the query order of every pass. A traced run traces
  * every other pass, so traced and untraced passes interleave. */
final class Cold(queries: Seq[String], seed: Long, seconds: Double, traced: Boolean,
                 work: String, sf: String) {
  import Main.secs

  private val WarmupPasses = 1
  private var spark: SparkSession = _

  /** Untimed pass of set-up: warms the JIT and writes each result for the
    * DuckDB oracle comparison `run.py` makes. */
  private def warmUp(): Seq[Map[String, Any]] = queries.map { q =>
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(q)(spark, sf).write.mode("overwrite").parquet(s"$work/oracle/$q")
      Map("query" -> q, "s" -> secs(t0), "oracle" -> SparkEntry.oracleSql.getOrElse(q, null))
    } catch {
      case e: Exception => Map("query" -> q, "s" -> secs(t0), "error" -> e.getMessage)
    }
  }

  private def runQuery(q: String, op: String, tracer: Option[Tracer]): (Double, Double) = {
    // job groups are per op and step, spans per step and query
    def grouped[T](step: String)(body: => T): T =
      Main.grouped(spark, s"$op/$step")(tracer.fold(body)(t => t.spans(s"$step/$q")(body)))
    val t0 = System.nanoTime()
    val df = grouped("construct")(SparkEntry.queries(q)(spark, sf))
    val t1 = System.nanoTime()
    grouped("execute")(df.write.format("noop").mode("overwrite").save())
    ((t1 - t0) / 1e9, secs(t1))
  }

  private def pass(p: Int, tracer: Option[Tracer], rerun: Boolean = true): Map[String, Any] = {
    val order = new scala.util.Random(seed * 1000003L + p).shuffle(queries)
    tracer.foreach(_.attach())
    val ops = order.map { q =>
      val rec = mutable.Map[String, Any]("query" -> q, "pass" -> p)
      tracer.foreach(_.spans.op = s"$q-$p")
      // cold: every persisted RDD dropped, waiting for its blocks to go
      // (clearCache alone drops them asynchronously), then the catalog
      // cache cleared; dropping first keeps the two removals from racing
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      val heldBefore = Main.storageMb(spark)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val (c, e) = tracer.fold(runQuery(q, s"$q-$p", None))(t => t.spans("op")(runQuery(q, s"$q-$p", tracer)))
        rec ++= Map("construct_s" -> c, "execute_s" -> e)
      } catch { case e: Exception => rec("error") = e.getMessage }
      rec("cold_s") = secs(t0)
      val endMs = System.currentTimeMillis()
      // storage the op left held when it returned, before the next clearCache
      rec("retained_mb") = Main.storageMb(spark) - heldBefore
      tracer.foreach { t =>
        t.jobs.drain()
        val c = t.jobs.group(s"$q-$p/construct")
        val e = t.jobs.group(s"$q-$p/execute")
        rec ++= Map("construct_jobs" -> c.jobs, "execute_jobs" -> e.jobs)
        rec ++= mergedLayer(t, s"$q-$p", startMs, endMs)
      }
      if (rerun) {
        val t1 = System.nanoTime()
        try runQuery(q, s"$q-$p/warm", None)
        catch { case e: Exception => rec("error") = e.getMessage }
        rec("warm_s") = secs(t1)
      }
      rec.toMap
    }
    tracer.foreach(_.detach())
    Map("pass" -> p, "traced" -> tracer.isDefined, "ops" -> ops)
  }

  /** Spark numbers of one cold query: both of its job groups together. */
  private def mergedLayer(t: Tracer, op: String, startMs: Long, endMs: Long): Map[String, Double] = {
    val c = t.sparkLayer(s"$op/construct", startMs, endMs, Main.Cores)
    val e = t.sparkLayer(s"$op/execute", startMs, endMs, Main.Cores)
    val wall = math.max(1L, endMs - startMs) / 1000.0
    c.map { case (k, v) =>
      k -> (k match {
        // driver-only time is the op wall minus the union of both groups' jobs
        case "spark.driver_only_s" => wall - ((wall - v) + (wall - e(k)))
        // both groups see the same window of planned queries
        case "spark.plan_ms" => v
        case _ => v + e(k)
      })
    }
  }

  /** The timed closed loop: at least one pass, so every run measures
    * every query; with a tracer, odd passes are traced and the loop holds
    * at least one pass of each kind. A pass starts while at least half of
    * one, as long as the last, fits before the deadline, so the loop runs
    * about `seconds` rather than up to a pass beyond it. */
  private def loop(tracer: Option[Tracer]): Seq[Map[String, Any]] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    var p = 0
    var last = 0L
    do {
      val t0 = System.nanoTime()
      out += pass(p, tracer.filter(_ => p % 2 == 1))
      last = System.nanoTime() - t0
      p += 1
    } while (System.nanoTime() + last / 2 < deadline || (tracer.isDefined && p < 2))
    out.toSeq
  }

  /** Set-up (session, the oracle-checked warm-up pass, then an untimed
    * cold pass, as the JIT still speeds the queries up), then the timed
    * loop. */
  def run(): Map[String, Any] = {
    spark = Main.session(work)
    val warm = warmUp()
    val warmPasses = (1 to WarmupPasses).map(k => pass(-k, None, rerun = false))
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val timedStartMs = System.currentTimeMillis()
    Main.counted(spark) {
      val t0 = System.nanoTime()
      val (tracedPasses, passes) = loop(tracer).partition(_("traced") == true)
      val record = Map("warmup" -> warm, "warmup_passes" -> warmPasses, "queries" -> queries,
        "timed_start_ms" -> timedStartMs, "loop_s" -> secs(t0), "passes" -> passes)
      tracer.fold(record)(t => record ++ Map("traced_passes" -> tracedPasses, "spans" -> t.spanRecords))
    }
  }
}
