package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark jobs per n-gram LM builder, counted by [[SparkSpec.jobsOf]] on a
  * small fixed frame with the session cache cleared first: the jobs run
  * while the frame is built (its model caches) and the jobs its collect
  * runs. A change to the family that adds a job fails here. */
class LmJobsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus: DataFrame = (
    (1L to 6L).map(i => (i, "the cat sat on the warm mat today", "src0")) ++
    (7L to 12L).map(i => (i, "dogs run very fast in the park today", "src1")) :+
    ((13L, "the cat sat on the park bench", "src1")) :+
    ((14L, "solo", "src1"))
  ).toDF("doc_id", "text", "source")

  /** (construction jobs, collect jobs) of `build`, cold. */
  private def jobs(build: => DataFrame): (Int, Int) = {
    spark.catalog.clearCache()
    val (df, construct) = jobsOf(build)
    val (rows, execute) = jobsOf(df.collect())
    assert(rows.nonEmpty)
    (construct, execute)
  }

  test("each LM builder runs the pinned number of Spark jobs, cold") {
    val tgt = col("source") === "src0"
    val dir = tmpDir("lm_jobs")
    spark.catalog.clearCache()
    val (_, built) = jobsOf(LmIndex.buildWithOrders(corpus, dir))
    // one cached count frame, four layer writes, and the four pruned
    // counts the metadata records
    assert(built == 33)
    val measured = Map(
      "lmScore" -> jobs(TextOps.lmScore(corpus)),
      "lmScore3" -> jobs(TextOps.lmScore3(corpus)),
      "lmScore5" -> jobs(TextOps.lmScore5(corpus)),
      "dsirScore" -> jobs {
        val (t, r) = TextOps.dsirModels(corpus, tgt)
        TextOps.dsirScore(corpus, t, r)
      },
      "dsirScore3" -> jobs {
        val (tt, tb, rt, rb) = TextOps.dsirModels3(corpus, tgt)
        TextOps.dsirScore3(corpus, tt, tb, rt, rb)
      },
      "score5" -> jobs(LmIndex.score5(spark, dir, corpus)))
    assert(measured == Map(
      "lmScore" -> (5, 7),
      "lmScore3" -> (9, 11),
      "lmScore5" -> (11, 17),
      "dsirScore" -> (5, 12),
      "dsirScore3" -> (5, 21),
      "score5" -> (0, 17)))
  }
}
