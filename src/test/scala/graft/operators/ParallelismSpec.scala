package graft.operators

import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.GraftSpecBase
import graft.tools.Profile

/** `Parallelism.spreadSmallInput` decides from the physical plan alone:
  * a one-partition input is spread to the default parallelism, and no
  * Spark job runs to find out, not even for an input whose AQE plan has
  * shuffle and broadcast stages.
  */
class ParallelismSpec extends GraftSpecBase {

  test("a one-partition input is spread to the default parallelism without a Spark job") {
    val target = spark.sparkContext.defaultParallelism
    val (spread, jobs) = Profile.jobsStartedBy(spark)(Parallelism.spreadSmallInput(spark.range(0, 100, 1, 1).toDF("id")))
    assert(jobs === 0)
    assert(spread.rdd.getNumPartitions === target)
    val wide = spark.range(0, 100, 1, target + 3).toDF("id")
    assert(Parallelism.spreadSmallInput(wide) eq wide)
  }

  test("deciding on a join plan starts 0 Spark jobs") {
    val emb  = graft.Tables.embeddings(spark, sf())
    val docs = graft.Tables.documents(spark, sf()).select(col("doc_id").as("vec_id"))
    for (join <- Seq(emb.join(docs, "vec_id"), emb.join(docs.hint("shuffle_merge"), "vec_id"))) {
      val (_, jobs) = Profile.jobsStartedBy(spark)(Parallelism.spreadSmallInput(join))
      assert(jobs === 0, join.queryExecution.executedPlan)
    }
  }

  test("with AQE off, a reused broadcast exchange is read from the plan, not executed") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // without whole-stage codegen the reused exchange is the join's direct child
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    val dim   = s.range(0, 50).toDF("k")
    // an RDD scan has no known partitioning, so the join's count recurses into the build side
    val fact  = s.createDataFrame(s.sparkContext.parallelize(0L until 1000L, 1).map(Tuple1(_))).toDF("id")
      .withColumn("k", col("id") % 50)
    val union = fact.join(broadcast(dim), "k").union(fact.filter(col("id") > 10).join(broadcast(dim), "k"))
    val plan  = union.queryExecution.executedPlan
    assert(plan.collectFirst { case r: ReusedExchangeExec => r }.nonEmpty, plan)
    val (spread, jobs) = Profile.jobsStartedBy(s)(Parallelism.spreadSmallInput(union))
    assert(jobs === 0)
    assert(spread.rdd.getNumPartitions === s.sparkContext.defaultParallelism)
  }
}
