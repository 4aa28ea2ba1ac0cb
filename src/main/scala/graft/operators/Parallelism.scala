package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Tiny-input guard for the per-row-heavy operators (shingling, MinHash
  * signatures, vector scoring): a single small parquet file arrives as one
  * partition, which would serialize that work on a many-core executor.
  * Real datasets arrive in many splits and skip the repartition, so it
  * adds no shuffle where the scan is already parallel.
  */
object Parallelism {

  /** `df` repartitioned to the default parallelism when its physical plan
    * yields fewer partitions, else `df` itself. Decided from the plan
    * alone: no Spark job runs (`df.rdd.getNumPartitions` would run every
    * AQE shuffle stage of the input just to count its output).
    */
  def spreadSmallInput(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (planPartitions(df.queryExecution.executedPlan) < target) df.repartition(target) else df
  }

  /** Partitions `plan` produces as planned. A leaf's RDD is built from
    * metadata (file splits, a checkpoint's partitions, local rows) without
    * running a job; an exchange counts at its planned partition number,
    * which AQE may coalesce at run time, and a reused one is read from the
    * exchange it reuses (executing it would fail for a broadcast and run
    * the sampling job of a range shuffle); an operator that passes its input
    * through (UnknownPartitioning(0)) counts its widest child.
    */
  private[graft] def planPartitions(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => planPartitions(a.inputPlan)
    case u: UnionExec             => u.children.map(planPartitions).sum
    case r: ReusedExchangeExec    => planPartitions(r.child)
    case leaf if leaf.children.isEmpty => leaf.execute().getNumPartitions
    case p => p.outputPartitioning match {
      case UnknownPartitioning(0) => p.children.map(planPartitions).max
      case known                  => known.numPartitions
    }
  }
}
