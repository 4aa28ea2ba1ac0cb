package graft.perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point: one workload per JVM. Prints one JSON line
  * `{"correct", "attempted", "failed", "values"}` as its last stdout line:
  * end-to-end metric values for an untraced run, per-layer ones for a
  * traced run (which also writes trace-<workload>-<seed>.json to --out).
  * run.py turns it into the result line, with units from BENCHMARK.json.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val work     = Paths.get(a("work"))
    val spark = session(GraftSession.builder("perfbench"), work)
    val sessionS = (System.currentTimeMillis() - a("launch-ms").toLong) / 1000.0
    val ctx = Ctx(spark, workload, a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      work, Paths.get(a("out")), a("cores").toInt)
    val o = new Outcome
    try {
      workload match {
        case "cdc_backlog" => CdcBacklog.run(ctx, o, sessionS)
        case "llm_curate"  => LlmCurate.run(ctx, o, sessionS)
      }
    } finally SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())

    val values = if (ctx.trace) o.layer else o.e2e
    println(Json.obj(Seq(
      "correct"   -> o.correct.toString,
      "attempted" -> o.attempted.toString,
      "failed"    -> o.failed.toString,
      "values"    -> Json.obj(values.toSeq.map { case (k, v) => k -> Json.num(v) }))))
  }

  /** Benchmark-wide session settings on top of GraftSession's. */
  private def session(b: SparkSession.Builder, work: Path): SparkSession = {
    val s = b
      .config("spark.graft.stream.workdir", work.resolve("stream").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Ungated scaling reference for the traced cdc_backlog run: rows/s of
    * one drain of `landing` in a single-core (local[1]) session. Stops the
    * caller's session.
    */
  def oneCoreReference(ctx: Ctx, landing: Path, dim: Path): Double = {
    ctx.spark.stop()
    val s1 = session(GraftSession.builder("perfbench-1core").master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "8"), ctx.work)
    try {
      val d = CdcBacklog.drain(ctx.copy(spark = s1), landing, dim, "cdc_backlog_1core")
      CdcBacklog.discard(d)
      d.rowsPerS
    } finally s1.stop()
  }
}
