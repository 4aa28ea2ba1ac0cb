package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.PlanBridge

/** Where a query's time goes: for each named query, DRIVER-side cost
  * (DataFrame construction + analysis + optimization + physical planning,
  * i.e. forcing `executedPlan`) against the total noop-sink run, plus the
  * formatted plan. It profiles the registered builders in the session
  * `graft.Bench` times (`GraftSession.benchBuilder`), with the bench's
  * storage sweep after every run.
  * Usage:
  *   scripts/run-main.sh graft.tools.Profile <sfDir> <outDir> <q1,q2,...> [trials]
  * Per query: one untimed warm pass, then the median of `trials` plan
  * times and of `trials` noop-sink totals. The formatted explain of the
  * last planned DataFrame goes to `<outDir>/<query>.txt`, so two runs
  * compare with `diff -r`. Prints one `query plan_s total_s plan_pct
  * build_jobs compiles forks` row per query: `build_jobs` is the median number
  * of Spark jobs one build + plan started. A builder that runs work
  * before it returns (a stream drain, a seed collect, a stage-cache
  * build) shows `build_jobs > 0`, and its plan_s is not planning alone.
  * `compiles` is the median number of classes Janino compiled in one
  * timed noop-sink run; after the warm pass it reads 0 unless the query
  * generates code the JVM-wide codegen cache has not seen (a plan that
  * differs per run, or a cache too small for the working set). `forks`
  * is the median number of processes the JVM started in one timed run
  * (`processStarts`); with `GraftSession`'s fork-free `file:` filesystem
  * a query that only reads and writes local files reads 0. Unknown
  * names fail before the session starts; a failing query fails the run.
  */
object Profile {

  final case class Cost(query: String, planS: Double, totalS: Double, buildJobs: Int, compiles: Long, forks: Int)

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4, "usage: Profile <sfDir> <outDir> <q1,q2,...> [trials]")
    val Array(sfDir, outDir, namesCsv) = args.take(3)
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    requireKnown(names)
    val trials = if (args.length > 3) args(3).toInt else 3
    val spark  = graft.GraftSession.benchBuilder("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try profile(spark, sfDir, outDir, names, trials)
    finally spark.stop()
  }

  def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  /** Profiles `names` in `spark`, printing each row as its query finishes. */
  def profile(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String], trials: Int): Seq[Cost] = {
    requireKnown(names)
    require(trials >= 1, s"trials must be >= 1, got $trials")
    Files.createDirectories(Paths.get(outDir))
    println(header)
    names.map { name =>
      def build() = graft.SparkEntry.queries(name)(spark, sfDir)
      def run(): (Double, Long, Int) = { // the sweep is untimed, as in the bench
        val c0                  = compileCount
        val ((_, sec), started) = processStarts(timed(build().write.format("noop").mode("overwrite").save()))
        val compiled            = compileCount - c0
        graft.Bench.releaseStorage(spark)
        (sec, compiled, started.size)
      }
      run() // warm pass (codegen, page cache, file index), untimed
      val planned = Seq.fill(trials)(jobsStartedBy(spark)(timed { val df = build(); df.queryExecution.executedPlan; df }))
      val totals  = Seq.fill(trials)(run())
      val explain = planned.last._1._1.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"$name.txt"), explain.getBytes("UTF-8"))
      val cost = Cost(name, median(planned.map(_._1._2)), median(totals.map(_._1)),
        planned.map(_._2).sorted.apply(trials / 2), totals.map(_._2).sorted.apply(trials / 2),
        totals.map(_._3).sorted.apply(trials / 2))
      println(f"$name%-34s ${cost.planS}%8.3f ${cost.totalS}%8.3f ${100 * cost.planS / math.max(cost.totalS, 1e-9)}%7.1f%% ${cost.buildJobs}%10d ${cost.compiles}%8d ${cost.forks}%5d")
      cost
    }
  }

  val header: String =
    f"${"query"}%-34s ${"plan_s"}%8s ${"total_s"}%8s ${"plan_pct"}%8s ${"build_jobs"}%10s ${"compiles"}%8s ${"forks"}%5s"

  /** Classes Janino has compiled in this JVM so far, driver and executor
    * threads alike: each compile adds one sample to Spark's compilation
    * time histogram.
    */
  def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `body`'s result and the command line of every process this JVM
    * started while it ran (`ProcessBuilder.start`: Hadoop's shell-outs,
    * Spark's cleanup), from an in-process JFR recording of
    * `jdk.ProcessStart` events.
    */
  def processStarts[A](body: => A): (A, Seq[String]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withoutStackTrace()
      rec.start()
      val a = try body finally rec.stop()
      val file = Files.createTempFile("graft-forks", ".jfr")
      try {
        rec.dump(file)
        (a, RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq)
      } finally Files.deleteIfExists(file)
    } finally rec.close()
  }

  /** `body`'s result and the number of Spark jobs that started while it
    * ran. The listener bus is drained before the listener is added and
    * after `body`, so the count is exact when nothing else runs jobs
    * meanwhile (Profile runs one query at a time).
    */
  def jobsStartedBy[A](spark: SparkSession)(body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    PlanBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      PlanBridge.drainListenerBus(spark)
      (a, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a  = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
