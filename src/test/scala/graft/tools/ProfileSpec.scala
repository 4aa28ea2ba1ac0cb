package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, GraftSpecBase, SparkEntry}
import graft.GraftSpecBase.tmpDir

/** Pins `tools.Profile`: its plan files are the plans the bench session
  * builds, every row carries a plan and a total time and the printed
  * table has its header and a compile and a fork count per row, and a bad name
  * fails before anything is written.
  */
class ProfileSpec extends GraftSpecBase {

  private val queries = Seq("q1_pricing_summary", "cdc_enrich_join")

  /** A session on the shared context with the bench's file-split conf. */
  private def benchSession(): SparkSession = {
    val s = spark.newSession()
    GraftSession.localFileSplits.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  // expression ids and plan ids come from per-JVM counters
  private def masked(plan: String): String =
    plan.replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")

  test("profile writes each query's formatted bench-session plan and times plan and total") {
    val out   = Paths.get(tmpDir("graft-profile")).resolve("plans")
    val printed = new java.io.ByteArrayOutputStream
    val costs = Console.withOut(printed)(Profile.profile(benchSession(), sf("sf0.01"), out.toString, queries, trials = 1))
    assert(costs.map(_.query) === queries)
    costs.foreach(c => assert(c.planS > 0 && c.totalS > 0, c))
    val lines = printed.toString("UTF-8").linesIterator.map(_.trim.split("\\s+").toSeq).toSeq
    assert(lines.head === Seq("query", "plan_s", "total_s", "plan_pct", "build_jobs", "compiles", "forks"))
    assert(lines.tail.map(_.head) === queries)
    assert(lines.tail.map(l => (l(l.size - 2).toLong, l.last.toInt)) === costs.map(c => (c.compiles, c.forks)))
    val ref = benchSession()
    queries.foreach { q =>
      val expected = SparkEntry.queries(q)(ref, sf("sf0.01"))
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(masked(Files.readString(out.resolve(s"$q.txt"))) === masked(expected), q)
    }
  }

  test("build_jobs counts the Spark jobs a builder starts before it returns its DataFrame") {
    val out   = Paths.get(tmpDir("graft-profile")).resolve("plans")
    val costs = Profile.profile(benchSession(), sf("sf0.01"), out.toString,
      Seq("q1_pricing_summary", "curate_stream_e2e"), trials = 1)
    assert(costs.map(_.query) === Seq("q1_pricing_summary", "curate_stream_e2e"))
    assert(costs.head.buildJobs === 0, costs.head)   // planning alone
    assert(costs.last.buildJobs > 0, costs.last)     // the builder drains its stream
  }

  test("profile rejects an unknown query name before writing any file") {
    val out = Paths.get(tmpDir("graft-profile")).resolve("plans")
    val e = intercept[IllegalArgumentException] {
      Profile.profile(benchSession(), sf("sf0.01"), out.toString, Seq("q1_pricing_summary", "no_such_query"), trials = 1)
    }
    assert(e.getMessage.contains("no_such_query"))
    assert(!Files.exists(out))
  }
}
