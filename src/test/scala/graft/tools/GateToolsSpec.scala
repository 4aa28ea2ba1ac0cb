package graft.tools

import scala.sys.process._

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir

/** Folds the two standalone pre-snapshot gates into `sbt test`
  * (round-11 brief #6): both went stale mid-round in r10 and needed
  * manual refresh commits because nothing forced them to run when the
  * query registry grew. Now a registry/allowlist drift fails the build.
  */
class GateToolsSpec extends GraftSpecBase {

  test("plan audit sweep: no unintended nested-loop/cartesian anywhere in the registry") {
    val flagged = PlanAudit.sweep(spark, sf())
    assert(
      flagged.isEmpty,
      flagged.map { case (n, is) => s"$n: ${is.mkString(",")}" }
        .mkString("plan-audit flags (fix the plan or review+allowlist): ", "; ", ""))
  }

  test("oracle type lint: every oracle DESCRIBE-binds clean in DuckDB") {
    // The lint needs the driver-side python3+duckdb toolchain; cancel
    // (not pass) where it's absent so a port of this repo to a machine
    // without it sees an explicit skip, never a silent green.
    val duckdbOk = scala.util.Try("python3 -c \"import duckdb\"".! == 0).getOrElse(false)
    assume(duckdbOk, "python3+duckdb not available - lint runs only in the driver environment")
    // Runs in-process against the already-built registry instead of
    // shelling the scripts/ wrapper (which spawns a second Spark JVM to
    // re-dump oracle_sql.json — redundant under sbt test, where
    // SparkEntry.oracleSql is right here).
    val outDir = tmpDir("oracle-lint")
    def esc(s: String): String = s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }
    val json = graft.SparkEntry.oracleSql
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    val rc = Seq("python3", "scripts/lint_oracles.py", outDir, sf()).!
    assert(rc == 0, s"oracle lint flagged entries (run scripts/lint_oracles.py $outDir for detail)")
  }
}
