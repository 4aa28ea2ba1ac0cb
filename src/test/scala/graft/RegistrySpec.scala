package graft

import scala.jdk.CollectionConverters._

/** The driver-contract invariants the correctness gate silently assumes:
  * every registered query has an oracle and vice versa (the gap that left
  * B36 "unit-tested but unoracled" in round 6 cannot silently recur),
  * names are unique across the registry (a duplicate name would make one
  * entry shadow another), and every oracle is non-empty SQL.
  */
class RegistrySpec extends GraftSpecBase {

  test("queries and oracleSql cover exactly the same names") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("no registry shadowing across the QueriesExt concatenation") {
    // a duplicate name would make one registry entry shadow another in the
    // derived queries/oracleSql maps
    val dups = SparkEntry.registry.map(_.name).groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"names registered twice: ${dups.toSeq.sorted}")
    assert(SparkEntry.queries.size === SparkEntry.registry.size)
  }

  test("flagship entry returns rows on sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).limit(1).count() === 1L)
  }

  test("every oracle is non-empty SQL") {
    val empty = SparkEntry.oracleSql.filter(_._2.trim.isEmpty).keys.toSeq.sorted
    assert(empty.isEmpty, s"empty oracles: $empty")
  }

  test("README query counts match the registry (r11 verdict: 353/351 drift)") {
    // Every "<N> queries" / "<N> pass" figure on the repo's front page must
    // equal SparkEntry.queries.size — counts drifted twice (r11 shipped a
    // README saying 353 AND 351 against a 355-query registry). Grep-pinned
    // here so a wave that grows the registry fails the suite until the
    // README is refreshed.
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")
    val n = SparkEntry.queries.size
    val counted = ("""(\d+) queries""".r.findAllMatchIn(readme) ++
      """(\d+) pass""".r.findAllMatchIn(readme)).map(_.group(1).toInt).toSeq
    assert(counted.nonEmpty, "README no longer states the query count — keep it stated and pinned")
    val stale = counted.filter(_ != n)
    assert(stale.isEmpty, s"README query counts $stale != registry size $n — refresh README.md")
  }

  test("survey map is total both ways and REGISTRY.md matches the registry (r12 verdict #7)") {
    // every registered query carries SURVEY §2 ids on its QuerySpec, the
    // spec-covered ids of scripts/survey_map.tsv are neither duplicated nor
    // query-mapped and name existing suites, and the committed REGISTRY.md
    // must list exactly the registered queries, each with its registration
    // site, and exactly the survey map's spec rows — so coverage
    // tables can be generated, never hand-maintained, and a new wave fails
    // the suite until REGISTRY.md is refreshed
    // (`scripts/run-main.sh graft.tools.Registry`).
    val q = SparkEntry.queries.keySet
    val unmapped = SparkEntry.registry.filter(_.surveyIds.isEmpty).map(_.name).sorted
    assert(unmapped.isEmpty, s"queries without SURVEY ids: $unmapped")
    val specIds = graft.tools.Registry.loadSurveyMap()
    val dupSpecIds = specIds.groupBy(_._1).collect { case (id, rs) if rs.size > 1 => id }
    assert(dupSpecIds.isEmpty, s"duplicate spec-id rows: $dupSpecIds")
    val overlap = specIds.map(_._1).toSet & SparkEntry.registry.flatMap(_.surveyIds).toSet
    assert(overlap.isEmpty, s"SURVEY ids both query-mapped and spec-only: ${overlap.toSeq.sorted}")
    // every spec named as evidence exists, so a deleted suite cannot leave its row behind
    val testClasses = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/test"))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap(p => """\bclass\s+(\w+)""".r.findAllMatchIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).map(_.group(1)))
        .toSet
      finally files.close()
    }
    val missingSpecs = specIds.flatMap(_._2.split("/")).distinct.filterNot(testClasses).sorted
    assert(missingSpecs.isEmpty, s"survey_map.tsv names specs with no class under src/test: $missingSpecs")

    val registryMd = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("REGISTRY.md")), "UTF-8")
    val specRows = """(?m)^\| (\S+) \| (\S+) \|$""".r.findAllMatchIn(registryMd).map(m => m.group(1) -> m.group(2)).toSet
    assert(specRows === specIds.toSet, "REGISTRY.md's spec table differs from scripts/survey_map.tsv")
    val listed = """\| `([a-z0-9_]+)` \|""".r.findAllMatchIn(registryMd).map(_.group(1)).toSet
    assert((q -- listed).isEmpty, s"REGISTRY.md missing queries: ${(q -- listed).toSeq.sorted} — regenerate")
    assert((listed -- q).isEmpty, s"REGISTRY.md lists unregistered queries: ${(listed -- q).toSeq.sorted} — regenerate")
    assert(!registryMd.contains("UNKNOWN"), "REGISTRY.md has a query with an UNKNOWN registration site — regenerate")
  }

  test("every query output schema is scalar-only (driver-harness contract)") {
    // The driver's oracle gate canonicalizes results via pandas sort_values
    // + a dtype-sensitive row hash; an array/map/struct toplevel column
    // crashes the sort (r8: corpus_epoch_order err). Emit delimited strings
    // instead. Schema derivation is analysis-only for declarative plans;
    // the handful of queries that collect model state at construction run
    // tiny sf0.001 jobs here, which is acceptable for a contract gate.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val bad = fn(spark, sf()).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => s"$name.${f.name}: ${f.dataType.simpleString}"
      }
      bad
    }
    assert(offenders.isEmpty, s"non-scalar output columns: ${offenders.mkString("; ")}")
  }
}
