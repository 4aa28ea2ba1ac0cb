package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** REGISTRY.md generator (r12 verdict #7): the machine-readable
  * operator→query map the coverage audits were re-deriving by hand each
  * round. Emits one row per registered query — its SURVEY §2 ids and the
  * registration site (file:line of its `QuerySpec("name"` line), both
  * from `SparkEntry.registry`, and the sf0.1→sf1 medians/ratio from the
  * latest committed local[N] bench snapshots — plus a second table for the
  * control-plane/streaming SURVEY ids whose evidence is the ScalaTest
  * suite (scripts/survey_map.tsv).
  *
  * RegistrySpec pins the structure: REGISTRY.md's query rows must equal
  * the registry exactly and name a site for each. Ratios are informative
  * (refreshed whenever this tool is re-run) — the spec deliberately does
  * not pin them, so a new bench snapshot doesn't fail the suite.
  *
  * Usage: `scripts/run-main.sh graft.tools.Registry` (writes REGISTRY.md).
  */
object Registry {

  /** The spec-covered SURVEY ids of scripts/survey_map.tsv, as
    * (id, evidence spec names) in file order.
    */
  def loadSurveyMap(root: Path = Paths.get(".")): Seq[(String, String)] =
    Files.readAllLines(root.resolve("scripts/survey_map.tsv")).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        require(l.startsWith("spec:"), s"survey_map.tsv holds only spec: rows, got: $l")
        val Array(s, id) = l.split("\t", 2)
        id.trim -> s.stripPrefix("spec:")
      }

  /** file:line of each query's `QuerySpec("name"` line across the
    * registry sources.
    */
  def registrationSites(root: Path = Paths.get(".")): Map[String, String] = {
    val dir = root.resolve("src/main/scala/graft")
    val site = "QuerySpec\\(\"([a-z0-9_]+)\"".r
    Files.list(dir).iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n == "SparkEntry.scala" || (n.startsWith("QueriesExt") && n.endsWith(".scala"))
      }
      .toSeq
      .flatMap { p =>
        val fname = p.getFileName.toString
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
          site.findFirstMatchIn(line).map(_.group(1) -> s"$fname:${i + 1}")
        }
      }
      .toMap
  }

  /** Latest committed bench medians per query for one sf suffix, restricted
    * to single-JVM local[N] snapshots (the canonical timing topology).
    */
  def latestMeds(sfSuffix: String, root: Path = Paths.get(".")): (String, Map[String, Double]) = {
    import org.json4s._
    val dir = root.resolve("bench_history")
    if (!Files.isDirectory(dir)) return ("none", Map.empty)
    val stampRe = java.util.regex.Pattern.compile("(\\d{8}-\\d{6})")
    def stamp(p: Path): String = {
      val m = stampRe.matcher(p.getFileName.toString)
      if (m.find()) m.group(1) else ""
    }
    val candidates = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".json")).toSeq.sortBy(stamp).reverse
    candidates.iterator.flatMap { p =>
      scala.util.Try {
        val j = org.json4s.jackson.JsonMethods.parse(Files.readString(p))
        val sfOk = (j \ "sf") match { case JString(s) => s.endsWith(sfSuffix); case _ => false }
        val masterOk = (j \ "master") match {
          case JString(m) => m.startsWith("local[")
          case _          => true // pre-field snapshots are all local[N]
        }
        val qs = (j \ "queries") match {
          case JObject(fields) => fields.collect {
            case (k, JObject(o)) => o.collectFirst { case ("med", JDouble(d)) => k -> d }
            case (k, JDouble(d)) => Some(k -> d)
          }.flatten.toMap
          case _ => Map.empty[String, Double]
        }
        if (sfOk && masterOk && qs.size > 100) Some(p.getFileName.toString -> qs) else None
      }.toOption.flatten
    }.nextOption().getOrElse(("none", Map.empty))
  }

  def scaleClass(ratio: Option[Double]): String = ratio match {
    case None                 => "n/a"
    case Some(r) if r < 2.0   => "flat-to-sublinear"
    case Some(r) if r < 4.0   => "sublinear"
    case Some(_)              => "linear-class (documented in SCALING.md)"
  }

  def generate(root: Path = Paths.get(".")): String = {
    val specs   = graft.SparkEntry.registry.sortBy(_.name)
    val specIds = loadSurveyMap(root)
    val sites   = registrationSites(root)
    val unsited = specs.map(_.name).filterNot(sites.contains)
    require(unsited.isEmpty, s"no QuerySpec(\"name\" line found for: ${unsited.mkString(", ")}")
    val (f01, med01) = latestMeds("/sf0.1", root)
    val (f1, med1)   = latestMeds("/sf1", root)
    val fmt = (v: Option[Double]) => v.map(d => f"$d%.3f").getOrElse("—")
    val sb = new StringBuilder
    sb ++= "# REGISTRY — generated operator→query map (do NOT hand-edit)\n\n"
    sb ++= "Generated by `graft.tools.Registry` from `SparkEntry.registry`,\n"
    sb ++= "`scripts/survey_map.tsv`, and the latest committed local[N] bench\n"
    sb ++= s"snapshots (`$f01` / `$f1`). Structure is pinned by RegistrySpec\n"
    sb ++= "(query rows == registry, every query sited); timing columns\n"
    sb ++= "are informative and refresh on regeneration.\n\n"
    sb ++= s"## Queries (${specs.size})\n\n"
    sb ++= "| query | SURVEY ids | registered at | sf0.1 med s | sf1 med s | ratio | scale class |\n"
    sb ++= "|---|---|---|---|---|---|---|\n"
    specs.foreach { q =>
      val a     = med01.get(q.name)
      val b     = med1.get(q.name)
      val ratio = for (x <- a; y <- b if x > 0) yield y / x
      sb ++= s"| `${q.name}` | ${q.surveyIds.mkString(" ")} | `${sites(q.name)}` | ${fmt(a)} | ${fmt(b)} | ${ratio.map(r => f"$r%.2f×").getOrElse("—")} | ${scaleClass(ratio)} |\n"
    }
    sb ++= s"\n## Spec-covered SURVEY ids (${specIds.size}) — control-plane / streaming operators\n\n"
    sb ++= "| SURVEY id | evidence (ScalaTest) |\n|---|---|\n"
    specIds.sortBy { case (id, _) =>
      (id.charAt(0), "\\d+".r.findFirstIn(id).map(_.toInt).getOrElse(0), id)
    }.foreach { case (id, spec) => sb ++= s"| $id | $spec |\n" }
    val allIds = (specs.flatMap(_.surveyIds) ++ specIds.map(_._1)).toSet
    sb ++= s"\nCoverage: ${specs.size} oracle-checked queries + ${specIds.size} spec-covered "
    sb ++= s"operators span ${allIds.size} declared SURVEY §2 ids.\n"
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val out = generate()
    Files.write(Paths.get("REGISTRY.md"), out.getBytes("UTF-8"))
    println(s"[registry] wrote REGISTRY.md (${out.linesIterator.size} lines)")
  }
}
