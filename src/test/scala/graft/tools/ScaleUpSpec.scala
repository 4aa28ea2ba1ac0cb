package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir

/** Pins the ScaleUp invariants SCALING.md's methodology rests on: replicas
  * are disjoint self-consistent stars (FK integrity preserved), and the
  * content perturbation changes identity WITHOUT changing workload shape
  * (word counts preserved, embedding norms preserved bit-exactly,
  * cross-replica vectors decorrelated).
  */
class ScaleUpSpec extends GraftSpecBase {

  private lazy val out: String = {
    val dir = tmpDir("scaleup-spec")
    ScaleUp.run(spark, sf(), dir, 2)
    dir
  }

  private def t(name: String) = spark.read.parquet(s"$out/$name.parquet")

  test("row counts scale by the factor; dimensions stay fixed") {
    val src = graft.Tables.lineitem(spark, sf()).count()
    assert(t("lineitem").count() === src * 2)
    assert(t("region").count() === 5)
    assert(t("nation").count() === 25)
  }

  test("referential integrity holds across replicas (no orphan FKs, no key collisions)") {
    val o = t("orders"); val c = t("customer"); val l = t("lineitem"); val p = t("part")
    assert(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti").count() === 0)
    assert(l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti").count() === 0)
    assert(l.join(p, l("l_partkey") === p("p_partkey"), "left_anti").count() === 0)
    assert(c.select("c_custkey").distinct().count() === c.count())
    assert(o.select("o_orderkey").distinct().count() === o.count())
  }

  test("document word counts are preserved by the salt; doc_ids are disjoint") {
    val d   = t("documents")
    val src = graft.Tables.documents(spark, sf())
    assert(d.select("doc_id").distinct().count() === d.count())
    // per-replica total word count must equal the source's (salt appends to
    // words, never adds or removes them)
    val words  = d.agg(sum(size(split(lower(trim(col("text"))), "\\s+")))).head.getLong(0)
    val wordsS = src.agg(sum(size(split(lower(trim(col("text"))), "\\s+")))).head.getLong(0)
    assert(words === wordsS * 2)
    // n_chars stays consistent with the rewritten text
    assert(d.filter(length(col("text")).cast("long") =!= col("n_chars")).count() === 0)
  }

  test("embedding sign-flip preserves norms bit-exactly and decorrelates replicas") {
    val e = t("embeddings")
    val src = graft.Tables.embeddings(spark, sf())
    val n = src.count()
    val norm2 = (c: org.apache.spark.sql.Column) =>
      aggregate(transform(c, x => x * x), lit(0.0f), (a, x) => a + x)
    // replica i=1 of vec v has vec_id = v + 1000000 and the same norm²
    val orig = e.filter(col("vec_id") < 1000000).select(col("vec_id"), norm2(col("embedding")).as("n2"))
    val rep  = e.filter(col("vec_id") >= 1000000)
      .select((col("vec_id") - 1000000L).as("vec_id"), norm2(col("embedding")).as("n2r"))
    val joined = orig.join(rep, "vec_id")
    assert(joined.count() === n)
    assert(joined.filter(col("n2") =!= col("n2r")).count() === 0)
    // decorrelation: mean |cosine(orig, replica)| stays near 0 — far from
    // the ~1.0 naive copying would give (the sign pattern is hash-driven,
    // so any single pair can deviate; the mean is the invariant)
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => (x * y).cast("double")), lit(0.0), (s, x) => s + x)
    val o2 = e.filter(col("vec_id") < 1000000).select(col("vec_id"), col("embedding").as("ea"))
    val r2 = e.filter(col("vec_id") >= 1000000)
      .select((col("vec_id") - 1000000L).as("vec_id"), col("embedding").as("eb"))
    val meanAbsCos = o2.join(r2, "vec_id")
      .select((abs(dot(col("ea"), col("eb"))) /
        (sqrt(dot(col("ea"), col("ea"))) * sqrt(dot(col("eb"), col("eb"))))).as("c"))
      .agg(avg("c")).head.getDouble(0)
    assert(meanAbsCos < 0.3, s"replica vectors still correlated: mean |cos| = $meanAbsCos")
  }
}
