package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 59: the curation run's executive summary —
  * how much the corpus shrinks at EACH dedup granularity (the per-layer
  * operators B1/B28/B164 answer "which rows"; a curator first asks "how
  * much") — and Wilson intervals for proportion metrics, the
  * small-count-safe bound the A/B family still lacked.
  */
object QueriesExt66 {

  // --------------------------- dedup yield by granularity (B252)

  /** Corpus shrinkage per dedup layer (`dedup_yield_by_granularity`):
    * one row each for exact full-document dedup (md5(text) groups, keep
    * lowest id), duplicated 2-token spans (B28's df ≥ 5 rule — every
    * duplicate instance is removable boilerplate), and near-dup
    * clusters (B3 pairs → components, B164's survivor: max n_chars,
    * ties lowest id). Each row: units examined, units dropped, chars
    * removed, and the corpus-relative removal in ppm — the "dedup will
    * save you X%" table a curation proposal leads with, and the honest
    * zero on layers the corpus doesn't exhibit (this fixture has no
    * exact doc twins; near-dup and boilerplate dominate).
    *
    * Scale shape: exact layer is one hash-groupBy; the span layer is
    * B28's single-regex segmentation into a span-keyed agg; the cluster
    * layer is B3's banded pipeline + label propagation — no layer does
    * all-pairs work, and the three readouts union to 3 rows.
    */
  private def dedupYieldByGranularity(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val totalChars = docs.agg(sum(col("n_chars")).as("total_chars"))

    val exact = docs
      .select(col("doc_id"), col("n_chars"), md5(col("text")).as("h"))
      .withColumn("keep", expr(
        "row_number() OVER (PARTITION BY h ORDER BY doc_id ASC)") === 1)
      .agg(
        count(lit(1)).as("n_units"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(!col("keep"), col("n_chars")).otherwise(0L)).as("chars_removed"))
      .select(lit("exact_doc").as("layer"), col("n_units"), col("n_dropped"), col("chars_removed"))

    val spanPattern = "\\S+( \\S+){0,1}"
    val spans = docs.select(col("doc_id"),
      explode(regexp_extract_all(operators.TextAnalysis.normalize(col("text")), lit(spanPattern), lit(0)))
        .as("line"))
    // r15: ONE span-keyed pass serves both readouts — n_units is Σ
    // per-span instance counts (≡ the raw span count) and the dropped/
    // removed totals gate on df inside the same rollup. The old shape
    // scanned the regex segmentation twice (the grouped df≥5 branch plus
    // a separate raw count), and the regex explode was the layer's
    // dominant cost.
    val spanRow = spans.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("n_inst"),
        sum(length(col("line"))).as("inst_chars"))
      .agg(
        coalesce(sum(col("n_inst")), lit(0L)).as("n_units"),
        coalesce(sum(when(col("df") >= 5, col("n_inst"))), lit(0L)).as("n_dropped"),
        coalesce(sum(when(col("df") >= 5, col("inst_chars"))), lit(0L)).as("chars_removed"))
      .select(lit("dup_spans").as("layer"), col("n_units"), col("n_dropped"), col("chars_removed"))

    val pairs  = operators.Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.5)
    val labels = operators.Dedup.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    val members = docs.join(labels, Seq("doc_id")).select(col("doc_id"), col("n_chars"), col("cluster_id"))
    val survivors = members
      .withColumn("rn", expr(
        "row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC)"))
      .where(col("rn") === 1)
      .select(col("doc_id"))
    val nearRow = docs.agg(count(lit(1)).as("n_units"))
      .crossJoin(broadcast(
        members.join(survivors, Seq("doc_id"), "left_anti")
          .agg(coalesce(count(lit(1)), lit(0L)).as("n_dropped"),
            coalesce(sum(col("n_chars")), lit(0L)).as("chars_removed"))))
      .select(lit("near_dup_cluster").as("layer"), col("n_units"), col("n_dropped"), col("chars_removed"))

    exact.unionByName(spanRow).unionByName(nearRow)
      .crossJoin(broadcast(totalChars))
      .select(col("layer"), col("n_units"), col("n_dropped"), col("chars_removed"),
        expr("chars_removed * 1000000 div total_chars").as("removed_ppm"))
  }

  private val dedupYieldByGranularitySql = {
    import Parity.normSql
    s"""WITH RECURSIVE tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents),
       |ex AS (
       |  SELECT 'exact_doc' AS layer, count(*) AS n_units,
       |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |    CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_removed
       |  FROM (SELECT n_chars,
       |          row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
       |        FROM documents)),
       |sp AS MATERIALIZED (
       |  SELECT doc_id, unnest(regexp_extract_all($normSql, '\\S+( \\S+){0,1}')) AS line
       |  FROM documents),
       |ds AS (
       |  SELECT line, count(*) AS n_inst, CAST(sum(len(line)) AS BIGINT) AS inst_chars
       |  FROM sp GROUP BY line HAVING count(DISTINCT doc_id) >= 5),
       |spr AS (
       |  SELECT 'dup_spans' AS layer,
       |    (SELECT count(*) FROM sp) AS n_units,
       |    CAST(coalesce((SELECT sum(n_inst) FROM ds), 0) AS BIGINT) AS n_dropped,
       |    CAST(coalesce((SELECT sum(inst_chars) FROM ds), 0) AS BIGINT) AS chars_removed),
       |mh AS (${QueriesExt.minhashPairsSql}),
       |edges AS (SELECT id_a AS a, id_b AS b FROM mh UNION SELECT id_b, id_a FROM mh),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |labels AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
       |members AS (
       |  SELECT d.doc_id, d.n_chars, l.cluster_id
       |  FROM documents d JOIN labels l ON l.id = d.doc_id),
       |dropped AS (
       |  SELECT doc_id, n_chars FROM (
       |    SELECT doc_id, n_chars,
       |      row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC) AS rn
       |    FROM members)
       |  WHERE rn > 1),
       |nr AS (
       |  SELECT 'near_dup_cluster' AS layer,
       |    (SELECT count(*) FROM documents) AS n_units,
       |    CAST(coalesce((SELECT count(*) FROM dropped), 0) AS BIGINT) AS n_dropped,
       |    CAST(coalesce((SELECT sum(n_chars) FROM dropped), 0) AS BIGINT) AS chars_removed),
       |uni AS (SELECT * FROM ex UNION ALL SELECT * FROM spr UNION ALL SELECT * FROM nr)
       |SELECT layer, n_units, n_dropped, chars_removed,
       |  chars_removed * 1000000 // tot.total_chars AS removed_ppm
       |FROM uni, tot""".stripMargin
  }

  // --------------------------- Wilson proportion intervals (B253)

  /** Wilson score intervals for per-event-type high-value proportion
    * (`events_wilson_ci`): for each event type, the share of its events
    * with value above a fixed 50.0 operating threshold, with the 95%
    * Wilson bounds — the proportion interval that stays inside [0, 1]
    * and behaves at small n where the normal (Wald) interval collapses;
    * the proportion-metric companion to B246's mean-metric MDE (read it
    * as: do the types' high-value rates differ SIGNIFICANTLY, or do the
    * intervals overlap?). Only deterministic float ops enter
    * (divide/multiply/√ on exact integer counts, z as a literal),
    * rounded once at 6 dp.
    *
    * Scale shape: one map-side-combined (type → n, x) agg off the scan,
    * then type-sized arithmetic.
    */
  private def eventsWilsonCi(s: SparkSession, dir: String): DataFrame = {
    val counts = events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > 50.0, 1L).otherwise(0L)).as("x"))
    val z2 = "3.8414588484" // z^2 for z = 1.959964, fixed literal both engines
    counts.select(
      col("event_type"), col("n"), col("x"),
      expr("round(CAST(x AS DOUBLE) / n, 6)").as("p_hat"),
      expr(s"round((CAST(x AS DOUBLE) / n + $z2 / (2.0 * n) - 1.959964 * sqrt((CAST(x AS DOUBLE) / n) * (1.0 - CAST(x AS DOUBLE) / n) / n + $z2 / (4.0 * n * n))) / (1.0 + $z2 / n), 6)")
        .as("wilson_lo"),
      expr(s"round((CAST(x AS DOUBLE) / n + $z2 / (2.0 * n) + 1.959964 * sqrt((CAST(x AS DOUBLE) / n) * (1.0 - CAST(x AS DOUBLE) / n) / n + $z2 / (4.0 * n * n))) / (1.0 + $z2 / n), 6)")
        .as("wilson_hi"))
  }

  private val eventsWilsonCiSql = {
    val z2 = "3.8414588484"
    s"""WITH counts AS (
       |  SELECT event_type, count(*) AS n,
       |    CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
       |  FROM events GROUP BY 1)
       |SELECT event_type, n, x,
       |  round(CAST(x AS DOUBLE) / n, 6) AS p_hat,
       |  round((CAST(x AS DOUBLE) / n + $z2 / (2.0 * n) - 1.959964 * sqrt((CAST(x AS DOUBLE) / n) * (1.0 - CAST(x AS DOUBLE) / n) / n + $z2 / (4.0 * n * n))) / (1.0 + $z2 / n), 6) AS wilson_lo,
       |  round((CAST(x AS DOUBLE) / n + $z2 / (2.0 * n) + 1.959964 * sqrt((CAST(x AS DOUBLE) / n) * (1.0 - CAST(x AS DOUBLE) / n) / n + $z2 / (4.0 * n * n))) / (1.0 + $z2 / n), 6) AS wilson_hi
       |FROM counts""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_yield_by_granularity", Seq("B252"), dedupYieldByGranularity, dedupYieldByGranularitySql),
    QuerySpec("events_wilson_ci", Seq("B253"), eventsWilsonCi, eventsWilsonCiSql)
  )
}
