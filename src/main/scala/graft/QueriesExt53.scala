package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Layout

/** Round-10 additions, batch 46: the Z-order layout's pruning win AS
  * DATA (B15 builds the layout; this certifies what it buys), and the
  * dedup-detector agreement matrix (winnowing vs MinHash — which pairs
  * each layer sees that the other misses).
  */
object QueriesExt53 {

  // --------------------------- z-order pruning gain (B234)

  /** File-skipping simulation: the same events land in ~64 files under
    * (a) natural arrival order (event_id ranges) and (b) Z-order
    * (interleaved (user, cents) bits, B15's layout); for every cell of
    * a 4×4 grid of two-dimensional range predicates, count the files
    * whose [min,max] box intersects the predicate box under each
    * layout. `gain_ppm` is the fraction of file reads the Z-layout
    * avoids — the number that justifies paying the write-time global
    * sort. Natural order clusters event_id (so 2-D predicates touch
    * every file); Z-order clusters both dimensions at once.
    *
    * Scale shape: both layouts are scan-local assignments (event_id
    * div stride; z div 2²⁶ — deliberately NOT a global rank, which
    * would need a one-partition sort): per-file min/max boxes are one
    * map-side agg each, the predicate grid is a 16-row broadcast, and
    * the intersection count runs on (files × 16) rows. The min/max box
    * per file is exactly the parquet footer statistic a real scan
    * planner prunes with — the simulation computes what the planner
    * would do.
    */
  private def qZorderPruningGain(s: SparkSession, dir: String): DataFrame = {
    val coords = events(s, dir)
      .select(
        col("event_id"),
        col("user_id").bitwiseAND(lit(65535L)).as("a"),
        floor(col("value") * 100 + lit(0.5)).cast("long").bitwiseAND(lit(65535L)).as("b")
      )
    val bounds = coords.agg(
      max(col("event_id")).as("max_id"),
      (max(col("a")) + 1).as("amax"),
      (max(col("b")) + 1).as("bmax")
    )
    val withFiles = coords
      .crossJoin(broadcast(bounds))
      .withColumn("f_nat", expr("event_id * 64 div (max_id + 1)"))
      .withColumn("z", Layout.zValue(col("a"), col("b"), 16))
      .withColumn("f_z", expr("z div 67108864")) // 2^26 → ≤64 z-files
    def boxes(fileCol: String) = withFiles
      .groupBy(col(fileCol).as("f"))
      .agg(min(col("a")).as("min_a"), max(col("a")).as("max_a"), min(col("b")).as("min_b"), max(col("b")).as("max_b"))
    val preds = bounds.select(
      explode(sequence(lit(0), lit(15))).as("pred_id"),
      col("amax"),
      col("bmax")
    ).select(
      col("pred_id"),
      expr("(pred_id div 4) * amax div 4").as("a0"),
      expr("(pred_id div 4 + 1) * amax div 4").as("a1"),
      expr("(pred_id % 4) * bmax div 4").as("b0"),
      expr("(pred_id % 4 + 1) * bmax div 4").as("b1")
    )
    def touched(bx: DataFrame, name: String) = bx
      .crossJoin(broadcast(preds))
      .filter(col("a0") <= col("max_a") && col("a1") > col("min_a") && col("b0") <= col("max_b") && col("b1") > col("min_b"))
      .groupBy(col("pred_id"))
      .agg(count(lit(1)).as(name))
    touched(boxes("f_nat"), "files_nat")
      .join(touched(boxes("f_z"), "files_z"), Seq("pred_id"), "outer")
      .select(
        col("pred_id"),
        coalesce(col("files_nat"), lit(0L)).as("files_nat"),
        coalesce(col("files_z"), lit(0L)).as("files_z")
      )
      .withColumn(
        "gain_ppm",
        expr("CASE WHEN files_nat = 0 THEN 0L ELSE (files_nat - files_z) * 1000000 div files_nat END")
      )
  }

  private val qZorderPruningGainSql = {
    val z = Layout.zValueSql("a", "b", 16)
    s"""WITH co AS (
       |  SELECT event_id, (user_id & 65535) AS a,
       |    (CAST(floor(value * 100 + 0.5) AS BIGINT) & 65535) AS b
       |  FROM events),
       |bd AS (SELECT max(event_id) AS max_id, max(a) + 1 AS amax, max(b) + 1 AS bmax FROM co),
       |wf AS (
       |  SELECT co.*, co.event_id * 64 // (bd.max_id + 1) AS f_nat, ($z) // 67108864 AS f_z
       |  FROM co, bd),
       |bn AS (
       |  SELECT f_nat AS f, min(a) AS min_a, max(a) AS max_a, min(b) AS min_b, max(b) AS max_b
       |  FROM wf GROUP BY 1),
       |bz AS (
       |  SELECT f_z AS f, min(a) AS min_a, max(a) AS max_a, min(b) AS min_b, max(b) AS max_b
       |  FROM wf GROUP BY 1),
       |pr AS (
       |  SELECT p AS pred_id,
       |    (p // 4) * bd.amax // 4 AS a0, (p // 4 + 1) * bd.amax // 4 AS a1,
       |    (p % 4) * bd.bmax // 4 AS b0, (p % 4 + 1) * bd.bmax // 4 AS b1
       |  FROM bd, unnest(range(0, 16)) t(p)),
       |tn AS (
       |  SELECT pred_id, count(*) AS files_nat FROM bn, pr
       |  WHERE a0 <= max_a AND a1 > min_a AND b0 <= max_b AND b1 > min_b GROUP BY 1),
       |tz AS (
       |  SELECT pred_id, count(*) AS files_z FROM bz, pr
       |  WHERE a0 <= max_a AND a1 > min_a AND b0 <= max_b AND b1 > min_b GROUP BY 1)
       |SELECT p.pred_id,
       |  CAST(coalesce(tn.files_nat, 0) AS BIGINT) AS files_nat,
       |  CAST(coalesce(tz.files_z, 0) AS BIGINT) AS files_z,
       |  CASE WHEN coalesce(tn.files_nat, 0) = 0 THEN 0
       |    ELSE (coalesce(tn.files_nat, 0) - coalesce(tz.files_z, 0)) * 1000000 // coalesce(tn.files_nat, 0) END
       |    AS gain_ppm
       |FROM pr p
       |LEFT JOIN tn ON tn.pred_id = p.pred_id
       |LEFT JOIN tz ON tz.pred_id = p.pred_id""".stripMargin
  }

  // --------------------------- detector agreement (B235)

  /** Winnowing-vs-MinHash agreement matrix: every near-dup pair found
    * by either detector, classed `both` / `winnow_only` /
    * `minhash_only`, with per-class counts and mean scores — the
    * calibration table that says which layer to trust for which slice
    * (B195 plays the same role for shingles-vs-embeddings).
    * `minhash_only` pairs are whole-doc-similar without a single
    * ≥ w+g−1 shared run that survives the df cap (template docs with
    * scattered small edits); `winnow_only` pairs share long verbatim
    * runs inside otherwise different docs (quotes, boilerplate blocks)
    * that whole-doc Jaccard dilutes below τ.
    *
    * Scale shape: both pair lists are the already-bounded outputs of
    * their operators (LSH-banded; df-capped) — this query only
    * full-outer-joins the two SMALL pair lists and aggregates to 3
    * rows.
    */
  private def dedupDetectorAgreement(s: SparkSession, dir: String): DataFrame = {
    val wn = QueriesExt52.textWinnowingOverlap(s, dir)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("containment_ppm"))
    val mh = graft.operators.Dedup
      .minhashPairs(documents(s, dir), "doc_id", "text", 3, 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard") * 1000000).cast("long").as("jac_ppm"))
    wn
      .join(mh, Seq("id_a", "id_b"), "outer")
      .withColumn(
        "detector_class",
        when(col("containment_ppm").isNotNull && col("jac_ppm").isNotNull, lit("both"))
          .when(col("containment_ppm").isNotNull, lit("winnow_only"))
          .otherwise(lit("minhash_only"))
      )
      .groupBy(col("detector_class"))
      .agg(
        count(lit(1)).as("n_pairs"),
        expr("CAST(sum(coalesce(containment_ppm, 0L)) div count(1) AS BIGINT)").as("mean_containment_ppm"),
        expr("CAST(sum(coalesce(jac_ppm, 0L)) div count(1) AS BIGINT)").as("mean_jaccard_ppm")
      )
  }

  private val dedupDetectorAgreementSql =
    s"""WITH wn AS (${QueriesExt52.textWinnowingOverlapSql}),
       |mh AS (${QueriesExt.minhashPairsSql}),
       |wj AS (
       |  SELECT coalesce(w.doc_a, m.id_a) AS id_a, coalesce(w.doc_b, m.id_b) AS id_b,
       |    w.containment_ppm, CAST(round(m.jaccard * 1000000) AS BIGINT) AS jac_ppm
       |  FROM wn w
       |  FULL OUTER JOIN mh m ON m.id_a = w.doc_a AND m.id_b = w.doc_b)
       |SELECT CASE
       |    WHEN containment_ppm IS NOT NULL AND jac_ppm IS NOT NULL THEN 'both'
       |    WHEN containment_ppm IS NOT NULL THEN 'winnow_only'
       |    ELSE 'minhash_only' END AS detector_class,
       |  count(*) AS n_pairs,
       |  CAST(sum(coalesce(containment_ppm, 0)) // count(*) AS BIGINT) AS mean_containment_ppm,
       |  CAST(sum(coalesce(jac_ppm, 0)) // count(*) AS BIGINT) AS mean_jaccard_ppm
       |FROM wj GROUP BY 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_zorder_pruning_gain", Seq("B234"), qZorderPruningGain, qZorderPruningGainSql),
    QuerySpec("dedup_detector_agreement", Seq("B235"), dedupDetectorAgreement, dedupDetectorAgreementSql)
  )
}
