package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.dec2

/** Round-11 additions, batch 47: incremental view maintenance for a JOIN
  * view with the delta-algebra identity certified inline (B268 — B106
  * maintains an aggregate; this maintains lineitem⋈orders), and a
  * homoglyph/confusables normalization audit with planted truth (B269 —
  * the security-adjacent text-cleaning gate).
  */
object QueriesExt73 {

  // --------------------------- IVM join delta (B268)

  /** Incremental maintenance of a JOIN view (`q_ivm_join_delta`): the
    * view is revenue per order priority over lineitem ⋈ orders; a CDC
    * tick delivers ΔL (every 97th order's lines) and ΔO (every 101st
    * order). The delta algebra ΔV = ΔL⋈O₀ + L₀⋈ΔO + ΔL⋈ΔO is computed
    * term by term AND certified inline against the full recompute
    * V(L₀∪ΔL, O₀∪ΔO) − V(L₀, O₀) — `ivm_matches_recompute` must be 1
    * on every row, in exact DECIMAL(18,2) (money discipline: the
    * double cast happens only on output). This is the identity that
    * turns a 100 TB view refresh into delta-sized work; B106 proves it
    * for an aggregate view, this for the join the reference's
    * enrichment topology maintains implicitly.
    *
    * Scale shape: every term joins a DELTA side (tick-sized) against a
    * base or delta side on the join key — keyed shuffles, no
    * full-view recompute on the IVM path; the full recompute exists
    * only as the certification (the cost the identity eliminates);
    * rollup is priority-bounded (5 rows).
    */
  private def qIvmJoinDelta(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).select(
      col("l_orderkey").as("lk"), dec2(col("l_extendedprice")).as("px"))
    val o = orders(s, dir).select(col("o_orderkey").as("ok"), col("o_orderpriority"))
    val lBase  = li.where(col("lk") % 97 =!= 0)
    val lDelta = li.where(col("lk") % 97 === 0)
    val oBase  = o.where(col("ok") % 101 =!= 0)
    val oDelta = o.where(col("ok") % 101 === 0)
    def view(l: DataFrame, od: DataFrame, name: String): DataFrame =
      l.join(od, col("lk") === col("ok"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("px")).as(name))
    val t1 = view(lDelta, oBase, "d_dl_o")
    val t2 = view(lBase, oDelta, "d_l_do")
    val t3 = view(lDelta, oDelta, "d_dl_do")
    val vFull = view(li, o, "v_full")
    val vBase = view(lBase, oBase, "v_base")
    val recomp = vFull
      .join(vBase, Seq("o_orderpriority"), "full")
      .select(
        col("o_orderpriority"),
        (coalesce(col("v_full"), dec2(lit(0))) - coalesce(col("v_base"), dec2(lit(0))))
          .as("recomputed_delta"))
    t1
      .join(t2, Seq("o_orderpriority"), "full")
      .join(t3, Seq("o_orderpriority"), "full")
      .join(recomp, Seq("o_orderpriority"), "full")
      .select(
        col("o_orderpriority"),
        coalesce(col("d_dl_o"), dec2(lit(0))).as("dl_o"),
        coalesce(col("d_l_do"), dec2(lit(0))).as("l_do"),
        coalesce(col("d_dl_do"), dec2(lit(0))).as("dl_do"),
        coalesce(col("recomputed_delta"), dec2(lit(0))).as("rc"))
      .select(
        col("o_orderpriority"),
        round(col("dl_o"), 2).cast("double").as("delta_dl_o"),
        round(col("l_do"), 2).cast("double").as("delta_l_do"),
        round(col("dl_do"), 2).cast("double").as("delta_dl_do"),
        round(col("dl_o") + col("l_do") + col("dl_do"), 2).cast("double").as("ivm_delta"),
        round(col("rc"), 2).cast("double").as("recomputed_delta"),
        when(col("dl_o") + col("l_do") + col("dl_do") === col("rc"), 1L).otherwise(0L)
          .as("ivm_matches_recompute"))
  }

  private val qIvmJoinDeltaSql =
    """WITH li AS (SELECT l_orderkey AS lk, CAST(l_extendedprice AS DECIMAL(18,2)) AS px FROM lineitem),
      |o AS (SELECT o_orderkey AS ok, o_orderpriority FROM orders),
      |t1 AS (
      |  SELECT o_orderpriority, sum(px) AS d FROM li JOIN o ON ok = lk
      |  WHERE lk % 97 = 0 AND ok % 101 != 0 GROUP BY 1),
      |t2 AS (
      |  SELECT o_orderpriority, sum(px) AS d FROM li JOIN o ON ok = lk
      |  WHERE lk % 97 != 0 AND ok % 101 = 0 GROUP BY 1),
      |t3 AS (
      |  SELECT o_orderpriority, sum(px) AS d FROM li JOIN o ON ok = lk
      |  WHERE lk % 97 = 0 AND ok % 101 = 0 GROUP BY 1),
      |vf AS (SELECT o_orderpriority, sum(px) AS v FROM li JOIN o ON ok = lk GROUP BY 1),
      |vb AS (
      |  SELECT o_orderpriority, sum(px) AS v FROM li JOIN o ON ok = lk
      |  WHERE lk % 97 != 0 AND ok % 101 != 0 GROUP BY 1),
      |rc AS (
      |  SELECT coalesce(vf.o_orderpriority, vb.o_orderpriority) AS o_orderpriority,
      |    coalesce(vf.v, 0) - coalesce(vb.v, 0) AS d
      |  FROM vf FULL JOIN vb ON vb.o_orderpriority = vf.o_orderpriority),
      |ks AS (
      |  SELECT DISTINCT o_orderpriority FROM rc
      |  UNION SELECT o_orderpriority FROM t1
      |  UNION SELECT o_orderpriority FROM t2
      |  UNION SELECT o_orderpriority FROM t3)
      |SELECT k.o_orderpriority,
      |  CAST(round(coalesce(t1.d, 0), 2) AS DOUBLE) AS delta_dl_o,
      |  CAST(round(coalesce(t2.d, 0), 2) AS DOUBLE) AS delta_l_do,
      |  CAST(round(coalesce(t3.d, 0), 2) AS DOUBLE) AS delta_dl_do,
      |  CAST(round(coalesce(t1.d, 0) + coalesce(t2.d, 0) + coalesce(t3.d, 0), 2) AS DOUBLE) AS ivm_delta,
      |  CAST(round(coalesce(rc.d, 0), 2) AS DOUBLE) AS recomputed_delta,
      |  CAST(CASE WHEN coalesce(t1.d, 0) + coalesce(t2.d, 0) + coalesce(t3.d, 0) = coalesce(rc.d, 0)
      |    THEN 1 ELSE 0 END AS BIGINT) AS ivm_matches_recompute
      |FROM ks k
      |LEFT JOIN t1 ON t1.o_orderpriority = k.o_orderpriority
      |LEFT JOIN t2 ON t2.o_orderpriority = k.o_orderpriority
      |LEFT JOIN t3 ON t3.o_orderpriority = k.o_orderpriority
      |LEFT JOIN rc ON rc.o_orderpriority = k.o_orderpriority""".stripMargin

  // --------------------------- confusables normalization audit (B269)

  /** Unicode homoglyph/confusables audit (`text_unicode_confusables`):
    * maps the common Cyrillic/Greek look-alikes (а→a е→e о→o р→p с→c
    * х→x і→i Α→A Β→B Ε→E Ο→O) and reports, per source, documents
    * containing any confusable and the total characters folded — the
    * spoofing-and-dedup-evasion gate a web corpus runs before
    * fingerprinting (two "identical" docs differing only in а/a defeat
    * B1's hash and inflate B3's shingle sets). Planted truth, B254's
    * discipline: the fixture is pure ASCII (0 hits corpus-wide —
    * verified honest zero), so every 40th doc stages a copy with
    * vowels swapped to Cyrillic: those must ALL flag, with fold counts
    * equal to their a/e/o populations.
    *
    * Scale shape: detection and folding are scan-fused translate() /
    * length arithmetic — no explode, no shuffle beyond the
    * source-bounded rollup.
    */
  private def textUnicodeConfusables(s: SparkSession, dir: String): DataFrame = {
    val cyr  = "аеорсхіΑΒΕΟ"
    val lat  = "aeopcxiABEO"
    val docs = documents(s, dir)
      .select(
        col("doc_id"), col("source"),
        when(col("doc_id") % 40 === 0, lit(1L)).otherwise(lit(0L)).as("is_staged"),
        when(
          col("doc_id") % 40 === 0,
          translate(col("text"), "aeo", "аео"))
          .otherwise(col("text")).as("t"))
    docs
      .select(
        col("source"), col("is_staged"),
        (length(col("t")) - length(translate(col("t"), cyr, ""))).as("n_confusable"))
      .groupBy(col("source"), col("is_staged"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_confusable") > 0, 1L).otherwise(0L)).as("n_docs_flagged"),
        sum(col("n_confusable")).cast("long").as("chars_folded"))
      .withColumn("flag_rate_ppm", expr("n_docs_flagged * 1000000 div n_docs"))
  }

  private val textUnicodeConfusablesSql =
    """WITH docs AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 40 = 0 THEN 1 ELSE 0 END AS is_staged,
      |    CASE WHEN doc_id % 40 = 0 THEN translate(text, 'aeo', 'аео') ELSE text END AS t
      |  FROM documents),
      |cnt AS (
      |  SELECT source, is_staged,
      |    CAST(len(t) - len(translate(t, 'аеорсхіΑΒΕΟ', '')) AS BIGINT) AS n_confusable
      |  FROM docs)
      |SELECT source, CAST(is_staged AS BIGINT) AS is_staged, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n_confusable > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_flagged,
      |  CAST(sum(n_confusable) AS BIGINT) AS chars_folded,
      |  CAST(sum(CASE WHEN n_confusable > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
      |    // count(*) AS flag_rate_ppm
      |FROM cnt GROUP BY 1, 2""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_ivm_join_delta", Seq("B268"), qIvmJoinDelta, qIvmJoinDeltaSql),
    QuerySpec("text_unicode_confusables", Seq("B269"), textUnicodeConfusables, textUnicodeConfusablesSql)
  )
}
