package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Hashing

/** Round-13 additions, batch 62 (B318–B321): order-free replica
  * checksums, forecast backtesting, personalized PageRank, and temporal
  * term drift.
  */
object QueriesExt88 {

  // ------------------------- order-free replica checksums (B318)

  /** `q_replica_checksum` — per-table content fingerprints that two
    * replicas can compare WITHOUT sorting or shipping rows: each row
    * canonicalizes to a '|'-joined string — doubles as binary-exact
    * floor-cents (round() would fork on .5-boundary doubles, the Spark
    * shortest-repr vs DuckDB binary gotcha), timestamps as epoch ms —
    * hashes to 60 bits, and the table digests to (count, bit_xor, mod
    * sum)
    * — all three order-free and distributive, so a 1000-executor scan
    * computes them with map-side combine and a replica diff is three
    * integers per table. The 100 TB replication-verification primitive:
    * any single-row divergence flips the xor; xor alone misses
    * double-flips, which is what the mod-sum catches.
    *
    * Scale shape: one scan per table, three distributive aggregates,
    * 4-row output. Nothing shuffles but the 1-row partials.
    */
  private def qReplicaChecksum(s: SparkSession, dir: String): DataFrame = {
    // Canonical fields are length-prefixed (a '|' INSIDE a string value
    // can no longer collide with the field separator) and NULL-coalesced
    // to a sentinel (U+2400) on BOTH engines — Spark's concat_ws silently
    // skips NULLs while DuckDB's || propagates them to NULL, so without
    // the coalesce a NULL field makes the row vanish from one replica's
    // digest and not the other's (r13 advice). TPC-H fixtures are
    // NULL-free and pipe-free, but the primitive must hold on real data.
    val nullTok = "␀"
    def sf(c: Column): Column = coalesce(concat(length(c).cast("string"), lit(":"), c), lit(nullTok))
    def nf(c: Column): Column = coalesce(c.cast("string"), lit(nullTok))
    def digest(df: DataFrame, name: String, canon: Column): DataFrame =
      df.select(Hashing.h60(canon).as("h"))
        .agg(
          count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_checksum"),
          sum(expr("h % 1000000007")).as("modsum_checksum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("xor_checksum"), col("modsum_checksum"))
    val r = digest(region(s, dir), "region",
      concat_ws("|", nf(col("r_regionkey").cast("long")), sf(col("r_name"))))
    val n = digest(nation(s, dir), "nation",
      concat_ws("|", nf(col("n_nationkey").cast("long")), sf(col("n_name")),
        nf(col("n_regionkey").cast("long"))))
    val c = digest(customer(s, dir), "customer",
      concat_ws("|", nf(col("c_custkey")), sf(col("c_name")),
        nf(col("c_nationkey").cast("long")),
        nf(expr("CAST(floor(c_acctbal * 100) AS BIGINT)")),
        sf(col("c_mktsegment"))))
    val o = digest(orders(s, dir), "orders",
      concat_ws("|", nf(col("o_orderkey")), nf(col("o_custkey")),
        sf(col("o_orderstatus")),
        nf(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")),
        nf(expr("unix_millis(o_orderdate)")),
        sf(col("o_orderpriority"))))
    r.unionByName(n).unionByName(c).unionByName(o)
  }

  private val qReplicaChecksumSql = {
    def h60(x: String) = s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"
    // mirror of the Spark canonicalization: length-prefixed strings,
    // U+2400 (chr(9216)) for NULL in any field — see qReplicaChecksum.
    def sf(x: String) = s"coalesce(CAST(length($x) AS VARCHAR) || ':' || $x, chr(9216))"
    def nf(x: String) = s"coalesce(CAST($x AS VARCHAR), chr(9216))"
    def canon(fields: Seq[String]) = fields.mkString(" || '|' || ")
    def digest(table: String, canonExpr: String) =
      s"""SELECT '$table' AS table_name, count(*) AS n_rows,
         |  bit_xor(${h60(canonExpr)}) AS xor_checksum,
         |  CAST(sum(${h60(canonExpr)} % 1000000007) AS BIGINT) AS modsum_checksum
         |FROM $table""".stripMargin
    Seq(
      digest("region", canon(Seq(nf("CAST(r_regionkey AS BIGINT)"), sf("r_name")))),
      digest("nation", canon(Seq(
        nf("CAST(n_nationkey AS BIGINT)"), sf("n_name"), nf("CAST(n_regionkey AS BIGINT)")))),
      digest("customer", canon(Seq(
        nf("c_custkey"), sf("c_name"), nf("CAST(c_nationkey AS BIGINT)"),
        nf("CAST(floor(c_acctbal * 100) AS BIGINT)"), sf("c_mktsegment")))),
      digest("orders", canon(Seq(
        nf("o_orderkey"), nf("o_custkey"), sf("o_orderstatus"),
        nf("CAST(floor(o_totalprice * 100) AS BIGINT)"),
        nf("epoch_ms(o_orderdate)"), sf("o_orderpriority"))))
    ).mkString("\nUNION ALL\n")
  }

  // ------------------------- forecast backtest (B319)

  /** `events_forecast_backtest` — rolling-origin evaluation of the two
    * zero-parameter forecasters every capacity dashboard starts with:
    * per event type and day, naive (yesterday's count) and
    * seasonal-naive (same weekday last week) predict the daily volume;
    * the table reports each model's MAPE and worst-day APE in ppm. B120
    * PRODUCES the baseline forecast; this SCORES it against realized
    * history — the number that tells an operator whether weekday
    * seasonality is strong enough that snaive must replace naive in the
    * alerting baseline.
    *
    * Scale shape: one (type, day)-keyed count (map-side combined), two
    * lag windows over the days-bounded series, one type-keyed readout.
    * APEs are exact integer ppm (|y−ŷ|·1e6 div y on y>0 days).
    */
  private def eventsForecastBacktest(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val scored = daily
      .withColumn("f_naive", lag(col("y"), 1).over(w))
      .withColumn("f_snaive", lag(col("y"), 7).over(w))
      .filter(col("y") > 0)
    def mape(fc: String) = scored
      .filter(col(fc).isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        expr(s"sum(abs(y - $fc) * 1000000 div y) div count(1)").as("mape_ppm"),
        expr(s"max(abs(y - $fc) * 1000000 div y)").as("max_ape_ppm"))
      .select(col("event_type"), lit(fc.stripPrefix("f_")).as("model"),
        col("n_days"), col("mape_ppm"), col("max_ape_ppm"))
    mape("f_naive").unionByName(mape("f_snaive"))
  }

  private val eventsForecastBacktestSql =
    """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |scored AS (SELECT event_type, day, y,
      |    lag(y, 1) OVER w AS f_naive, lag(y, 7) OVER w AS f_snaive
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |m AS (
      |  SELECT event_type, 'naive' AS model, count(*) AS n_days,
      |    CAST(sum(abs(y - f_naive) * 1000000 // y) // count(*) AS BIGINT) AS mape_ppm,
      |    CAST(max(abs(y - f_naive) * 1000000 // y) AS BIGINT) AS max_ape_ppm
      |  FROM scored WHERE y > 0 AND f_naive IS NOT NULL GROUP BY 1
      |  UNION ALL
      |  SELECT event_type, 'snaive', count(*),
      |    CAST(sum(abs(y - f_snaive) * 1000000 // y) // count(*) AS BIGINT),
      |    CAST(max(abs(y - f_snaive) * 1000000 // y) AS BIGINT)
      |  FROM scored WHERE y > 0 AND f_snaive IS NOT NULL GROUP BY 1)
      |SELECT event_type, model, n_days, mape_ppm, max_ape_ppm FROM m""".stripMargin

  // ------------------------- personalized PageRank (B320)

  /** `graph_ppr_seed` — personalized PageRank from seed host `src0`
    * over B64's link graph: the teleport mass returns to the SEED
    * instead of spreading uniformly, so scores measure proximity to the
    * seed's neighborhood — the "related hosts / related items"
    * primitive (recommendation candidate generation), where B64's
    * global ranks measure importance. Identical integer-ppm
    * floor-division trajectory, 5 iterations.
    *
    * Scale shape: B64's per-iteration equi-join + keyed agg verbatim;
    * the teleport vector is a row-local CASE, not a table.
    */
  private def graphPprSeed(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val edges = docs.select(
      col("source").as("src"),
      concat(lit("src"), ((col("doc_id") * 7 + 3) % 20).cast("string")).as("dst"))
      .where(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val e = edges.join(edges.groupBy(col("src")).agg(sum(col("w")).as("outw")), Seq("src"))
    val nodes = docs.select(col("source").as("node")).distinct()
    val r0 = nodes.select(col("node"),
      when(col("node") === "src0", lit(1000000L)).otherwise(lit(0L)).as("rank"))
    val rF = (1 to 5).foldLeft(r0) { (r, _) =>
      val contrib = e
        .join(r.select(col("node").as("src"), col("rank")), Seq("src"))
        .select(col("dst"), expr("(rank * w) div outw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      nodes
        .join(contrib.select(col("dst").as("node"), col("sc")), Seq("node"), "left")
        .select(col("node"),
          expr("CAST(CASE WHEN node = 'src0' THEN 150000 ELSE 0 END + " +
            "(850000 * coalesce(sc, 0L)) div 1000000 AS BIGINT)").as("rank"))
    }
    rF.select(col("node"), col("rank").as("ppr_ppm"))
  }

  private val graphPprSeedSql = {
    def iter(k: Int) =
      s"""r$k AS (SELECT n.node,
         |    CAST(CASE WHEN n.node = 'src0' THEN 150000 ELSE 0 END +
         |      (850000 * coalesce(c.sc, 0)) // 1000000 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, sum((r.rank * e.w) // e.outw) AS sc
         |    FROM e JOIN r${k - 1} r ON e.src = r.node GROUP BY e.dst) c
         |  ON n.node = c.dst)""".stripMargin
    s"""WITH er AS (SELECT source AS src, 'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst
       |  FROM documents),
       |edges AS (SELECT src, dst, count(*) AS w FROM er WHERE src != dst GROUP BY 1, 2),
       |e AS (SELECT edges.src, dst, w, o.outw FROM edges
       |  JOIN (SELECT src, sum(w) AS outw FROM edges GROUP BY 1) o ON edges.src = o.src),
       |nodes AS (SELECT DISTINCT source AS node FROM documents),
       |r0 AS (SELECT node, CASE WHEN node = 'src0' THEN 1000000 ELSE 0 END AS rank FROM nodes),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT node, rank AS ppr_ppm FROM r5""".stripMargin
  }

  // ------------------------- temporal term drift (B321)

  /** `text_term_drift` — trending-terms detection across corpus time
    * (doc_id is ingestion order, the B150 convention): for every word
    * with ≥10 total occurrences, its token share in the first half of
    * the corpus vs the second, and the two-proportion z-score of the
    * change; the top-20 movers by |z|. B136 compares vocabularies
    * across SOURCES; this compares them across TIME — the signal that
    * decides when a tokenizer vocab or a quality prior has gone stale.
    *
    * Determinism: shares are integer ppm; z is one rounded double per
    * vocab word (word-type-bounded, never per token); ties break on the
    * word.
    *
    * Scale shape: one token explode with a row-local half flag; one
    * (word, half) map-side count; the z arithmetic and the top-20 live
    * on the vocab-bounded table.
    */
  private def textTermDrift(s: SparkSession, dir: String): DataFrame = {
    val thr = documents(s, dir).agg(expr("max(doc_id) div 2").as("thr"))
    val tok = documents(s, dir)
      .crossJoin(broadcast(thr))
      .select((col("doc_id") <= col("thr")).as("h1"),
        explode(operators.TextAnalysis.tokens(col("text"))).as("tok"))
    val counts = tok.groupBy(col("tok"))
      .agg(
        sum(when(col("h1"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("h1"), 1L).otherwise(0L)).as("n2"))
    val tots = counts.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    val scored = counts
      .filter(col("n1") + col("n2") >= 10)
      .crossJoin(broadcast(tots))
      .select(
        col("tok"), col("n1"), col("n2"),
        expr("n1 * 1000000 div t1").as("share1_ppm"),
        expr("n2 * 1000000 div t2").as("share2_ppm"),
        expr(
          "round((CAST(n2 AS DOUBLE) / t2 - CAST(n1 AS DOUBLE) / t1) / " +
            "sqrt((CAST(n1 + n2 AS DOUBLE) / (t1 + t2)) * (1 - CAST(n1 + n2 AS DOUBLE) / (t1 + t2)) * " +
            "(1.0 / t1 + 1.0 / t2)), 6)").as("z_drift"))
    val top = scored.orderBy(abs(col("z_drift")).desc, col("tok")).limit(20)
    top.withColumn("rank",
      row_number().over(Window.orderBy(abs(col("z_drift")).desc, col("tok"))).cast("long"))
      .select(col("rank"), col("tok"), col("n1"), col("n2"),
        col("share1_ppm"), col("share2_ppm"), col("z_drift"))
  }

  private val textTermDriftSql = {
    import Parity.normSql
    s"""WITH thr AS (SELECT max(doc_id) // 2 AS thr FROM documents),
       |tok AS (SELECT doc_id <= thr AS h1, unnest(string_split($normSql, ' ')) AS tok
       |  FROM documents, thr),
       |counts AS (SELECT tok,
       |    CAST(sum(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN NOT h1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
       |  FROM tok GROUP BY 1),
       |tots AS (SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2 FROM counts),
       |scored AS (SELECT tok, n1, n2,
       |    n1 * 1000000 // t1 AS share1_ppm,
       |    n2 * 1000000 // t2 AS share2_ppm,
       |    round((CAST(n2 AS DOUBLE) / t2 - CAST(n1 AS DOUBLE) / t1) /
       |      sqrt((CAST(n1 + n2 AS DOUBLE) / (t1 + t2)) * (1 - CAST(n1 + n2 AS DOUBLE) / (t1 + t2)) *
       |      (1.0 / t1 + 1.0 / t2)), 6) AS z_drift
       |  FROM counts, tots WHERE n1 + n2 >= 10)
       |SELECT CAST(row_number() OVER (ORDER BY abs(z_drift) DESC, tok) AS BIGINT) AS rank,
       |  tok, n1, n2, share1_ppm, share2_ppm, z_drift
       |FROM scored ORDER BY abs(z_drift) DESC, tok LIMIT 20""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_replica_checksum", Seq("B318"), qReplicaChecksum, qReplicaChecksumSql),
    QuerySpec("events_forecast_backtest", Seq("B319"), eventsForecastBacktest, eventsForecastBacktestSql),
    QuerySpec("graph_ppr_seed", Seq("B320"), graphPprSeed, graphPprSeedSql),
    QuerySpec("text_term_drift", Seq("B321"), textTermDrift, textTermDriftSql)
  )
}
