package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-8 additions, batch 16: time-series smoothing, corpus statistics,
  * generic graph connectivity, and embedding compression — four operators a
  * training-data platform runs daily (EMA dashboards, Zipf-sanity of a new
  * corpus, entity-graph components, and int8 storage of the vector index).
  */
object QueriesExt22 {

  // --------------------------- daily EMA (B146)

  /** Exponentially-weighted moving average of daily event counts per type
    * (half-life 7 days, 30-day lookback). The recursion-free identity: with
    * w = 2^(−1/7), the normalized EMA over a frame is
    * Σ nᵢ·w^(d−dᵢ) / Σ w^(d−dᵢ) = Σ nᵢ·uᵢ / Σ uᵢ with uᵢ = 2^(dᵢ/7) —
    * the current-row day d cancels, so two plain windowed sums over a
    * RANGE 29-preceding frame compute it with no recursive state. Day
    * index is anchored at the fixture epoch (2024-01-01) so the 2^(dᵢ/7)
    * terms stay small; a production job anchors at the window start.
    * `pow` is the only libm call; its ≤1-ulp cross-engine drift is
    * absorbed by round(…, 6) on a ~10²-magnitude ratio.
    *
    * Scale shape: one map-side-combined (type, day) count — days×types
    * rows however many events — then a bounded 30-row window per
    * partition. No raw-event window.
    */
  private def eventsEmaDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(
        col("event_type"),
        col("ts").cast("date").as("day"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long").as("di")
      )
      .agg(count(lit(1)).as("n_events"))
    val u = pow(lit(2.0), col("di").cast("double") / lit(7.0))
    val w = Window.partitionBy(col("event_type")).orderBy(col("di")).rangeBetween(-29, 0)
    daily
      .withColumn("ema", round(sum(col("n_events") * u).over(w) / sum(u).over(w), 6))
      .select(col("event_type"), col("day"), col("n_events"), col("ema"))
  }

  private val eventsEmaDailySql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
      |         count(*) AS n_events
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT event_type, day, n_events,
      |  round(sum(n_events * pow(2.0, di / 7.0)) OVER w / sum(pow(2.0, di / 7.0)) OVER w, 6) AS ema
      |FROM daily
      |WINDOW w AS (PARTITION BY event_type ORDER BY di RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin

  // --------------------------- Zipf-law fit (B147)

  /** Zipf sanity check of the corpus: OLS fit of ln(frequency) on ln(rank)
    * over the top-200 terms — natural text sits near slope −1; a corpus of
    * boilerplate or generated spam does not, so this one number is a cheap
    * corpus-quality gate. Parity scheme: ln(rank) and ln(count) are
    * snapped to integers once (floor(ln·1000 + 0.5) — the only libm
    * boundary, same class as the other ln-based queries), every moment sum
    * is then an exact BIGINT, slope is integer-division ppm, and r² is
    * IEEE-deterministic double arithmetic on those exact integers (no
    * further libm). Milli-scaling keeps n·Σxy ≈ 3×10¹²·10⁶ inside signed-64.
    *
    * Scale shape: tokenize+count is the corpus-linear stage (map-side
    * combined); the fit runs on a 200-row localCheckpointed slice.
    */
  private def textZipfSlope(s: SparkSession, dir: String): DataFrame = {
    val top = documents(s, dir)
      .select(explode(operators.TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(200)
      .withColumn("__neg", negate(col("n")))
      .localCheckpoint()
    val xy = operators.Ranking
      .withGlobalRank(top, "__neg", "term", "rank")
      .select(
        floor(log(col("rank").cast("double")) * 1000.0 + 0.5).cast("long").as("x"),
        floor(log(col("n").cast("double")) * 1000.0 + 0.5).cast("long").as("y")
      )
    xy.agg(
        count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy")
      )
      .select(
        col("n_terms"),
        expr("CAST(((n_terms * sxy - sx * sy) * 1000000) div (n_terms * sxx - sx * sx) AS BIGINT)")
          .as("slope_ppm"),
        expr("""CAST(floor(
                |  (CAST(n_terms * sxy - sx * sy AS DOUBLE) * CAST(n_terms * sxy - sx * sy AS DOUBLE))
                |  / (CAST(n_terms * sxx - sx * sx AS DOUBLE) * CAST(n_terms * syy - sy * sy AS DOUBLE))
                |  * 1000000 + 0.5) AS BIGINT)""".stripMargin)
          .as("r2_ppm")
      )
  }

  private val textZipfSlopeSql =
    """WITH tok AS (
      |  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
      |  FROM documents),
      |top AS (
      |  SELECT term, count(*) AS n FROM tok GROUP BY 1
      |  ORDER BY n DESC, term ASC LIMIT 200),
      |xy AS (
      |  SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY n DESC, term ASC) AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS x,
      |         CAST(floor(ln(CAST(n AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS y
      |  FROM top),
      |m AS (
      |  SELECT count(*) AS n_terms, sum(x) AS sx, sum(y) AS sy,
      |         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM xy)
      |SELECT n_terms,
      |  CAST(((n_terms * sxy - sx * sy) * 1000000) // (n_terms * sxx - sx * sx) AS BIGINT) AS slope_ppm,
      |  CAST(floor(
      |    (CAST(n_terms * sxy - sx * sy AS DOUBLE) * CAST(n_terms * sxy - sx * sy AS DOUBLE))
      |    / (CAST(n_terms * sxx - sx * sx AS DOUBLE) * CAST(n_terms * syy - sy * sy AS DOUBLE))
      |    * 1000000 + 0.5) AS BIGINT) AS r2_ppm
      |FROM m""".stripMargin

  // --------------------------- connected components (B148)

  /** Connected components of the strong co-purchase graph: parts are
    * adjacent when they co-occur in ≥ 2 distinct orders (the ≥2 support
    * prunes the dense one-giant-component co-order graph to the sparse
    * "genuinely bought together" graph). Min-label propagation with
    * pointer jumping: every node starts as its own label; each round
    * takes min(own, neighbor labels) and then shortcuts label ←
    * label(label), so chains collapse in O(log diameter) rounds (capped
    * at 30). Convergence is the label-sum invariant — labels only
    * decrease, so an unchanged Σlabel (one scalar agg per round, no
    * join against the previous state) is the fixpoint.
    * Output: the 20 largest components (size, then min-part label).
    *
    * Scale shape: edge building is GraphOps.copurchaseEdges (two
    * hash-aggs, no self-join); each round is one shuffle join on node,
    * localCheckpointed so lineage stays flat.
    */
  private def graphComponents(s: SparkSession, dir: String): DataFrame = {
    val und = operators.GraphOps.copurchaseEdges(lineitem(s, dir), 2)
    // r15: the mirrored union stays LAZY — und is already an eagerly
    // checkpointed session-cached leaf, so the old localCheckpoint(true)
    // here only copied the edge RDD once per query; the union is
    // shuffle-free map work over the cached blocks each round
    val edges = und
      .unionByName(und.select(col("v").as("u"), col("u").as("v")))
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)

    // Convergence via the label-sum invariant: per-node labels are
    // non-increasing, so Σlabel strictly decreases every non-converged
    // round — one scalar agg replaces a join-against-old-labels check.
    var prevSum   = labels.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
    var converged = false
    var rounds    = 0
    while (!converged && rounds < 30) {
      rounds += 1
      // one round = pull each neighbor's CURRENT label through the edge
      // list, keep min(own, neighbors), then pointer-jump
      // (label ← label(label)) so chains collapse in O(log diameter)
      // rounds instead of O(diameter)
      val prop = labels.as("l")
        .join(edges, col("l.node") === edges("v"))
        .select(col("u").as("node"), col("l.label").as("nlabel"))
        .groupBy(col("node"))
        .agg(min(col("nlabel")).as("nmin"))
      val stepped = labels
        .join(prop, Seq("node"), "left")
        .select(col("node"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint(true)
      val jumped = stepped.as("a")
        .join(
          stepped.select(col("node").as("ln"), col("label").as("llabel")).as("b"),
          col("a.label") === col("b.ln"),
          "left"
        )
        .select(col("a.node").as("node"), coalesce(col("b.llabel"), col("a.label")).as("label"))
        .localCheckpoint(true)
      val s = jumped.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
      labels = jumped
      converged = s == prevSum
      prevSum = s
    }

    labels
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("n_parts").desc, col("component").asc)
      .limit(20)
  }

  private val graphComponentsSql =
    """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |und AS (
      |  SELECT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |edges AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
      |nodes AS (SELECT DISTINCT u AS node FROM edges),
      |reach(node, r) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT e.u, reach.r FROM reach JOIN edges e ON e.v = reach.node),
      |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY 1)
      |SELECT component, count(*) AS n_parts
      |FROM comp GROUP BY 1
      |ORDER BY n_parts DESC, component ASC LIMIT 20""".stripMargin

  // --------------------------- int8 embedding quantization (B149)

  /** Scalar int8 quantization audit: per-dimension corpus min/max define a
    * 255-step grid; every embedding value is snapped to its grid point and
    * the per-vector reconstruction MSE is rolled up per label — the go/no-go
    * readout before switching the vector index to int8 storage (4×
    * smaller, and the error table says what recall risk that buys).
    * Everything is IEEE +,−,×,÷ and floor on identical doubles — no libm —
    * so both engines produce bit-identical errors before the final
    * round(…, 9).
    *
    * Scale shape: one posexplode pass for dim-wise min/max (64-row result,
    * broadcast back), one posexplode pass for the error — both corpus-
    * linear with map-side combine; no shuffle carries raw vectors twice.
    */
  private def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    val vecs = embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
    val dims = vecs
      .select(posexplode(col("e")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val err = vecs
      .select(col("vec_id"), col("label"), posexplode(col("e")).as(Seq("dim", "x")))
      .join(broadcast(dims), Seq("dim"))
      .withColumn("scale", (col("hi") - col("lo")) / lit(255.0))
      .withColumn(
        "xq",
        when(col("scale") > 0.0, col("lo") + floor((col("x") - col("lo")) / col("scale") + 0.5) * col("scale"))
          .otherwise(col("lo"))
      )
      .groupBy(col("vec_id"), col("label"))
      .agg(avg((col("x") - col("xq")) * (col("x") - col("xq"))).as("mse"))
    err
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        round(avg(col("mse")), 9).as("mean_mse"),
        round(max(col("mse")), 9).as("max_mse")
      )
  }

  private val embedQuantizeSql =
    """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      |ex AS (
      |  SELECT vec_id, label, generate_subscripts(e, 1) AS dim, unnest(e) AS x FROM v),
      |dims AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM ex GROUP BY 1),
      |snap AS (
      |  SELECT ex.vec_id, ex.label, ex.x,
      |    CASE WHEN (hi - lo) / 255.0 > 0.0
      |         THEN lo + floor((x - lo) / ((hi - lo) / 255.0) + 0.5) * ((hi - lo) / 255.0)
      |         ELSE lo END AS xq
      |  FROM ex JOIN dims USING (dim)),
      |err AS (
      |  SELECT vec_id, label, avg((x - xq) * (x - xq)) AS mse
      |  FROM snap GROUP BY 1, 2)
      |SELECT label, count(*) AS n_vecs,
      |  round(avg(mse), 9) AS mean_mse, round(max(mse), 9) AS max_mse
      |FROM err GROUP BY 1""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_ema_daily", Seq("B146"), eventsEmaDaily, eventsEmaDailySql),
    QuerySpec("text_zipf_slope", Seq("B147"), textZipfSlope, textZipfSlopeSql),
    QuerySpec("graph_components", Seq("B148"), graphComponents, graphComponentsSql),
    QuerySpec("embed_quantize", Seq("B149"), embedQuantize, embedQuantizeSql)
  )
}
