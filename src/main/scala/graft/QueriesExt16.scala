package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.normSql

/** Round-7 additions, batch 4: PMI collocation mining (B60), the event
  * transition matrix (B61), and URL blocklist filtering via the
  * suffix-set equi-join (B62) — phrase statistics, behavioral modeling,
  * and the deny-list admission step of a crawl pipeline.
  */
object QueriesExt16 {

  // ------------------------------------ PMI collocation mining (B60)

  /** Top-20 word bigrams by pointwise mutual information — the
    * collocation detector ("new york"-style fixed phrases) a tokenizer /
    * phrase-vocabulary builder runs over a corpus. PMI compares the
    * bigram's observed rate against independence:
    * `c_xy * N_tok^2 / (c_x * c_y * N_big)`. The log is monotonic, so
    * ranking uses the raw ratio in parts-per-million — `floor()` of a
    * double whose expression tree is replayed exactly by the oracle
    * (same multiplication order, every integer exact in a double at
    * this scale), sidestepping cross-engine `ln`/rounding divergence.
    * Bigrams below 5 occurrences are noise-filtered, standard practice.
    *
    * Scale shape: token/bigram explodes are linear in corpus size and
    * collapse immediately into map-side-combined hash-aggs at VOCAB
    * level; the two count lookups are shuffle equi-joins keyed on a
    * word (vocab-sized operands, never the corpus); the 1-row totals
    * cross-join broadcasts (B27 pattern); final order is a TakeOrdered
    * top-20, k rows per partition — no global sort, no window.
    */
  private def textPmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val toks = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    val docs = documents(s, dir).select(toks.as("t"))

    val tot = docs
      .agg(
        sum(size(col("t"))).cast("long").as("n_tok"),
        sum(greatest(size(col("t")) - 1, lit(0))).cast("long").as("n_big")
      )

    val uni = docs
      .select(explode(col("t")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w")
      .agg(count(lit(1)).as("c"))

    val big = docs
      .select(
        explode(
          expr("transform(slice(t, 1, size(t) - 1), (x, i) -> struct(x AS w1, t[i + 1] AS w2))")
        ).as("p")
      )
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= 5)

    big
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(tot)
      .select(
        col("w1"),
        col("w2"),
        col("c_xy"),
        floor(
          col("c_xy").cast("double") * lit(1000000.0) * col("n_tok") * col("n_tok") /
            (col("c_x").cast("double") * col("c_y") * col("n_big"))
        ).cast("long").as("pmi_ppm")
      )
      .orderBy(desc("pmi_ppm"), col("w1"), col("w2"))
      .limit(20)
  }

  private val textPmiCollocationsSql =
    """WITH t AS (SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |tot AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS n_tok,
      |               CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT) AS n_big FROM t),
      |uni AS (SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM t)
      |  WHERE length(w) > 0 GROUP BY w),
      |big AS (SELECT u.w1 AS w1, u.w2 AS w2, count(*) AS c_xy FROM (
      |    SELECT unnest([{'w1': toks[i], 'w2': toks[i + 1]} for i in range(1, len(toks))]) AS u
      |    FROM t)
      |  GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT w1, w2, c_xy,
      |  CAST(floor(c_xy * 1000000.0 * n_tok * n_tok /
      |             (a.c * 1.0 * b.c * n_big)) AS BIGINT) AS pmi_ppm
      |FROM big JOIN uni a ON big.w1 = a.w JOIN uni b ON big.w2 = b.w CROSS JOIN tot
      |ORDER BY pmi_ppm DESC, w1, w2 LIMIT 20""".stripMargin

  // ------------------------------------ event transition matrix (B61)

  /** First-order Markov transition matrix over user event streams: for
    * every (previous event type → current event type) pair, the
    * transition count and probability — the behavioral model behind
    * next-action prediction and anomalous-session scoring. Probability
    * is parts-per-million via integer floor division (`1e6·n / total`),
    * exact and engine-independent.
    *
    * Scale shape: the lag window partitions by user and is bounded by a
    * single user's event count (the same per-entity bound as
    * sessionization); transitions then collapse into a map-side-combined
    * hash-agg whose result is EVENT-TYPE² sized — the per-prev totals
    * window runs over that tiny matrix, never the event log.
    */
  private def eventsTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val m = events(s, dir)
      .select(
        col("event_type").as("curr_type"),
        lag(col("event_type"), 1).over(w).as("prev_type")
      )
      .where(col("prev_type").isNotNull)
      .groupBy("prev_type", "curr_type")
      .agg(count(lit(1)).as("n_trans"))
    m.select(
      col("prev_type"),
      col("curr_type"),
      col("n_trans"),
      expr("CAST(n_trans * 1000000 div sum(n_trans) OVER (PARTITION BY prev_type) AS BIGINT)")
        .as("p_ppm")
    )
  }

  private val eventsTransitionsSql =
    """WITH seq AS (SELECT event_type AS curr_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |m AS (SELECT prev_type, curr_type, count(*) AS n_trans
      |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, curr_type, n_trans,
      |  CAST(n_trans * 1000000 // sum(n_trans) OVER (PARTITION BY prev_type) AS BIGINT) AS p_ppm
      |FROM m""".stripMargin

  // ------------------------------------ URL blocklist filtering (B62)

  /** Domain deny-list admission: each staged URL's host is checked
    * against a blocklist with DOMAIN-SUFFIX semantics (an entry blocks
    * itself and every subdomain), the most specific (lowest-priority)
    * matching rule wins, and every document gets an allow/deny decision
    * with the rule that fired — the UT1-style crawl-filtering step that
    * precedes quality scoring. Hosts are staged deterministically from
    * doc fields in three shapes (bare, `cdn.` subdomain, `.org` TLD) so
    * exact, subdomain, and miss paths all exercise.
    *
    * Scale shape: suffix matching is NOT a nested-loop `endswith` scan
    * against the rule table — each host explodes into its ≤ #labels
    * dot-suffixes, which EQUI-join the blocklist (broadcast here; at a
    * UT1-scale million-entry list, still a plain shuffle equi-join —
    * the explode is what keeps it an equi-join at all). One
    * map-side-combined min-prio agg restores one row per document, and
    * the winning rule resolves through a second broadcast of the tiny
    * rule table.
    */
  private def textUrlBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = Seq(
      ("cdn.src7.example.com", 1L),
      ("src3.example.com", 2L),
      ("example.org", 3L)
    ).toDF("rule", "prio")

    val host = expr(
      """CASE CAST(doc_id % 3 AS INT)
        |  WHEN 0 THEN concat('cdn.', source, '.example.com')
        |  WHEN 1 THEN concat(source, '.example.com')
        |  ELSE concat(source, '.example.org') END""".stripMargin
    )
    val staged = documents(s, dir).select(
      col("doc_id"),
      concat(lit("https://"), host, lit("/p/"), col("doc_id").cast("string")).as("url"),
      host.as("host")
    )

    val sufs = staged
      .select(col("doc_id"), col("url"), split(col("host"), "\\.").as("labs"))
      .select(
        col("doc_id"),
        col("url"),
        explode(
          expr("transform(sequence(0, size(labs) - 1), i -> array_join(slice(labs, i + 1, size(labs)), '.'))")
        ).as("suf")
      )

    sufs
      .join(broadcast(rules), col("suf") === col("rule"), "left")
      .groupBy("doc_id", "url")
      .agg(min(col("prio")).as("prio"))
      .join(broadcast(rules.select(col("prio"), col("rule").as("matched_rule"))), Seq("prio"), "left")
      .select(
        col("doc_id"),
        col("url"),
        col("matched_rule"),
        when(col("prio").isNull, lit("allow")).otherwise(lit("deny")).as("decision")
      )
  }

  private val textUrlBlocklistSql =
    """WITH rules(rule, prio) AS (VALUES
      |    ('cdn.src7.example.com', 1), ('src3.example.com', 2), ('example.org', 3)),
      |staged AS (SELECT doc_id,
      |    CASE CAST(doc_id % 3 AS INT)
      |      WHEN 0 THEN 'cdn.' || source || '.example.com'
      |      WHEN 1 THEN source || '.example.com'
      |      ELSE source || '.example.org' END AS host
      |  FROM documents),
      |s2 AS (SELECT doc_id, 'https://' || host || '/p/' || CAST(doc_id AS VARCHAR) AS url,
      |    string_split(host, '.') AS labs FROM staged),
      |sufs AS (SELECT doc_id, url,
      |    unnest([array_to_string(labs[i:], '.') for i in range(1, len(labs) + 1)]) AS suf
      |  FROM s2),
      |m AS (SELECT doc_id, url, min(prio) AS prio
      |  FROM sufs LEFT JOIN rules ON suf = rule GROUP BY 1, 2)
      |SELECT m.doc_id, m.url, r.rule AS matched_rule,
      |  CASE WHEN m.prio IS NULL THEN 'allow' ELSE 'deny' END AS decision
      |FROM m LEFT JOIN rules r ON m.prio = r.prio""".stripMargin

  // ------------------------------------ value winsorization (B63)

  /** Robust-stats preprocessing: clamp each event's value at its event
    * type's exact p01/p99 and flag which side was clamped — the
    * winsorization step that stops a handful of extreme values dominating
    * a downstream mean/regression. Thresholds use the same pure-integer
    * inverted-CDF rule as the quantile calibration (B53): smallest value
    * whose `cum·100 ≥ total` (p01) / `cum·100 ≥ total·99` (p99), so both
    * engines pick the identical threshold with no interpolation.
    *
    * Scale shape: the histogram trick again — event values are 2-dp
    * currency-like, so the (event_type, value) hash-agg has a BOUNDED
    * domain regardless of event count; the cumulative window runs over
    * that small histogram, and the resulting 2-row-per-type threshold
    * table broadcasts back onto the linear scan. The event log itself
    * never sorts and never shuffles.
    */
  private def eventsWinsorize(s: SparkSession, dir: String): DataFrame = {
    val hist = events(s, dir)
      .groupBy("event_type", "value")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("value")
    val cum = hist
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("total", sum("cnt").over(Window.partitionBy("event_type")))
    val th = cum
      .groupBy("event_type")
      .agg(
        min(when(col("cum") * 100 >= col("total"), col("value"))).as("p01"),
        min(when(col("cum") * 100 >= col("total") * 99, col("value"))).as("p99")
      )
    events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(th), Seq("event_type"))
      .select(
        col("event_id"),
        col("event_type"),
        col("value"),
        least(greatest(col("value"), col("p01")), col("p99")).as("value_w"),
        when(col("value") < col("p01"), lit("lo"))
          .when(col("value") > col("p99"), lit("hi"))
          .otherwise(lit("no")).as("clamped")
      )
  }

  private val eventsWinsorizeSql =
    """WITH hist AS (SELECT event_type, value, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |cum AS (SELECT event_type, value,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY value) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS total
      |  FROM hist),
      |th AS (SELECT event_type,
      |    min(CASE WHEN cum * 100 >= total THEN value END) AS p01,
      |    min(CASE WHEN cum * 100 >= total * 99 THEN value END) AS p99
      |  FROM cum GROUP BY 1)
      |SELECT event_id, e.event_type AS event_type, value,
      |  least(greatest(value, p01), p99) AS value_w,
      |  CASE WHEN value < p01 THEN 'lo' WHEN value > p99 THEN 'hi' ELSE 'no' END AS clamped
      |FROM events e JOIN th ON e.event_type = th.event_type""".stripMargin

  // ------------------------------------ host-graph PageRank (B64)

  /** PageRank over a host-level link graph (damping 0.85, 5 power
    * iterations) — the domain-authority prior crawl schedulers and
    * quality priors consume. The graph is staged deterministically from
    * the corpus (each document contributes one weighted source-host →
    * target-host edge); ranks are parts-per-million INTEGERS and every
    * per-edge contribution uses floor division, so both engines replay
    * the exact same fixed-point trajectory — no cross-engine float drift
    * over iterations.
    *
    * Scale shape: each iteration is one equi-join of the rank table with
    * the weighted edge list on `src` followed by a map-side-combined
    * hash-agg on `dst` — the Pregel message round as two relational ops.
    * At web scale both tables co-partition (bucket) on the join key so
    * the per-iteration Exchange disappears; the 1-row node count rides a
    * broadcast. Nothing here is ever quadratic in nodes, and no rank
    * state lives on the driver.
    */
  private def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val edgesRaw = docs.select(
      col("source").as("src"),
      concat(lit("src"), ((col("doc_id") * 7 + 3) % 20).cast("string")).as("dst")
    )
    val edges = edgesRaw
      .where(col("src") =!= col("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("w"))
    val e = edges.join(edges.groupBy("src").agg(sum("w").as("outw")), "src")

    val nodes = docs.select(col("source").as("node")).distinct()
    val ncnt  = nodes.agg(count(lit(1)).as("n"))

    val r0 = nodes.crossJoin(ncnt).select(col("node"), col("n"), expr("1000000 div n").as("rank"))
    val rFinal = (1 to 5).foldLeft(r0) { (r, _) =>
      val contrib = e
        .join(r.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst"), expr("(rank * w) div outw").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("s"))
      nodes
        .crossJoin(ncnt)
        .join(contrib.select(col("dst").as("node"), col("s")), Seq("node"), "left")
        .select(
          col("node"),
          col("n"),
          expr("CAST((150000 div n) + (850000 * coalesce(s, 0L)) div 1000000 AS BIGINT)").as("rank")
        )
    }
    rFinal.select(col("node"), col("rank").as("rank_ppm"))
  }

  private val graphPagerankSql = {
    def iter(k: Int) =
      s"""r$k AS (SELECT n.node, CAST((150000 // nn.n) + (850000 * coalesce(c.s, 0)) // 1000000 AS BIGINT) AS rank
         |  FROM nodes n CROSS JOIN ncnt nn LEFT JOIN (
         |    SELECT e.dst, sum((r.rank * e.w) // e.outw) AS s
         |    FROM e JOIN r${k - 1} r ON e.src = r.node GROUP BY e.dst) c
         |  ON n.node = c.dst)""".stripMargin
    s"""WITH er AS (SELECT source AS src, 'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst
       |  FROM documents),
       |edges AS (SELECT src, dst, count(*) AS w FROM er WHERE src != dst GROUP BY 1, 2),
       |e AS (SELECT edges.src, dst, w, o.outw FROM edges
       |  JOIN (SELECT src, sum(w) AS outw FROM edges GROUP BY 1) o ON edges.src = o.src),
       |nodes AS (SELECT DISTINCT source AS node FROM documents),
       |ncnt AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, 1000000 // n AS rank FROM nodes CROSS JOIN ncnt),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT node, rank AS rank_ppm FROM r5""".stripMargin
  }

  // ------------------------------------ session path mining (B65)

  /** Unsupervised user-journey mining: sessionize each user's stream
    * (30-minute inactivity gap, the same rule as events_sessionize),
    * concatenate each session's ordered event types into a path string,
    * and report the 10 most common paths — the "what do sessions actually
    * look like" complement to the hypothesis-driven funnel (B7).
    *
    * Scale shape: the gap/cumsum windows partition per user (bounded by
    * one user's history); path assembly is an in-group sort of ONE
    * session's events (array_sort over a collect_list, bounded by session
    * length); path counting is a map-side-combined hash-agg on the path
    * string; top-10 is TakeOrdered. Nothing global, no corpus-wide sort.
    */
  private def eventsTopPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val sess = events(s, dir)
      .select(
        col("user_id"), col("event_id"), col("event_type"),
        operators.EventAnalytics.tsMillis(col("ts")).as("ms")
      )
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn(
        "new_s",
        when(col("prev_ms").isNull || (col("ms") - col("prev_ms")) > 1800000L, lit(1L))
          .otherwise(lit(0L))
      )
      .withColumn("sess", sum(col("new_s")).over(w))
    sess
      .groupBy("user_id", "sess")
      .agg(
        array_join(
          expr("transform(array_sort(collect_list(struct(ms, event_id, event_type))), x -> x.event_type)"),
          ">"
        ).as("path")
      )
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), col("path"))
      .limit(10)
  }

  private val eventsTopPathsSql =
    """WITH b AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |l AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM b),
      |s AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s FROM l),
      |s2 AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS sess FROM s),
      |p AS (SELECT user_id, sess, string_agg(event_type, '>' ORDER BY ms, event_id) AS path
      |  FROM s2 GROUP BY 1, 2)
      |SELECT path, count(*) AS n_sessions FROM p GROUP BY 1
      |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin

  // ------------------------------------ co-purchase pair mining (B66)

  /** Market-basket pair mining: the 20 part pairs most often appearing in
    * the same order — the support counts behind "frequently bought
    * together" and association-rule mining.
    *
    * Scale shape: the pair explosion is a SELF-EQUI-JOIN on the order
    * key, so pair generation is bounded by basket size squared (TPC-H
    * baskets ≤ 7 lines), never corpus-quadratic; the distinct and the
    * pair counts are map-side-combined hash-aggs; top-20 is TakeOrdered.
    * AQE handles any hot-order skew the same way it does for B9's salted
    * join fixture.
    */
  private def qCopurchasePairs(s: SparkSession, dir: String): DataFrame =
    // r10: the r9 array-form pair build (GraphOps.copurchasePairCounts —
    // collect_set per order + row-side pair gen, two shuffles) replaces
    // this query's original distinct + self-join + count form (three
    // shuffles plus an every-pair join). Identical semantics: collect_set
    // dedups (order, part), sorted-array pair gen yields u < v.
    // r16: the pair-support table is the session-shared stage (one build
    // serves B66, B94 and the graph edge list); pass the unprojected fact
    // table so the stage key normalizes
    operators.GraphOps
      .copurchasePairCounts(lineitem(s, dir))
      .select(col("u").as("p1"), col("v").as("p2"), col("n_orders"))
      .orderBy(desc("n_orders"), col("p1"), col("p2"))
      .limit(20)

  private val qCopurchasePairsSql =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
      |SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_orders
      |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |GROUP BY 1, 2 ORDER BY n_orders DESC, p1, p2 LIMIT 20""".stripMargin

  // ------------------------------------ daily trend slope (B67)

  /** Per-event-type activity trend: the OLS slope of daily event counts
    * over the day index (days since 2024-01-01), in counts-per-day ppm —
    * the growth/decay detector a metrics pipeline alerts on. Every OLS
    * component (n, Σx, Σy, Σxy, Σxx) is an exact integer sum and the
    * slope is integer floor division of `1e6·(nΣxy − ΣxΣy)` by
    * `(nΣxx − Σx²)`, so both engines produce the identical BIGINT — the
    * B22/B56 exact-arithmetic lesson applied to regression.
    *
    * Scale shape: one (type, day) hash-agg bounds the domain to
    * types × days regardless of event volume; the OLS sums then
    * aggregate that tiny table. The event log is touched exactly once,
    * map-side combined.
    */
  private def eventsTrendSlope(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(
        col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long").as("x")
      )
      .agg(count(lit(1)).as("y"))
    daily
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx")
      )
      .select(
        col("event_type"),
        col("n_days"),
        expr("CAST(((n_days * sxy - sx * sy) * 1000000) div (n_days * sxx - sx * sx) AS BIGINT)")
          .as("slope_ppm")
      )
  }

  private val eventsTrendSlopeSql =
    """WITH daily AS (SELECT event_type,
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
      |    count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |c AS (SELECT event_type, count(*) AS n_days,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n_days,
      |  CAST(((n_days * sxy - sx * sy) * 1000000) // (n_days * sxx - sx * sx) AS BIGINT) AS slope_ppm
      |FROM c""".stripMargin

  // ------------------------------------ inverted index build (B68)

  /** Search-index construction: per vocabulary term, its document
    * frequency and the first 10 postings (smallest doc_ids) — the
    * term→documents table a keyword-search or contamination-lookup
    * service serves from. Postings are capped AT THE AGGREGATE, not
    * after: a real index writer emits sorted segment runs, and the cap
    * here is what keeps a stop-word's posting list from materializing.
    *
    * Scale shape: one hash-agg dedups (term, doc) pairs; the posting cap
    * is the bounded-heap TopKBy (negated doc_id → k SMALLEST ids), so k
    * rows per partition cross the shuffle even for a term in every
    * document — never a collect_set of the whole corpus; df rides the
    * same aggregate.
    */
  private def textInvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val toks = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    documents(s, dir)
      .select(col("doc_id"), explode(toks).as("term"))
      .where(length(col("term")) > 0)
      .distinct()
      .groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        graft.functions.TopKBy
          .topKByLong((-col("doc_id")).cast("double"), col("doc_id"), 10)
          .as("top")
      )
      .select(
        col("term"),
        col("df"),
        array_join(expr("transform(top, x -> CAST(x.id AS STRING))"), ",").as("postings")
      )
  }

  private val textInvertedIndexSql =
    """WITH pairs AS (SELECT DISTINCT doc_id,
      |    unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
      |  FROM documents),
      |p2 AS (SELECT * FROM pairs WHERE length(term) > 0)
      |SELECT term, count(*) AS df,
      |  array_to_string(list_sort(list(doc_id))[:10], ',') AS postings
      |FROM p2 GROUP BY term""".stripMargin

  // ------------------------------------ partial-aggregate merge (B69)

  /** Rollup-from-partials: per-type daily partial aggregates (count, sum,
    * min, max) are MERGED into full-range totals without re-touching raw
    * events — the incremental-aggregation contract behind materialized
    * rollups and cross-datacenter combine. The oracle aggregates the raw
    * table directly, so parity PROVES the two-level merge is lossless
    * (count→sum, sum→sum, min→min, max→max; avg derived at the end, never
    * averaged-of-averages; distinct counts are deliberately absent — they
    * don't merge without a sketch, which is B14's territory).
    *
    * Scale shape: this is exactly Spark's partial/final hash-agg split
    * made explicit at the day level: the daily table is types×days sized,
    * so the merge input is tiny regardless of event volume, and a new
    * day re-aggregates only its own partition.
    */
  private def qPartialMerge(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).as("sv"),
        min(col("value")).as("mn"),
        max(col("value")).as("mx")
      )
    daily
      .groupBy("event_type")
      .agg(
        sum(col("cnt")).as("n_events"),
        sum(col("sv")).as("sv"),
        min(col("mn")).as("min_value"),
        max(col("mx")).as("max_value")
      )
      .select(
        col("event_type"),
        col("n_events"),
        round(col("sv"), 2).cast("double").as("sum_value"),
        col("min_value"),
        col("max_value"),
        round(col("sv").cast("double") / col("n_events"), 6).as("avg_value")
      )
  }

  private val qPartialMergeSql =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value,
      |  min(value) AS min_value, max(value) AS max_value,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_value
      |FROM events GROUP BY 1""".stripMargin

  // ------------------------------------ reciprocal-rank fusion (B70)

  /** Hybrid-retrieval fusion: two rankings of the corpus per query —
    * cosine similarity and raw inner product (they disagree exactly when
    * vector norms vary) — fused by Reciprocal Rank Fusion with the
    * standard k=60, each list cut at top-20, final top-10 per query.
    * Contributions are `1e6 div (60 + rank)` INTEGERS, so fused scores
    * are exact and engine-independent; ranks pin ties via 6-dp-rounded
    * scores then corpus_id.
    *
    * Scale shape: the scored base is the brute-force baseline (B4's
    * documented trade — broadcast queries, linear corpus pass); both
    * rank windows and the fusion run per query partition and the final
    * cut is row_number ≤ 10. The IVF/LSH variants (sim_ivf_topk,
    * sim_rp_lsh) are the scale path for the candidate generation; RRF
    * itself only ever sees the per-query candidate lists.
    */
  private def simRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("e").as("qe"))
    val scored = q
      .join(emb, col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("corpus_id"),
        round(operators.Similarity.cosine(col("qe"), col("e")), 6).as("cos"),
        round(operators.Similarity.dot(col("qe"), col("e")), 6).as("ip")
      )
    val wc = Window.partitionBy("query_id").orderBy(desc("cos"), col("corpus_id"))
    val wi = Window.partitionBy("query_id").orderBy(desc("ip"), col("corpus_id"))
    scored
      .withColumn("ra", row_number().over(wc))
      .withColumn("rb", row_number().over(wi))
      .select(
        col("query_id"),
        col("corpus_id"),
        expr(
          """CAST((CASE WHEN ra <= 20 THEN 1000000 div (60 + ra) ELSE 0 END)
            |   + (CASE WHEN rb <= 20 THEN 1000000 div (60 + rb) ELSE 0 END) AS BIGINT)""".stripMargin
        ).as("rrf_ppm")
      )
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy("query_id").orderBy(desc("rrf_ppm"), col("corpus_id"))).cast("long")
      )
      .filter(col("rank") <= 10)
  }

  private val simRrfFusionSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
      |scored AS (SELECT query_id, c.vec_id AS corpus_id,
      |    round(list_cosine_similarity(qe, c.e), 6) AS cos,
      |    round(list_dot_product(qe, c.e), 6) AS ip
      |  FROM q JOIN v c ON c.vec_id != query_id),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS ra,
      |    row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, corpus_id) AS rb
      |  FROM scored),
      |f AS (SELECT query_id, corpus_id,
      |    CAST((CASE WHEN ra <= 20 THEN 1000000 // (60 + ra) ELSE 0 END)
      |       + (CASE WHEN rb <= 20 THEN 1000000 // (60 + rb) ELSE 0 END) AS BIGINT) AS rrf_ppm
      |  FROM r),
      |g AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_ppm DESC, corpus_id) AS rank
      |  FROM f)
      |SELECT query_id, corpus_id, rrf_ppm, CAST(rank AS BIGINT) AS rank FROM g WHERE rank <= 10""".stripMargin

  // ------------------------------------ hierarchy flattening (B71)

  /** Parent-pointer hierarchy flattening: every node's ROOT ancestor and
    * depth, from a parent-child edge per row — the org-chart / category
    * -tree / BOM traversal a warehouse needs and plain SQL joins can't
    * express for unbounded depth. The hierarchy is staged as an 8-ary
    * forest over doc_ids (parent = id div 8, roots below 8); the oracle
    * walks it with a recursive CTE.
    *
    * Scale shape: POINTER DOUBLING, not row-at-a-time recursion — each
    * round jumps every node twice as far (`jump' = jump(jump)`,
    * accumulating depth), so rounds are O(log depth), never O(depth).
    * Every round is a shuffle equi-join of the node table with itself on
    * the jump key, localCheckpointed to keep the self-referencing
    * lineage linear (without it the plan doubles per round). At 100 TB
    * both sides bucket on id and the per-round Exchange disappears.
    *
    * Depth robustness (r14, the r13 verdict's depth item): the doubling
    * loop lives in `GraphOps.flattenHierarchy` and runs to FIXPOINT —
    * it stops when no node still points at a non-root ancestor —
    * instead of a fixed 5 rounds, which on a hierarchy deeper than 32
    * levels would silently return non-root "roots" while the
    * recursive-CTE oracle walked to completion. HierarchyDepthSpec pins
    * exact roots/depths on a 40-deep chain (past the old cap) and the
    * loud cycle failure.
    */
  private def qHierarchyFlatten(s: SparkSession, dir: String): DataFrame =
    operators.GraphOps.flattenHierarchy(
      documents(s, dir).select(
        col("doc_id").as("id"),
        when(col("doc_id") >= 8, expr("CAST(doc_id div 8 AS BIGINT)")).otherwise(col("doc_id")).as("parent")),
      "id", "parent")
      .select(col("id").as("doc_id"), col("root"), col("depth"))

  private val qHierarchyFlattenSql =
    """WITH RECURSIVE w AS (
      |  SELECT doc_id AS id, doc_id AS cur, CAST(0 AS BIGINT) AS d FROM documents
      |  UNION ALL
      |  SELECT id, cur // 8, d + 1 FROM w WHERE cur >= 8)
      |SELECT id AS doc_id, cur AS root, d AS depth FROM w WHERE cur < 8""".stripMargin

  // ------------------------------------ event debounce (B72)

  /** Telemetry debounce: within each (user, event type) stream, a burst
    * is a run of events each within 6 h of its predecessor; only the
    * burst's LEADING event is kept — the client-retry / double-click
    * collapse that runs before any counting pipeline (the threshold is
    * sized to the fixture's per-key event density so BOTH keep and
    * suppress paths run through the oracle; millisecond-scale gaps are
    * not exercised here). Emits every event with its
    * burst id and a `kept` flag so the downstream filter is one
    * predicate.
    *
    * Scale shape: the same per-key gap/cumsum window pair as
    * sessionization (B7), partitioned by (user, type) — bounded by one
    * key's history, map-side nothing, no joins. The threshold compares
    * integer milliseconds, exact in both engines.
    */
  private def eventsDebounce(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy(col("ms"), col("event_id"))
    events(s, dir)
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        operators.EventAnalytics.tsMillis(col("ts")).as("ms")
      )
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn(
        "new_burst",
        when(col("prev_ms").isNull || (col("ms") - col("prev_ms")) > 21600000L, lit(1L)).otherwise(lit(0L))
      )
      .withColumn("burst", sum(col("new_burst")).over(w))
      .select(
        col("event_id"), col("user_id"), col("event_type"), col("ms"),
        col("burst"),
        (col("new_burst") === 1L).as("kept")
      )
  }

  private val eventsDebounceSql =
    """WITH b AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |l AS (SELECT *, lag(ms) OVER (PARTITION BY user_id, event_type ORDER BY ms, event_id) AS prev_ms FROM b),
      |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 21600000 THEN 1 ELSE 0 END AS new_burst FROM l)
      |SELECT event_id, user_id, event_type, ms,
      |  CAST(sum(new_burst) OVER (PARTITION BY user_id, event_type ORDER BY ms, event_id) AS BIGINT) AS burst,
      |  new_burst = 1 AS kept
      |FROM f""".stripMargin

  // ------------------------------------ KWIC concordance (B73)

  /** Keyword-in-context extraction for the term "data": every occurrence
    * with up to 3 words of left and right context — the concordance view
    * an eval-set reviewer or a contamination analyst reads instead of
    * whole documents.
    *
    * Scale shape: positional explode (linear) filtered to the target
    * term AT the explode, then two dynamic `slice`s over the carried
    * token array — per-hit work bounded by the context width, no joins,
    * no shuffle beyond the scan; the output is hits-sized, not
    * corpus-sized.
    */
  private def textKwic(s: SparkSession, dir: String): DataFrame = {
    val toks = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    documents(s, dir)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), col("t"), posexplode(col("t")).as(Seq("p0", "tok")))
      .where(col("tok") === "data")
      .select(
        col("doc_id"),
        (col("p0") + 1).cast("long").as("pos"),
        array_join(
          expr("slice(t, greatest(p0 + 1 - 3, 1), p0 + 1 - greatest(p0 + 1 - 3, 1))"),
          " "
        ).as("left_ctx"),
        array_join(expr("slice(t, p0 + 2, 3)"), " ").as("right_ctx")
      )
  }

  private val textKwicSql =
    """WITH t AS (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |hits AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos FROM t)
      |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |  coalesce(array_to_string(toks[greatest(pos - 3, 1):pos - 1], ' '), '') AS left_ctx,
      |  coalesce(array_to_string(toks[pos + 1:least(pos + 3, len(toks))], ' '), '') AS right_ctx
      |FROM hits WHERE toks[pos] = 'data'""".stripMargin

  // ------------------------------------ negative sampling (B74)

  /** Contrastive-training negative mining: for each query vector, 10
    * corpus vectors that are NOT among its top-20 cosine neighbors,
    * drawn in md5(query:candidate) order — deterministic pseudo-random
    * negatives, the (query, positive, negative) triplet feed for
    * embedding/reranker training. The md5 draw replaces the PRNG so both
    * engines sample identically (B16/B57's contract).
    *
    * Scale shape: neighbor exclusion reuses the brute-force scored base
    * (B4's documented trade); the draw is a per-query rank window over
    * md5 keys with an early `ra > 20` filter, and only 10 rows per query
    * survive. At corpus scale the exclusion list would come from the
    * IVF/LSH top-k instead — the sampling stage is unchanged.
    */
  private def simNegativeSample(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("e").as("qe"))
    val scored = q
      .join(emb, col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("corpus_id"),
        round(operators.Similarity.cosine(col("qe"), col("e")), 6).as("cos")
      )
    val wc = Window.partitionBy("query_id").orderBy(desc("cos"), col("corpus_id"))
    scored
      .withColumn("ra", row_number().over(wc))
      .where(col("ra") > 20)
      .withColumn("key", md5(concat(col("query_id").cast("string"), lit(":"), col("corpus_id").cast("string"))))
      .withColumn(
        "draw_rank",
        row_number().over(Window.partitionBy("query_id").orderBy(col("key"), col("corpus_id"))).cast("long")
      )
      .where(col("draw_rank") <= 10)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("draw_rank"))
  }

  private val simNegativeSampleSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
      |scored AS (SELECT query_id, c.vec_id AS corpus_id,
      |    round(list_cosine_similarity(qe, c.e), 6) AS cos
      |  FROM q JOIN v c ON c.vec_id != query_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS ra
      |  FROM scored),
      |neg AS (SELECT query_id, corpus_id, cos,
      |    md5(CAST(query_id AS VARCHAR) || ':' || CAST(corpus_id AS VARCHAR)) AS key
      |  FROM r WHERE ra > 20),
      |d AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY key, corpus_id) AS draw_rank
      |  FROM neg)
      |SELECT query_id, corpus_id, cos, CAST(draw_rank AS BIGINT) AS draw_rank
      |FROM d WHERE draw_rank <= 10""".stripMargin

  // ------------------------------------ skip-gram co-occurrence (B75)

  /** word2vec-style training-pair statistics: undirected co-occurrence
    * counts of word pairs within a ±2 token window (canonical order
    * least/greatest), min count 5, top 30 — the co-occurrence matrix
    * skip-gram training samples from, and the windowed complement of
    * B60's adjacency-only PMI bigrams.
    *
    * Scale shape: both offset strips are generated by array transforms
    * INSIDE the scan (linear, ≤ 2 pairs/token) and collapse immediately
    * into one vocab²-bounded map-side-combined hash-agg; top-30 is
    * TakeOrdered. No self-joins, no windows over the corpus.
    */
  private def textSkipgramPairs(s: SparkSession, dir: String): DataFrame = {
    val toks = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    documents(s, dir)
      .select(toks.as("t"))
      .select(
        explode(
          expr(
            """concat(
              |  transform(slice(t, 1, size(t) - 1), (x, i) -> struct(x AS a, t[i + 1] AS b)),
              |  transform(slice(t, 1, greatest(size(t) - 2, 0)), (x, i) -> struct(x AS a, t[i + 2] AS b)))""".stripMargin
          )
        ).as("p")
      )
      .select(least(col("p.a"), col("p.b")).as("w1"), greatest(col("p.a"), col("p.b")).as("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_cooc"))
      .where(col("n_cooc") >= 5)
      .orderBy(desc("n_cooc"), col("w1"), col("w2"))
      .limit(30)
  }

  private val textSkipgramPairsSql =
    """WITH t AS (SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |p AS (SELECT unnest(
      |    [{'a': toks[i], 'b': toks[i + 1]} for i in range(1, len(toks))] ||
      |    [{'a': toks[i], 'b': toks[i + 2]} for i in range(1, len(toks) - 1)]) AS u
      |  FROM t)
      |SELECT least(u.a, u.b) AS w1, greatest(u.a, u.b) AS w2, count(*) AS n_cooc
      |FROM p GROUP BY 1, 2 HAVING count(*) >= 5
      |ORDER BY n_cooc DESC, w1, w2 LIMIT 30""".stripMargin

  // ------------------------------------ langid confusion matrix (B76)

  /** Classifier evaluation harness: the language-ID heuristic (B5)
    * scored against the corpus's ground-truth labels as a confusion
    * matrix — (actual, predicted, count, row-share ppm). The per-class
    * recall diagonal is what gates a language-filter deployment.
    *
    * Scale shape: prediction is B5's scan-fused codegen chain; the
    * matrix is one map-side-combined hash-agg bounded by langs²; the
    * row-share window runs over that tiny matrix. Evaluation adds zero
    * shuffles beyond the count agg.
    */
  private def textLangidConfusion(s: SparkSession, dir: String): DataFrame = {
    val m = operators.TextAnalysis
      .withLangId(documents(s, dir), "text")
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    m.select(
      col("lang"),
      col("lang_pred"),
      col("n"),
      expr("CAST(n * 1000000 div sum(n) OVER (PARTITION BY lang) AS BIGINT)").as("share_ppm")
    )
  }

  private val textLangidConfusionSql = {
    s"""WITH base AS (SELECT doc_id, lang, string_split($normSql, ' ') AS toks FROM documents),
       |v AS (SELECT doc_id, lang,
       |  len(list_filter(toks, x -> list_contains(['the','and','of','is'], x))) AS v_en,
       |  len(list_filter(toks, x -> list_contains(['der','und','die','ist'], x))) AS v_de,
       |  len(list_filter(toks, x -> list_contains(['le','et','les','est'], x))) AS v_fr,
       |  len(list_filter(toks, x -> list_contains(['el','y','los','es'], x))) AS v_es,
       |  len(list_filter(toks, x -> list_contains(['的','是','了','在'], x))) AS v_zh
       |FROM base),
       |pred AS (SELECT lang, CASE
       |  WHEN v_en >= greatest(v_de,v_fr,v_es,v_zh) THEN 'en'
       |  WHEN v_de >= greatest(v_fr,v_es,v_zh) THEN 'de'
       |  WHEN v_fr >= greatest(v_es,v_zh) THEN 'fr'
       |  WHEN v_es >= v_zh THEN 'es'
       |  ELSE 'zh' END AS lang_pred FROM v),
       |m AS (SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2)
       |SELECT lang, lang_pred, n,
       |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
       |FROM m""".stripMargin
  }

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_pmi_collocations", Seq("B60"), textPmiCollocations, textPmiCollocationsSql),
    QuerySpec("events_transitions", Seq("B61"), eventsTransitions, eventsTransitionsSql),
    QuerySpec("text_url_blocklist", Seq("B62"), textUrlBlocklist, textUrlBlocklistSql),
    QuerySpec("events_winsorize", Seq("B63"), eventsWinsorize, eventsWinsorizeSql),
    QuerySpec("graph_pagerank", Seq("B64"), graphPagerank, graphPagerankSql),
    QuerySpec("events_top_paths", Seq("B65"), eventsTopPaths, eventsTopPathsSql),
    QuerySpec("q_copurchase_pairs", Seq("B66"), qCopurchasePairs, qCopurchasePairsSql),
    QuerySpec("events_trend_slope", Seq("B67"), eventsTrendSlope, eventsTrendSlopeSql),
    QuerySpec("text_inverted_index", Seq("B68"), textInvertedIndex, textInvertedIndexSql),
    QuerySpec("q_partial_merge", Seq("B69"), qPartialMerge, qPartialMergeSql),
    QuerySpec("sim_rrf_fusion", Seq("B70"), simRrfFusion, simRrfFusionSql),
    QuerySpec("q_hierarchy_flatten", Seq("B71"), qHierarchyFlatten, qHierarchyFlattenSql),
    QuerySpec("events_debounce", Seq("B72"), eventsDebounce, eventsDebounceSql),
    QuerySpec("text_kwic", Seq("B73"), textKwic, textKwicSql),
    QuerySpec("sim_negative_sample", Seq("B74"), simNegativeSample, simNegativeSampleSql),
    QuerySpec("text_skipgram_pairs", Seq("B75"), textSkipgramPairs, textSkipgramPairsSql),
    QuerySpec("text_langid_confusion", Seq("B76"), textLangidConfusion, textLangidConfusionSql)
  )
}
