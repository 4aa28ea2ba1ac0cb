package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-13 additions, batch 61 (B314–B317): Markov removal-effect
  * attribution, the join-order cost surface, conditional character
  * entropy, and stand-in scene-cut detection.
  */
object QueriesExt87 {

  // ------------------------- Markov removal-effect attribution (B314)

  /** `events_attribution_markov` — data-driven multi-touch attribution
    * (Anderl et al., public): user journeys (non-purchase touches up to
    * the first purchase) define a first-order Markov chain over states
    * {START, channels…, CONV, NULL}; the chain's conversion probability
    * is solved by 20 rounds of integer-ppm value iteration (p(s) =
    * ⌊Σ_d cnt·p(d) / tot_s⌋ — B64's floor-division fixed-point
    * discipline), and each channel's credit is its REMOVAL EFFECT: how
    * much conversion drops when transitions into it are rerouted to
    * NULL. Rule-based models (B83 last-touch, B313 U-shape) assert a
    * credit shape; this measures one from the transition structure.
    *
    * The transition matrix is channel-bounded (≤ (types+2)² cells), so
    * the value iteration runs on the DRIVER over the collected
    * aggregate — the same bounded-metadata pattern as GraphOps'
    * convergence scalars, NOT a data collect; the corpus-sized work is
    * exactly one keyed window pass + one (src, dst) count.
    *
    * Determinism: all-integer ppm trajectory (every quantity
    * non-negative, so Scala's truncating `/` and DuckDB's flooring `//`
    * agree); removal can only lower conversion (dst → NULL replaces
    * p(dst) with 0, and floors are monotone), so effects are provably
    * ≥ 0 — spec-pinned.
    */
  private def eventsAttributionMarkov(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), expr("unix_millis(ts)").as("ms"))
    val conv = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ms")).as("conv_ms"))
    val kept = ev.join(conv, Seq("user_id"), "left")
      .filter(col("event_type") =!= "purchase")
      .filter(col("conv_ms").isNull || col("ms") < col("conv_ms"))
    val wAsc  = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val wDesc = Window.partitionBy(col("user_id")).orderBy(col("ms").desc, col("event_id").desc)
    val seq = kept
      .withColumn("prev", lag(col("event_type"), 1).over(wAsc))
      .withColumn("rnd", row_number().over(wDesc))
      .withColumn("converted", col("conv_ms").isNotNull)
    val inner = seq.select(coalesce(col("prev"), lit("START")).as("src"), col("event_type").as("dst"))
    val terminal = seq.filter(col("rnd") === 1)
      .select(col("event_type").as("src"),
        when(col("converted"), lit("CONV")).otherwise(lit("NULL")).as("dst"))
    val loneConv = conv.join(kept.select(col("user_id")).distinct(), Seq("user_id"), "left_anti")
      .select(lit("START").as("src"), lit("CONV").as("dst"))
    val trans = inner.unionByName(terminal).unionByName(loneConv)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))

    // channel-bounded matrix — driver-side exact integer value iteration
    val cells: Seq[(String, String, Long)] =
      trans.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val tots: Map[String, Long] =
      cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val states: Seq[String] =
      (cells.map(_._1) ++ cells.map(_._2)).distinct.sorted
    def pStart(removed: Option[String]): Long = {
      val t = cells
        .map { case (s0, d0, c) => (s0, if (removed.contains(d0)) "NULL" else d0, c) }
        .groupBy(x => (x._1, x._2)).toSeq
        .map { case ((s0, d0), v) => (s0, d0, v.map(_._3).sum) }
      var p: Map[String, Long] =
        states.map(st => st -> (if (st == "CONV") 1000000L else 0L)).toMap
      for (_ <- 1 to 20) {
        p = states.map { st =>
          st -> (st match {
            case "CONV" => 1000000L
            case "NULL" => 0L
            case _ =>
              val tot = tots.getOrElse(st, 0L)
              if (tot == 0L) 0L
              else t.filter(_._1 == st).map { case (_, d, c) => c * p.getOrElse(d, 0L) }.sum / tot
          })
        }.toMap
      }
      p.getOrElse("START", 0L)
    }
    val channels = states.filterNot(Set("START", "CONV", "NULL").contains).sorted
    val pFull = pStart(None)
    val effects = channels.map { c =>
      val pc  = pStart(Some(c))
      val eff = if (pFull == 0L) 0L else 1000000L - pc * 1000000L / pFull
      (c, pFull, pc, eff)
    }
    val effSum = effects.map(_._4).sum
    val out = effects.map { case (c, pf, pc, eff) =>
      (c, pf, pc, eff, if (effSum == 0L) 0L else eff * 1000000L / effSum)
    }
    s.createDataFrame(out).toDF(
      "channel", "p_conv_full_ppm", "p_conv_removed_ppm",
      "removal_effect_ppm", "attribution_share_ppm")
  }

  private val eventsAttributionMarkovSql = {
    // the oracle's channel universe is derived from the SAME fixture
    // constant the Spark side's data-driven state set resolves to —
    // every non-purchase event type (r13 advice: a hardcoded list here
    // would silently decouple from a fixture domain change)
    val channels = graft.sources.SyntheticEventsSource.EventTypes.toSeq.filter(_ != "purchase").sorted
    // value iteration as a RECURSIVE CTE per scenario (k rides along,
    // the recursive step sees only iteration k−1's 7 rows): the first
    // formulation unrolled 5×20 plain CTEs and DuckDB's planner choked
    // on the 20-deep join nest — the recursive form plans in
    // milliseconds and runs 7 rows × 20 steps
    def scenario(tag: String, removed: Option[String]): String = {
      val transCte = removed match {
        case Some(c) =>
          s"""trans_$tag AS MATERIALIZED (SELECT src, CASE WHEN dst = '$c' THEN 'NULL' ELSE dst END AS dst,
             |    CAST(sum(cnt) AS BIGINT) AS cnt
             |  FROM trans GROUP BY 1, 2)""".stripMargin
        case None =>
          s"trans_$tag AS MATERIALIZED (SELECT src, dst, cnt FROM trans)"
      }
      val rec =
        s"""pit_$tag(k, state, p) AS (
           |  SELECT 0, state, CASE WHEN state = 'CONV' THEN CAST(1000000 AS BIGINT) ELSE 0 END FROM states
           |  UNION ALL
           |  SELECT kk.k + 1, st.state,
           |    CASE WHEN st.state = 'CONV' THEN 1000000
           |         WHEN st.state = 'NULL' THEN 0
           |         ELSE coalesce(c.v, 0) END
           |  FROM states st
           |  CROSS JOIN (SELECT DISTINCT k FROM pit_$tag) kk
           |  LEFT JOIN (
           |    SELECT t.src AS state, CAST(sum(t.cnt * p.p) AS BIGINT) // max(tt.tot) AS v
           |    FROM trans_$tag t JOIN pit_$tag p ON p.state = t.dst
           |    JOIN tots tt ON tt.src = t.src
           |    GROUP BY t.src) c ON c.state = st.state
           |  WHERE kk.k < 20)""".stripMargin
      s"$transCte,\n$rec"
    }
    val scen = scenario("full", None) +: channels.map(c => scenario(c, Some(c)))
    val effRows = channels.map { c =>
      s"""SELECT '$c' AS channel,
         |  (SELECT p FROM pit_full WHERE k = 20 AND state = 'START') AS pf,
         |  (SELECT p FROM pit_$c WHERE k = 20 AND state = 'START') AS pc""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE ev AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
       |conv AS (SELECT user_id, min(ms) AS conv_ms FROM ev WHERE event_type = 'purchase' GROUP BY 1),
       |kept AS (SELECT e.user_id, e.event_id, e.event_type, e.ms, c.conv_ms IS NOT NULL AS converted
       |  FROM ev e LEFT JOIN conv c USING (user_id)
       |  WHERE e.event_type != 'purchase' AND (c.conv_ms IS NULL OR e.ms < c.conv_ms)),
       |sq AS (SELECT user_id, event_type, converted,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC) AS rnd
       |  FROM kept),
       |inner0 AS (SELECT coalesce(prev, 'START') AS src, event_type AS dst FROM sq),
       |term AS (SELECT event_type AS src, CASE WHEN converted THEN 'CONV' ELSE 'NULL' END AS dst
       |  FROM sq WHERE rnd = 1),
       |lone AS (SELECT 'START' AS src, 'CONV' AS dst FROM conv c
       |  WHERE NOT EXISTS (SELECT 1 FROM kept k WHERE k.user_id = c.user_id)),
       |trans AS MATERIALIZED (SELECT src, dst, count(*) AS cnt FROM (
       |    SELECT * FROM inner0 UNION ALL SELECT * FROM term UNION ALL SELECT * FROM lone)
       |  GROUP BY 1, 2),
       |tots AS MATERIALIZED (SELECT src, CAST(sum(cnt) AS BIGINT) AS tot FROM trans GROUP BY 1),
       |states AS MATERIALIZED (SELECT DISTINCT state FROM (
       |    SELECT src AS state FROM trans UNION SELECT dst FROM trans)),
       |${scen.mkString(",\n")},
       |eff AS (SELECT channel, pf, pc,
       |    CASE WHEN pf = 0 THEN 0 ELSE 1000000 - pc * 1000000 // pf END AS eff
       |  FROM ($effRows))
       |SELECT channel, CAST(pf AS BIGINT) AS p_conv_full_ppm,
       |  CAST(pc AS BIGINT) AS p_conv_removed_ppm,
       |  CAST(eff AS BIGINT) AS removal_effect_ppm,
       |  CAST(CASE WHEN sum(eff) OVER () = 0 THEN 0
       |       ELSE eff * 1000000 // sum(eff) OVER () END AS BIGINT) AS attribution_share_ppm
       |FROM eff""".stripMargin
  }

  // ------------------------- join-order cost surface (B315)

  /** `q_join_order_surface` — the optimizer-trust audit for JOIN ORDER
    * (the B297 selectivity audit's sibling): for q3's filtered
    * customer/orders/lineitem star, the exact intermediate cardinality
    * of every left-deep start — the two connected starts (C⋈O, O⋈L)
    * measured by real counts, and the disconnected start (C×L) priced
    * arithmetically as |C|·|L| (computed, never executed). The table an
    * operator reads to see WHY join order dominates cost at 100 TB, and
    * what a mis-ordered plan would have paid.
    *
    * Scale shape: three filtered scans + two keyed-join counts — every
    * number is a count agg; the cartesian row is pure multiplication of
    * two 1-row counts.
    */
  private def qJoinOrderSurface(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = orders(s, dir).filter(col("o_orderdate") < lit("1998-06-30").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = lineitem(s, dir).filter(col("l_shipdate") > lit("1998-06-30").cast("timestamp"))
      .select(col("l_orderkey"))
    val co = c.join(o, c("c_custkey") === o("o_custkey")).agg(count(lit(1)).as("n")).select(col("n"))
    val ol = o.join(l, o("o_orderkey") === l("l_orderkey")).agg(count(lit(1)).as("n")).select(col("n"))
    val nc = c.agg(count(lit(1)).as("n")).select(col("n"))
    val nl = l.agg(count(lit(1)).as("n")).select(col("n"))
    val fin = c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .agg(count(lit(1)).as("n")).select(col("n"))
    val surface = co.select(lit("(C⋈O)⋈L").as("join_order"), col("n").as("inter1_rows"))
      .unionByName(ol.select(lit("(O⋈L)⋈C").as("join_order"), col("n").as("inter1_rows")))
      .unionByName(nc.crossJoin(nl.select(col("n").as("n2")))
        .select(lit("(C×L)⋈O").as("join_order"), expr("n * n2").as("inter1_rows")))
    val best = surface.agg(min(col("inter1_rows")).as("best"))
    surface
      .crossJoin(broadcast(fin.select(col("n").as("final_rows"))))
      .crossJoin(broadcast(best))
      .select(col("join_order"), col("inter1_rows"), col("final_rows"),
        // DECIMAL(38,0) numerator (the B309 littles_ratio_ppm route): the
        // cartesian row's inter1_rows is |C|·|L|, so *1000 in BIGINT
        // overflows once |C|·|L| > ~9.2e15 — sf1000-class, exactly the
        // scale this audit is meant to price (r13 advice)
        expr("CASE WHEN best = 0 THEN NULL ELSE CAST(CAST(inter1_rows AS DECIMAL(38,0)) * 1000 div best AS BIGINT) END")
          .as("blowup_milli"))
  }

  private val qJoinOrderSurfaceSql =
    """WITH c AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      |o AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-30'),
      |l AS (SELECT l_orderkey FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-06-30'),
      |co AS (SELECT count(*) AS n FROM c JOIN o ON c.c_custkey = o.o_custkey),
      |ol AS (SELECT count(*) AS n FROM o JOIN l ON o.o_orderkey = l.l_orderkey),
      |nc AS (SELECT count(*) AS n FROM c),
      |nl AS (SELECT count(*) AS n FROM l),
      |fin AS (SELECT count(*) AS n FROM c JOIN o ON c.c_custkey = o.o_custkey
      |  JOIN l ON o.o_orderkey = l.l_orderkey),
      |surface AS (
      |  SELECT '(C⋈O)⋈L' AS join_order, n AS inter1_rows FROM co
      |  UNION ALL SELECT '(O⋈L)⋈C', n FROM ol
      |  UNION ALL SELECT '(C×L)⋈O', nc.n * nl.n FROM nc, nl),
      |best AS (SELECT min(inter1_rows) AS best FROM surface)
      |SELECT join_order, CAST(inter1_rows AS BIGINT) AS inter1_rows,
      |  CAST(fin.n AS BIGINT) AS final_rows,
      |  CAST(CASE WHEN best = 0 THEN NULL
      |       ELSE CAST(inter1_rows AS HUGEINT) * 1000 // best END AS BIGINT) AS blowup_milli
      |FROM surface, fin, best""".stripMargin

  // ------------------------- conditional character entropy (B316)

  /** `text_conditional_entropy` — per source, the corpus's character
    * unigram entropy H(C) beside the bigram CONDITIONAL entropy
    * H(C₂|C₁) and the predictability gain between them, in micro-nats:
    * the compressibility floor of each source's text. B142 measures
    * H(C) alone (the OCR-garbage discriminator); the conditional term
    * is what a bigram LM (B58) can actually exploit — a source whose
    * gain is near zero is effectively random bytes no matter how normal
    * its unigram histogram looks.
    *
    * Determinism: per-(source, gram) probability terms snap to integer
    * micro-nats BEFORE their sums (charset-bounded term count — the
    * B312 discipline), so no cross-row double ordering exists.
    *
    * Scale shape: one bigram explode (B58's Generate+substr form) into
    * a (source, charset²)-bounded count; everything downstream is
    * arithmetic on that bounded table.
    */
  private def textConditionalEntropy(s: SparkSession, dir: String): DataFrame = {
    val bg = documents(s, dir)
      .select(col("source"), operators.TextAnalysis.normalize(col("text")).as("nrm"))
      .filter(length(col("nrm")) >= 2)
      // r15: one-pass CharNGrams replaces Generate(sequence)+substring
      // (per-position substring = O(len²) byte scans per doc); the
      // (c1, c2) split still happens on the charset²-bounded aggregate
      .select(col("source"),
        explode(graft.functions.CharNGrams.charNGrams(col("nrm"), 2)).as("b"))
    // (source × charset²)-bounded — localCheckpoint so the 10M-row-class
    // bigram explode runs ONCE (uni/tot/hCond each re-evaluated it
    // otherwise; the sf1 probe read 8.1×/decade, the explode ran 3×)
    val big = bg.groupBy(col("source"), col("b")).agg(count(lit(1)).as("n12"))
      .select(col("source"), expr("substring(b, 1, 1)").as("c1"),
        expr("substring(b, 2, 1)").as("c2"), col("n12"))
      .localCheckpoint(true)
    val uni = big.groupBy(col("source"), col("c1")).agg(sum(col("n12")).as("n1"))
    val tot = big.groupBy(col("source")).agg(sum(col("n12")).as("nn"))
    val hUni = uni.join(tot, Seq("source"))
      .groupBy(col("source"))
      .agg(sum(expr(
        "CAST(round(-(CAST(n1 AS DOUBLE) / nn) * ln(CAST(n1 AS DOUBLE) / nn) * 1000000, 0) AS BIGINT)"))
        .as("h_unigram_micro"))
    val hCond = big.join(uni, Seq("source", "c1")).join(tot, Seq("source"))
      .groupBy(col("source"))
      .agg(sum(expr(
        "CAST(round(-(CAST(n12 AS DOUBLE) / nn) * ln(CAST(n12 AS DOUBLE) / n1) * 1000000, 0) AS BIGINT)"))
        .as("h_cond_micro"))
    hUni.join(hCond, Seq("source")).join(tot, Seq("source"))
      .select(col("source"), col("nn").as("n_bigrams"),
        col("h_unigram_micro"), col("h_cond_micro"),
        expr("CASE WHEN h_unigram_micro = 0 THEN 0 ELSE " +
          "(h_unigram_micro - h_cond_micro) * 1000000 div h_unigram_micro END").as("gain_ppm"))
  }

  private val textConditionalEntropySql = {
    import Parity.normSql
    s"""WITH nrm AS (SELECT source, $normSql AS nrm FROM documents),
       |bg AS (SELECT source, substr(nrm, i, 2) AS b
       |  FROM (SELECT source, nrm, unnest(range(1, length(nrm))) AS i
       |        FROM nrm WHERE length(nrm) >= 2)),
       |big AS (SELECT source, substr(b, 1, 1) AS c1, substr(b, 2, 1) AS c2, count(*) AS n12
       |  FROM bg GROUP BY source, b),
       |uni AS (SELECT source, c1, CAST(sum(n12) AS BIGINT) AS n1 FROM big GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(n12) AS BIGINT) AS nn FROM big GROUP BY 1),
       |hu AS (SELECT u.source, CAST(sum(CAST(round(-(CAST(n1 AS DOUBLE) / nn) *
       |      ln(CAST(n1 AS DOUBLE) / nn) * 1000000) AS BIGINT)) AS BIGINT) AS h_unigram_micro
       |  FROM uni u JOIN tot t ON t.source = u.source GROUP BY 1),
       |hcnd AS (SELECT b.source, CAST(sum(CAST(round(-(CAST(n12 AS DOUBLE) / nn) *
       |      ln(CAST(n12 AS DOUBLE) / n1) * 1000000) AS BIGINT)) AS BIGINT) AS h_cond_micro
       |  FROM big b JOIN uni u ON u.source = b.source AND u.c1 = b.c1
       |  JOIN tot t ON t.source = b.source GROUP BY 1)
       |SELECT hu.source, t.nn AS n_bigrams, hu.h_unigram_micro, hcnd.h_cond_micro,
       |  CAST(CASE WHEN hu.h_unigram_micro = 0 THEN 0 ELSE
       |    (hu.h_unigram_micro - hcnd.h_cond_micro) * 1000000 // hu.h_unigram_micro END AS BIGINT)
       |    AS gain_ppm
       |FROM hu JOIN hcnd ON hcnd.source = hu.source JOIN tot t ON t.source = hu.source""".stripMargin
  }

  // ------------------------- scene-cut detection stand-in (B317)

  /** `mm_scene_cuts` — shot-boundary detection over the stand-in video
    * payloads (B6's frame-sampling plumbing, 16 frames/doc): a cut is an
    * adjacent-frame signature jump ≥ 16 (the char code at each sampled
    * offset — the fixture's ASCII stand-in for a frame histogram
    * distance); per source, docs, total cuts, mean cuts per doc (milli)
    * and the busiest doc. The segmentation step a video-training
    * pipeline runs before B6's frame sampling so samples land INSIDE
    * shots rather than across them — here with the decode stubbed, the
    * Spark-side shape (offset generation, per-frame lag, per-doc and
    * per-source rollups) is the real deliverable.
    *
    * Scale shape: frame explode is 16×docs (linear); the lag runs per
    * doc over 16 rows; rollups are doc- then source-keyed aggs.
    */
  private def mmSceneCuts(s: SparkSession, dir: String): DataFrame = {
    val frames = documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"), length(col("text")).cast("long").as("n_chars2"))
      .select(col("doc_id"), col("source"), col("text"),
        explode(sequence(lit(0), lit(15))).as("i"), col("n_chars2"))
      .select(col("doc_id"), col("source"), col("i"),
        ascii(expr("substring(text, CAST(n_chars2 * i div 16 AS INT) + 1, 1)")).cast("long").as("sig"))
    val wF = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val cuts = frames
      .withColumn("prev", lag(col("sig"), 1).over(wF))
      .withColumn("is_cut", col("prev").isNotNull && abs(col("sig") - col("prev")) >= 16)
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(when(col("is_cut"), 1L).otherwise(0L)).as("n_cuts"))
    cuts.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_cuts")).as("total_cuts"),
        expr("sum(n_cuts) * 1000 div count(1)").as("mean_cuts_milli"),
        max(col("n_cuts")).as("max_cuts"))
  }

  private val mmSceneCutsSql =
    """WITH frames AS (SELECT doc_id, source, i,
      |    CAST(ascii(substr(text, CAST(length(text) * i // 16 AS INT) + 1, 1)) AS BIGINT) AS sig
      |  FROM documents, range(0, 16) t(i)),
      |cuts AS (SELECT doc_id, source,
      |    CAST(sum(CASE WHEN prev IS NOT NULL AND abs(sig - prev) >= 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
      |  FROM (SELECT doc_id, source, sig,
      |      lag(sig) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      |    FROM frames)
      |  GROUP BY 1, 2)
      |SELECT source, count(*) AS n_docs, CAST(sum(n_cuts) AS BIGINT) AS total_cuts,
      |  CAST(CAST(sum(n_cuts) AS BIGINT) * 1000 // count(*) AS BIGINT) AS mean_cuts_milli,
      |  max(n_cuts) AS max_cuts
      |FROM cuts GROUP BY 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_attribution_markov", Seq("B314"), eventsAttributionMarkov, eventsAttributionMarkovSql),
    QuerySpec("q_join_order_surface", Seq("B315"), qJoinOrderSurface, qJoinOrderSurfaceSql),
    QuerySpec("text_conditional_entropy", Seq("B316"), textConditionalEntropy, textConditionalEntropySql),
    QuerySpec("mm_scene_cuts", Seq("B317"), mmSceneCuts, mmSceneCutsSql)
  )
}
