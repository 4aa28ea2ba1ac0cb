package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-13 additions, batch 60 (B310–B313): HITS hubs/authorities,
  * TextRank sentence extraction, cluster purity vs labels, and U-shaped
  * multi-touch attribution.
  */
object QueriesExt86 {

  // ------------------------- HITS hubs & authorities (B310)

  /** `graph_hits_scores` — Kleinberg's HITS over the staged host link
    * graph (B64's directed edges): authority(v) = Σ hub of in-links,
    * hub(u) = Σ authority of out-links, sum-normalized to ppm after
    * every half-step, two full iterations. PageRank (B64) answers "who
    * is globally important"; HITS separates "who is POINTED AT by good
    * pointers" (authority — the quality-prior side) from "who POINTS AT
    * good targets" (hub — the directory/index side) — crawl scheduling
    * wants both lists.
    *
    * Determinism: B64's fixed-point discipline verbatim — integer ppm
    * scores, floor division on every contribution and every
    * normalization (all quantities non-negative, so Spark's `div` and
    * DuckDB's `//` agree), no cross-engine float drift over iterations.
    *
    * Scale shape: each half-step is one equi-join of the score table
    * with the weighted edge list + a map-side-combined hash-agg on the
    * other endpoint, exactly the Pregel round B64 documents; the 1-row
    * normalizer rides a broadcast.
    */
  private def graphHitsScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, dir)
    // two staged families (the B97 trick): the n_chars-modulated spread
    // family plus a 7-target concentration family — a regular single
    // family (B64's) makes HITS exactly uniform, which tells nobody
    // anything; the concentration family gives authorities real skew
    //
    // r15: ONE corpus pass builds the weighted edge list, which is
    // (sources × 27 buckets)-bounded by construction — model-sized at
    // ANY corpus volume — so the two fixed-point iterations run on the
    // COLLECTED edge table in plain Scala with the identical integer-ppm
    // floor arithmetic (the B237/B240 driver-iteration class). The old
    // form unrolled both iterations into one ~10,000-operator plan over
    // ≤|sources|-row frames: four corpus-scan subtrees, a dozen
    // broadcasts, and the planner itself as the dominant cost (3.7 s at
    // sf0.1, SLOWER at sf0.001 — the job-count-bound signature).
    // r16 guard: the bound here is |distinct sources| × 27 — a property
    // of the CURRENT data, not a construction bound, so the collect fails
    // loudly if a high-cardinality fixture ever voids the assumption
    val edgeRows: Array[(String, String, Long)] = operators.DriverBound.collectBounded(
      docs
        .select(
          col("source").as("src"),
          concat(lit("src"), ((col("doc_id") * 7 + col("n_chars")) % 20).cast("string")).as("dst"))
        .unionByName(docs.select(
          col("source").as("src"),
          concat(lit("src"), (col("n_chars") % 7).cast("string")).as("dst")))
        .where(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w")),
      "graph_hits_scores weighted edge list (sources × 27 buckets)"
    ).map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nodes: Array[String] = operators.DriverBound.collectBounded(
      docs.select(col("source").as("node")).distinct(),
      "graph_hits_scores node list (distinct sources)"
    ).map(_.getString(0)).sorted
    val n = nodes.length.toLong

    // B64's fixed-point discipline verbatim: integer ppm scores, floor
    // division on every contribution and normalization (all quantities
    // non-negative, so truncation = floor = `div` = `//`)
    def normalize(raw: Map[String, Long]): Map[String, Long] = {
      val tot = nodes.iterator.map(raw.getOrElse(_, 0L)).sum
      nodes.iterator.map { nd =>
        nd -> (if (tot == 0) 0L else raw.getOrElse(nd, 0L) * 1000000L / tot)
      }.toMap
    }
    var h: Map[String, Long] = nodes.iterator.map(_ -> 1000000L / n).toMap
    var a: Map[String, Long] = h
    for (_ <- 1 to 2) {
      val aRaw = edgeRows.iterator
        .filter { case (src, dst, _) => h.contains(src) && h.contains(dst) }
        .map { case (src, dst, w) => dst -> h(src) * w }
        .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
      a = normalize(aRaw)
      val hRaw = edgeRows.iterator
        .filter { case (src, dst, _) => h.contains(src) && h.contains(dst) }
        .map { case (src, dst, w) => src -> a(dst) * w }
        .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
      h = normalize(hRaw)
    }
    nodes.toSeq.map(nd => (nd, h(nd), a(nd))).toDF("node", "hub_ppm", "auth_ppm")
  }

  private val graphHitsScoresSql = {
    def halfA(k: Int, hPrev: String) =
      s"""araw$k AS (SELECT n.node, coalesce(c.a, 0) AS a FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(h.h * e.w) AS a
         |    FROM e JOIN $hPrev h ON e.src = h.node GROUP BY 1) c ON n.node = c.node),
         |atot$k AS (SELECT sum(a) AS tot FROM araw$k),
         |a$k AS (SELECT node, CAST(CASE WHEN tot = 0 THEN 0 ELSE a * 1000000 // tot END AS BIGINT) AS a
         |  FROM araw$k, atot$k)""".stripMargin
    def halfH(k: Int) =
      s"""hraw$k AS (SELECT n.node, coalesce(c.h, 0) AS h FROM nodes n LEFT JOIN (
         |    SELECT e.src AS node, sum(a.a * e.w) AS h
         |    FROM e JOIN a$k a ON e.dst = a.node GROUP BY 1) c ON n.node = c.node),
         |htot$k AS (SELECT sum(h) AS tot FROM hraw$k),
         |h$k AS (SELECT node, CAST(CASE WHEN tot = 0 THEN 0 ELSE h * 1000000 // tot END AS BIGINT) AS h
         |  FROM hraw$k, htot$k)""".stripMargin
    s"""WITH er AS (SELECT source AS src, 'src' || CAST((doc_id * 7 + n_chars) % 20 AS VARCHAR) AS dst
       |  FROM documents
       |  UNION ALL SELECT source, 'src' || CAST(n_chars % 7 AS VARCHAR) FROM documents),
       |e AS (SELECT src, dst, count(*) AS w FROM er WHERE src != dst GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT source AS node FROM documents),
       |ncnt AS (SELECT count(*) AS n FROM nodes),
       |h0 AS (SELECT node, 1000000 // n AS h FROM nodes CROSS JOIN ncnt),
       |${halfA(1, "h0")},
       |${halfH(1)},
       |${halfA(2, "h1")},
       |${halfH(2)}
       |SELECT h2.node, h2.h AS hub_ppm, a2.a AS auth_ppm
       |FROM h2 JOIN a2 ON h2.node = a2.node""".stripMargin
  }

  // ------------------------- TextRank sentence extraction (B311)

  /** `text_textrank_sentences` — TextRank (Mihalcea & Tarau, public)
    * extractive summarization: per document, sentences are graph nodes,
    * edge weight = shared distinct tokens ·1e6 div (lenᵢ+lenⱼ), and two
    * damped power-iteration rounds (B64's exact integer-ppm trajectory,
    * run per-document) rank them; the top sentence of each of 20
    * md5-sampled docs is the extractive summary line. B13's tf-idf finds
    * corpus-salient WORDS; this finds document-central SENTENCES — the
    * summarization primitive next to them.
    *
    * Scale shape: every stage is per-document bounded — the sentence
    * self-join and the power iterations touch only one doc's ≤dozens of
    * sentences at a time, keyed on doc_id (never a corpus-wide graph);
    * the output sample is the bounded md5 rank discipline.
    */
  private def textTextrankSentences(s: SparkSession, dir: String): DataFrame = {
    val sent = documents(s, dir)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), '[.!?]+'), x -> trim(x))"))
          .as(Seq("sid", "stext")))
      .filter(length(col("stext")) > 0)
      .withColumn("sid", col("sid").cast("long"))
      .persist() // consumed by tokenization, the count, r0 and the final text join
    val sTok = sent
      .select(col("doc_id"), col("sid"),
        explode(array_distinct(split(col("stext"), " "))).as("tok"))
    val sLen = sTok.groupBy(col("doc_id"), col("sid")).agg(count(lit(1)).as("slen"))
    val shared = sTok.as("x")
      .join(sTok.as("y"),
        col("x.doc_id") === col("y.doc_id") && col("x.tok") === col("y.tok") &&
          col("x.sid") =!= col("y.sid"))
      .groupBy(col("x.doc_id").as("doc_id"), col("x.sid").as("si"), col("y.sid").as("sj"))
      .agg(count(lit(1)).as("nshared"))
    val edges = shared
      .join(sLen.select(col("doc_id"), col("sid").as("si"), col("slen").as("li")), Seq("doc_id", "si"))
      .join(sLen.select(col("doc_id"), col("sid").as("sj"), col("slen").as("lj")), Seq("doc_id", "sj"))
      .select(col("doc_id"), col("si"), col("sj"),
        expr("nshared * 1000000 div (li + lj)").as("w"))
      .filter(col("w") > 0)
    val outW = edges.groupBy(col("doc_id"), col("si")).agg(sum(col("w")).as("outw"))
    // per-doc-bounded edge list; persisted because every power-iteration
    // round joins it (unpersisted, the sentence self-join re-ran per
    // round: 3.6×/decade in the sf1 probe)
    val e = edges.join(outW, Seq("doc_id", "si")).persist()
    val nDoc = sent.groupBy(col("doc_id")).agg(count(lit(1)).as("sn"))
    val r0 = sent.select(col("doc_id"), col("sid"))
      .join(nDoc, Seq("doc_id"))
      .select(col("doc_id"), col("sid"), col("sn"), expr("1000000 div sn").as("rank"))
    val rF = (1 to 2).foldLeft(r0) { (r, _) =>
      val contrib = e
        .join(r.select(col("doc_id"), col("sid").as("si"), col("rank")), Seq("doc_id", "si"))
        .select(col("doc_id"), col("sj").as("sid"), expr("(rank * w) div outw").as("c"))
        .groupBy(col("doc_id"), col("sid")).agg(sum(col("c")).as("sc"))
      r.select(col("doc_id"), col("sid"), col("sn"))
        .join(contrib, Seq("doc_id", "sid"), "left")
        .select(col("doc_id"), col("sid"), col("sn"),
          expr("CAST((150000 div sn) + (850000 * coalesce(sc, 0L)) div 1000000 AS BIGINT)").as("rank"))
    }
    val wBest = Window.partitionBy(col("doc_id")).orderBy(col("rank").desc, col("sid"))
    val best = rF.withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
      .join(sent, Seq("doc_id", "sid"))
      .select(col("doc_id"), col("sid").as("best_sid"), col("stext").as("summary"),
        col("rank").as("rank_ppm"))
    best
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("best_sid"), col("summary"), col("rank_ppm"))
  }

  private val textTextrankSentencesSql = {
    def iter(k: Int) =
      s"""r$k AS (SELECT b.doc_id, b.sid, b.sn,
         |    CAST((150000 // b.sn) + (850000 * coalesce(c.sc, 0)) // 1000000 AS BIGINT) AS rank
         |  FROM r${k - 1} b LEFT JOIN (
         |    SELECT e.doc_id, e.sj AS sid, sum((r.rank * e.w) // e.outw) AS sc
         |    FROM e JOIN r${k - 1} r ON e.doc_id = r.doc_id AND e.si = r.sid
         |    GROUP BY 1, 2) c ON b.doc_id = c.doc_id AND b.sid = c.sid)""".stripMargin
    """WITH sent AS (SELECT doc_id, sid, stext FROM (
      |    SELECT doc_id, generate_subscripts(segs, 1) - 1 AS sid, trim(unnest(segs)) AS stext
      |    FROM (SELECT doc_id,
      |        string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '[.!?]+') AS segs
      |      FROM documents))
      |  WHERE length(stext) > 0),
      |stok AS (SELECT doc_id, sid, unnest(list_distinct(string_split(stext, ' '))) AS tok FROM sent),
      |slen AS (SELECT doc_id, sid, count(*) AS slen FROM stok GROUP BY 1, 2),
      |shared AS (SELECT x.doc_id, x.sid AS si, y.sid AS sj, count(*) AS nshared
      |  FROM stok x JOIN stok y ON x.doc_id = y.doc_id AND x.tok = y.tok AND x.sid != y.sid
      |  GROUP BY 1, 2, 3),
      |edges AS (SELECT s.doc_id, s.si, s.sj,
      |    CAST(s.nshared * 1000000 // (a.slen + b.slen) AS BIGINT) AS w
      |  FROM shared s
      |  JOIN slen a ON a.doc_id = s.doc_id AND a.sid = s.si
      |  JOIN slen b ON b.doc_id = s.doc_id AND b.sid = s.sj
      |  WHERE s.nshared * 1000000 // (a.slen + b.slen) > 0),
      |ow AS (SELECT doc_id, si, CAST(sum(w) AS BIGINT) AS outw FROM edges GROUP BY 1, 2),
      |e AS (SELECT edges.doc_id, edges.si, edges.sj, edges.w, ow.outw
      |  FROM edges JOIN ow ON ow.doc_id = edges.doc_id AND ow.si = edges.si),
      |nd AS (SELECT doc_id, count(*) AS sn FROM sent GROUP BY 1),
      |r0 AS (SELECT s.doc_id, s.sid, nd.sn, 1000000 // nd.sn AS rank
      |  FROM sent s JOIN nd ON nd.doc_id = s.doc_id),
      |""".stripMargin + (1 to 2).map(iter).mkString(",\n") +
    """,
      |best AS (SELECT doc_id, sid, rank FROM (
      |    SELECT doc_id, sid, rank,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY rank DESC, sid) AS rn
      |    FROM r2) WHERE rn = 1)
      |SELECT b.doc_id, b.sid AS best_sid, s.stext AS summary, b.rank AS rank_ppm
      |FROM best b JOIN sent s ON s.doc_id = b.doc_id AND s.sid = b.sid
      |ORDER BY md5(CAST(b.doc_id AS VARCHAR)), b.doc_id LIMIT 20""".stripMargin
  }

  // ------------------------- cluster purity vs labels (B312)

  /** `embed_cluster_purity` — external clustering validation against the
    * embeddings' ground-truth `label` column (unused by any other
    * operator until now): B50's deterministic 2-round k-means assignment
    * crossed with labels gives per-cluster majority label and purity,
    * plus corpus purity and NMI (normalized mutual information) — the
    * numbers that say whether the embedding space actually separates
    * the label structure before anyone trusts cluster-balanced sampling
    * (B176) or SemDeDup-style pruning on it.
    *
    * Determinism: the contingency table is exact integer counts; the
    * entropy/MI formula runs once over the ≤(8·labels)-row table with
    * the identical ln() text in both engines, round-6 snapped.
    *
    * Scale shape: assignment is B50's plan (seeded broadcast, two
    * rounds); the contingency agg is map-side combined into ≤8·labels
    * cells; everything after is arithmetic on a bounded table.
    */
  private def embedClusterPurity(s: SparkSession, dir: String): DataFrame = {
    val asg = operators.Similarity
      .kmeansAssign(embeddings(s, dir), "vec_id", "embedding", 8, 2)
      .select(col("vec_id"), col("cluster"))
    val lab = embeddings(s, dir).select(col("vec_id"), col("label").cast("long").as("label"))
    val cont = asg.join(lab, Seq("vec_id"))
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n_cl"))
    val byC = cont.groupBy(col("cluster")).agg(sum(col("n_cl")).as("n_c"))
    val byL = cont.groupBy(col("label")).agg(sum(col("n_cl")).as("n_l"))
    val tot = cont.agg(sum(col("n_cl")).as("nn"))
    val wMaj = Window.partitionBy(col("cluster")).orderBy(col("n_cl").desc, col("label"))
    val maj = cont.withColumn("rn", row_number().over(wMaj)).filter(col("rn") === 1)
      .select(col("cluster"), col("label").as("majority_label"), col("n_cl").as("n_majority"))
    val overallPurity = maj.agg(sum(col("n_majority")).as("sum_maj"))
    // each entropy/MI term snaps to integer micros BEFORE its sum so the
    // ≤(8·labels)-term additions are summation-order-free (the
    // rpLshCalibration discipline)
    val mi = cont
      .join(broadcast(byC), Seq("cluster"))
      .join(broadcast(byL), Seq("label"))
      .crossJoin(broadcast(tot))
      .agg(
        sum(expr(
          "CAST(round((CAST(n_cl AS DOUBLE) / nn) * ln(CAST(nn AS DOUBLE) * n_cl / (CAST(n_c AS DOUBLE) * n_l)) * 1000000, 0) AS BIGINT)"))
          .as("mi_micro"))
    val hc = byC.crossJoin(broadcast(tot))
      .agg(sum(expr(
        "CAST(round(-(CAST(n_c AS DOUBLE) / nn) * ln(CAST(n_c AS DOUBLE) / nn) * 1000000, 0) AS BIGINT)"))
        .as("h_c_micro"))
    val hl = byL.crossJoin(broadcast(tot))
      .agg(sum(expr(
        "CAST(round(-(CAST(n_l AS DOUBLE) / nn) * ln(CAST(n_l AS DOUBLE) / nn) * 1000000, 0) AS BIGINT)"))
        .as("h_l_micro"))
    val summary = overallPurity.crossJoin(tot).crossJoin(mi).crossJoin(hc).crossJoin(hl)
      .select(
        expr("sum_maj * 1000000 div nn").as("overall_purity_ppm"),
        expr("CASE WHEN h_c_micro + h_l_micro = 0 THEN CAST(0.0 AS DOUBLE) ELSE " +
          "round(CAST(mi_micro AS DOUBLE) * 2 / (h_c_micro + h_l_micro), 6) END").as("nmi"))
    byC.join(maj, Seq("cluster"))
      .select(col("cluster"), col("n_c").as("n_vecs"), col("majority_label"),
        expr("n_majority * 1000000 div n_c").as("purity_ppm"))
      .crossJoin(broadcast(summary))
  }

  private val embedClusterPuritySql =
    s"""WITH ${QueriesExt14.kmeansCtes},
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |cont AS (SELECT a2.cluster, lab.label, count(*) AS n_cl
       |  FROM a2 JOIN lab ON lab.vec_id = a2.vec_id GROUP BY 1, 2),
       |byc AS (SELECT cluster, CAST(sum(n_cl) AS BIGINT) AS n_c FROM cont GROUP BY 1),
       |byl AS (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_l FROM cont GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_cl) AS BIGINT) AS nn FROM cont),
       |maj AS (SELECT cluster, label AS majority_label, n_cl AS n_majority FROM (
       |    SELECT cluster, label, n_cl,
       |      row_number() OVER (PARTITION BY cluster ORDER BY n_cl DESC, label) AS rn
       |    FROM cont) WHERE rn = 1),
       |op AS (SELECT CAST(sum(n_majority) AS BIGINT) AS sum_maj FROM maj),
       |mi AS (SELECT CAST(sum(CAST(round((CAST(n_cl AS DOUBLE) / nn) *
       |      ln(CAST(nn AS DOUBLE) * n_cl / (CAST(n_c AS DOUBLE) * n_l)) * 1000000) AS BIGINT)) AS BIGINT) AS mi_micro
       |  FROM cont JOIN byc USING (cluster) JOIN byl USING (label), tot),
       |hc AS (SELECT CAST(sum(CAST(round(-(CAST(n_c AS DOUBLE) / nn) * ln(CAST(n_c AS DOUBLE) / nn) * 1000000) AS BIGINT)) AS BIGINT) AS h_c_micro FROM byc, tot),
       |hl AS (SELECT CAST(sum(CAST(round(-(CAST(n_l AS DOUBLE) / nn) * ln(CAST(n_l AS DOUBLE) / nn) * 1000000) AS BIGINT)) AS BIGINT) AS h_l_micro FROM byl, tot),
       |summary AS (SELECT sum_maj * 1000000 // nn AS overall_purity_ppm,
       |    CASE WHEN h_c_micro + h_l_micro = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE round(CAST(mi_micro AS DOUBLE) * 2 / (h_c_micro + h_l_micro), 6) END AS nmi
       |  FROM op, tot, mi, hc, hl)
       |SELECT byc.cluster AS cluster, byc.n_c AS n_vecs, maj.majority_label,
       |  CAST(maj.n_majority * 1000000 // byc.n_c AS BIGINT) AS purity_ppm,
       |  CAST(summary.overall_purity_ppm AS BIGINT) AS overall_purity_ppm, summary.nmi
       |FROM byc JOIN maj ON maj.cluster = byc.cluster, summary""".stripMargin

  // ------------------------- U-shaped multi-touch attribution (B313)

  /** `events_attribution_ushape` — position-based (40/20/40) multi-touch
    * attribution: for every purchase, the non-purchase touches of the
    * same user in the prior 6 h form the path; first and last touch get
    * 400‰ each, the middles split 200‰ (floored, remainder to the last
    * middle so credits sum to exactly 1000‰ per conversion — integer
    * bookkeeping, no doubles); k=1 → 1000‰, k=2 → 500/500. The
    * multi-touch counterweight to B83's last-touch model: a channel that
    * only ever OPENS journeys gets zero credit there and 40% here.
    *
    * Scale shape: touch/conversion pairing is one per-user window pass
    * (self-join-free: each touch finds its NEXT conversion with a
    * forward-looking min window), path positions are per-(user,
    * conversion) ranks, credits are row-local integer arithmetic, and
    * the readout is one type-keyed agg.
    */
  private def eventsAttributionUshape(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_millis(ts)").as("ms"))
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    val touches = ev
      .withColumn("conv_ms",
        min(when(col("event_type") === "purchase", col("ms"))).over(wNext))
      .filter(col("event_type") =!= "purchase")
      .filter(col("conv_ms").isNotNull && col("conv_ms") - col("ms") <= 21600000L)
    val wPath = Window.partitionBy(col("user_id"), col("conv_ms"))
      .orderBy(col("ms"), col("event_id"))
    val sized = touches
      .withColumn("pos", row_number().over(wPath))
      .withColumn("k", count(lit(1)).over(
        Window.partitionBy(col("user_id"), col("conv_ms"))))
    val credited = sized.withColumn("credit_milli", expr(
      """CASE
        |  WHEN k = 1 THEN 1000
        |  WHEN k = 2 THEN 500
        |  WHEN pos = 1 OR pos = k THEN 400
        |  WHEN pos = k - 1 THEN 200 - (200 div (k - 2)) * (k - 3)
        |  ELSE 200 div (k - 2)
        |END""".stripMargin))
    credited
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_touches"),
        sum(col("credit_milli")).as("credit_milli_sum"))
      .withColumn("share_ppm", expr(
        "credit_milli_sum * 1000000 div sum(credit_milli_sum) OVER ()"))
  }

  private val eventsAttributionUshapeSql =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |tn AS (SELECT user_id, event_id, event_type, ms,
      |    min(CASE WHEN event_type = 'purchase' THEN ms END)
      |      OVER (PARTITION BY user_id ORDER BY ms, event_id
      |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS conv_ms
      |  FROM ev),
      |touches AS (SELECT * FROM tn
      |  WHERE event_type != 'purchase' AND conv_ms IS NOT NULL AND conv_ms - ms <= 21600000),
      |sized AS (SELECT user_id, conv_ms, event_type,
      |    row_number() OVER (PARTITION BY user_id, conv_ms ORDER BY ms, event_id) AS pos,
      |    count(*) OVER (PARTITION BY user_id, conv_ms) AS k
      |  FROM touches),
      |credited AS (SELECT event_type,
      |    CASE
      |      WHEN k = 1 THEN 1000
      |      WHEN k = 2 THEN 500
      |      WHEN pos = 1 OR pos = k THEN 400
      |      WHEN pos = k - 1 THEN 200 - (200 // (k - 2)) * (k - 3)
      |      ELSE 200 // (k - 2)
      |    END AS credit_milli
      |  FROM sized)
      |SELECT event_type, count(*) AS n_touches,
      |  CAST(sum(credit_milli) AS BIGINT) AS credit_milli_sum,
      |  CAST(CAST(sum(credit_milli) AS BIGINT) * 1000000 //
      |    (sum(sum(credit_milli)) OVER ()) AS BIGINT) AS share_ppm
      |FROM credited GROUP BY 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("graph_hits_scores", Seq("B310"), graphHitsScores, graphHitsScoresSql),
    QuerySpec("text_textrank_sentences", Seq("B311"), textTextrankSentences, textTextrankSentencesSql),
    QuerySpec("embed_cluster_purity", Seq("B312"), embedClusterPurity, embedClusterPuritySql),
    QuerySpec("events_attribution_ushape", Seq("B313"), eventsAttributionUshape, eventsAttributionUshapeSql)
  )
}
