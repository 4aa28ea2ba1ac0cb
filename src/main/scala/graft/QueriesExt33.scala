package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-9 additions, batch 27: operational audits around the core
  * families — the ANN nprobe tuning curve, dedup's effect on the source
  * mixture (the bias a curation run must report), exact binary-payload
  * dedup for the multimodal lane, a CDC write-concurrency audit, and a
  * readability profile for the text-quality gate.
  */
object QueriesExt33 {

  // --------------------------- ANN recall vs nprobe (B185)

  /** The IVF tuning curve: mean recall@10 against brute-force truth at
    * nprobe ∈ {1, 2, 4} — B152 certifies ONE operating point; this is the
    * table an operator actually tunes from (how much recall does each
    * extra probed cell buy?). Truth is computed once; the three IVF
    * passes share the deterministic md5-seeded centroid scheme, so the
    * oracle replays all of it.
    *
    * Scale shape: probes are a bounded audit set (10 queries), so each
    * IVF pass touches nprobe cells of the corpus; truth brute-force is
    * confined to the same bounded probe set, as in B152. r15: the three
    * operating points share ONE cell-assignment pass and one probe
    * ranking via `Similarity.ivfTopKSweep` (the old per-level ivfTopK
    * calls re-ran the corpus × nCells argmin three times), and the
    * per-level recall join runs once over the unioned sweep with an
    * (n_probe × query) zero-fill grid — identical arithmetic per level.
    */
  private def simRecallVsProbes(s: SparkSession, dir: String): DataFrame = {
    val emb    = embeddings(s, dir)
    val probes = emb.filter(col("vec_id") < 10)
    // r16: truth rides the session-shared q<50 stage (bit-identical
    // restriction — per-query rankings are independent); the stage entry
    // is already checkpointed, so the per-query eager copy is gone
    val truth = operators.Similarity
      .truthTop10(emb, "vec_id", "embedding")
      .filter(col("query_id") < 10)
      .select(col("query_id"), col("corpus_id"))
    val nTrue = truth.groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
    val nProbes = Seq(1, 2, 4)
    val sweep = operators.Similarity
      .ivfTopKSweep(emb, probes, "vec_id", "embedding", k = 10, nCells = 8, nProbes = nProbes)
      .select(col("n_probe"), col("query_id"), col("corpus_id"))
    val found = sweep
      .join(truth, Seq("query_id", "corpus_id"))
      .groupBy(col("n_probe"), col("query_id"))
      .agg(count(lit(1)).as("n_found"))
    val grid = nTrue.crossJoin(
      broadcast(emb.sparkSession.createDataFrame(
        nProbes.map(np => Tuple1(np.toLong))).toDF("n_probe")))
    grid
      .join(found, Seq("n_probe", "query_id"), "left")
      .select(
        col("n_probe"),
        col("query_id"),
        expr("CAST(coalesce(n_found, 0) * 1000000 div n_true AS BIGINT)").as("recall_ppm"))
      .groupBy(col("n_probe"))
      .agg(
        count(lit(1)).as("n_queries"),
        expr("CAST(sum(recall_ppm) div count(1) AS BIGINT)").as("mean_recall_ppm")
      )
  }

  private val simRecallVsProbesSql = {
    def level(np: Int) =
      s"""SELECT $np AS n_probe, tr.query_id,
         |    CAST(coalesce(f$np.n_found, 0) * 1000000 // tr.n_true AS BIGINT) AS recall_ppm
         |  FROM tr LEFT JOIN (
         |    SELECT t.query_id, count(*) AS n_found
         |    FROM truth t JOIN (
         |      SELECT query_id, corpus_id FROM (
         |        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
         |        FROM (
         |          SELECT p.query_id, a.vec_id AS corpus_id,
         |            round(list_cosine_similarity(p.qe, a.e), 6) AS cosine
         |          FROM (SELECT * FROM probecells WHERE rn <= $np) p
         |          JOIN assign a ON a.cell_id = p.cell_id AND a.vec_id != p.query_id))
         |      WHERE rank <= 10) i
         |    ON i.query_id = t.query_id AND i.corpus_id = t.corpus_id
         |    GROUP BY 1) f$np USING (query_id)""".stripMargin
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT * FROM v WHERE vec_id < 10),
       |bscored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |    round(list_cosine_similarity(q.e, c.e), 6) AS cosine
       |  FROM q JOIN v c ON c.vec_id != q.vec_id),
       |truth AS (
       |  SELECT query_id, corpus_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
       |    FROM bscored)
       |  WHERE rank <= 10),
       |tr AS (SELECT query_id, count(*) AS n_true FROM truth GROUP BY 1),
       |seeds AS (SELECT vec_id AS cell_id, e AS ce FROM v
       |          ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 8),
       |assign AS (
       |  SELECT vec_id, e, cell_id FROM (
       |    SELECT v.vec_id, v.e, s.cell_id,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        list_dot_product(v.e, v.e) - 2.0*list_dot_product(v.e, s.ce) + list_dot_product(s.ce, s.ce) ASC,
       |        s.cell_id ASC) AS rn
       |    FROM v CROSS JOIN seeds s)
       |  WHERE rn = 1),
       |probecells AS (
       |  SELECT vec_id AS query_id, e AS qe, cell_id, rn FROM (
       |    SELECT v.vec_id, v.e, s.cell_id,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        list_dot_product(v.e, v.e) - 2.0*list_dot_product(v.e, s.ce) + list_dot_product(s.ce, s.ce) ASC,
       |        s.cell_id ASC) AS rn
       |    FROM v CROSS JOIN seeds s
       |    WHERE v.vec_id < 10)),
       |lv AS (
       |${level(1)}
       |  UNION ALL
       |${level(2)}
       |  UNION ALL
       |${level(4)})
       |SELECT CAST(n_probe AS BIGINT) AS n_probe, count(*) AS n_queries,
       |  CAST(sum(recall_ppm) // count(*) AS BIGINT) AS mean_recall_ppm
       |FROM lv GROUP BY 1""".stripMargin
  }

  // --------------------------- dedup mixture impact (B186)

  /** The bias audit a dedup run must ship with: near-dup removal is not
    * mixture-neutral — template-heavy sources lose disproportionately,
    * shifting the source mix the curator tuned (B27/B176). Survivors
    * follow B164's pick exactly (per cluster keep max(n_chars), ties →
    * lowest id); per source this emits docs before/after, both shares in
    * ppm, and the shift. The removed set is cluster members minus
    * survivors — everything outside a cluster is untouched.
    *
    * Scale shape: pairs/components as B3; the survivor agg is
    * cluster-keyed; source rollups are hash-aggs over the (small) label
    * table joined back to the corpus once.
    */
  private def dedupMixtureImpact(s: SparkSession, dir: String): DataFrame = {
    val docs  = documents(s, dir)
    val pairs = operators.Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.5)
    val labels = operators.Dedup
      .connectedComponents(pairs)
      .withColumnRenamed("id", "doc_id")
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    // survivor = rank-1 under (n_chars DESC, doc_id ASC): a window rank
    // instead of an arithmetic max_by composite, which would silently
    // wrap past n_chars ~9.2M (Spark wraps Long overflow; DuckDB raises
    // — the query and its oracle would diverge on large documents).
    // Clusters are small, so the per-cluster sort is bounded.
    val removed = labels
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy(col("cluster_id")).orderBy(col("n_chars").desc, col("doc_id").asc)))
      .where(col("rn") =!= 1)
      .select(col("doc_id"))
    val base = docs
      .join(removed.withColumn("removed", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_before"),
        sum(when(col("removed").isNull, 1L).otherwise(0L)).as("n_after")
      )
    base
      .crossJoin(broadcast(base.agg(
        sum(col("n_before")).as("t_before"),
        sum(col("n_after")).as("t_after")
      )))
      .select(
        col("source"),
        col("n_before"),
        col("n_after"),
        expr("CAST(n_before * 1000000 div t_before AS BIGINT)").as("share_before_ppm"),
        expr("CAST(n_after * 1000000 div t_after AS BIGINT)").as("share_after_ppm"),
        expr("CAST(n_after * 1000000 div t_after - n_before * 1000000 div t_before AS BIGINT)")
          .as("shift_ppm")
      )
  }

  private val dedupMixtureImpactSql =
    s"""WITH RECURSIVE mh AS (${QueriesExt.minhashPairsSql}),
       |edges AS (SELECT id_a AS a, id_b AS b FROM mh UNION SELECT id_b, id_a FROM mh),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |lbl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
       |lj AS (SELECT l.doc_id, l.cluster_id, d.n_chars FROM lbl l JOIN documents d USING (doc_id)),
       |ranked AS (
       |  SELECT doc_id,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC) AS rn
       |  FROM lj),
       |removed AS (SELECT doc_id FROM ranked WHERE rn != 1),
       |base AS (
       |  SELECT d.source, count(*) AS n_before,
       |    CAST(sum(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_after
       |  FROM documents d LEFT JOIN removed r ON r.doc_id = d.doc_id
       |  GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_before) AS BIGINT) AS t_before,
       |               CAST(sum(n_after) AS BIGINT) AS t_after FROM base)
       |SELECT source, n_before, n_after,
       |  CAST(n_before * 1000000 // t_before AS BIGINT) AS share_before_ppm,
       |  CAST(n_after * 1000000 // t_after AS BIGINT) AS share_after_ppm,
       |  CAST(n_after * 1000000 // t_after - n_before * 1000000 // t_before AS BIGINT) AS shift_ppm
       |FROM base CROSS JOIN tot""".stripMargin

  // --------------------------- binary payload dedup (B187)

  /** The dedup family applied to the multimodal lane: exact
    * byte-identical payload dedup via content hash, per media type —
    * the first pass any blob-store ingest runs (identical images
    * re-crawled under different ids dominate raw web media). Payloads
    * ride as opaque binary (B6); the hash groups them without ever
    * comparing bytes pairwise. Emits per-type distinct/duplicate counts
    * and the reclaimable duplicate bytes.
    *
    * Scale shape: one scan → (type, md5) hash-agg (map-side combined) →
    * types-sized rollup. The content hash is the shuffle key, so
    * identical payloads co-locate regardless of corpus size.
    */
  private def mmPayloadDedup(s: SparkSession, dir: String): DataFrame = {
    val media = documents(s, dir).select(
      when(col("doc_id") % 3 === 0, lit("image"))
        .when(col("doc_id") % 3 === 1, lit("audio"))
        .otherwise(lit("video")).as("media_type"),
      encode(col("text"), "UTF-8").as("payload")
    )
    media
      .select(col("media_type"), md5(col("payload")).as("h"), length(col("payload")).cast("long").as("n_bytes"))
      .groupBy(col("media_type"), col("h"))
      .agg(count(lit(1)).as("copies"), first(col("n_bytes")).as("n_bytes"))
      .groupBy(col("media_type"))
      .agg(
        sum(col("copies")).as("n_payloads"),
        count(lit(1)).as("n_distinct"),
        sum(col("copies") - 1).as("n_duplicates"),
        sum((col("copies") - 1) * col("n_bytes")).as("dup_bytes")
      )
  }

  private val mmPayloadDedupSql =
    """WITH media AS (
      |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS media_type,
      |    md5(text) AS h, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents),
      |g AS (
      |  SELECT media_type, h, count(*) AS copies, any_value(n_bytes) AS n_bytes
      |  FROM media GROUP BY 1, 2)
      |SELECT media_type,
      |  CAST(sum(copies) AS BIGINT) AS n_payloads,
      |  count(*) AS n_distinct,
      |  CAST(sum(copies - 1) AS BIGINT) AS n_duplicates,
      |  CAST(sum((copies - 1) * n_bytes) AS BIGINT) AS dup_bytes
      |FROM g GROUP BY 1""".stripMargin

  // --------------------------- CDC write-concurrency audit (B188)

  /** Concurrent-write audit over the envelope stream: kept (extractable)
    * envelopes that hit the same user aggregate within the same minute —
    * the write-skew precursor an optimistic-locking deploy (the
    * reference's @Version counter) needs sized before retry storms show
    * up. Per hour: conflicting (user, minute) groups, envelopes
    * involved, and the worst single-minute fan-in. (Minute, not second:
    * the fixture's event density puts same-second collisions at zero —
    * a 0-row audit verifies nothing.)
    *
    * Scale shape: one (user, minute) hash-agg over kept envelopes, then
    * an hours-sized rollup; both map-side combined.
    */
  private def cdcConflictAudit(s: SparkSession, dir: String): DataFrame = {
    val env = cdc.Envelope.synthesizeFromEvents(events(s, dir))
    val kept = cdc.Envelope.validAfter(env)
      .select(
        col("value.after.user_id").as("user_id"),
        expr("value.ts_ms div 60000").as("minute")
      )
    kept
      .groupBy(col("user_id"), col("minute"))
      .agg(count(lit(1)).as("writes"))
      .where(col("writes") >= 2)
      .groupBy(expr("minute div 60").as("hour"))
      .agg(
        count(lit(1)).as("conflict_groups"),
        sum(col("writes")).as("envelopes_involved"),
        max(col("writes")).as("max_fan_in")
      )
  }

  private val cdcConflictAuditSql =
    """WITH kept AS (
      |  SELECT user_id, epoch_ms(ts) // 60000 AS minute
      |  FROM events
      |  WHERE event_id % 97 != 0 AND event_id % 89 != 0 AND event_id % 83 != 0),
      |g AS (
      |  SELECT user_id, minute, count(*) AS writes FROM kept GROUP BY 1, 2
      |  HAVING count(*) >= 2)
      |SELECT minute // 60 AS hour,
      |  count(*) AS conflict_groups,
      |  CAST(sum(writes) AS BIGINT) AS envelopes_involved,
      |  CAST(max(writes) AS BIGINT) AS max_fan_in
      |FROM g GROUP BY 1""".stripMargin

  // --------------------------- readability profile (B189)

  /** Per-source readability proxy for the quality gate: mean sentence
    * length (words per sentence, milli) and long-word rate (≥ 7 chars,
    * ppm) — the two ingredients of Flesch-style scores kept as exact
    * integers instead of a branded float formula. Extreme values in
    * either direction mark template/boilerplate or gibberish sources
    * that B5's ratio checks miss.
    *
    * Scale shape: everything is scan-fused per-row arithmetic (regexp
    * counts) followed by one sources-sized hash-agg.
    */
  private def textReadability(s: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    documents(s, dir)
      .select(
        col("source"),
        size(split(norm, " ")).cast("long").as("words"),
        greatest(regexp_count(norm, lit("[.!?]+")), lit(1)).cast("long").as("sentences"),
        size(filter(split(norm, " "), w => length(regexp_replace(w, "[^a-z]", "")) >= 7))
          .cast("long").as("long_words")
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("words")).as("n_words"),
        expr("CAST(sum(words) * 1000 div sum(sentences) AS BIGINT)").as("words_per_sentence_milli"),
        expr("CAST(sum(long_words) * 1000000 div sum(words) AS BIGINT)").as("long_word_ppm")
      )
  }

  private val textReadabilitySql =
    """WITH base AS (
      |  SELECT source,
      |    regexp_replace(lower(trim(text)),'\s+',' ','g') AS norm
      |  FROM documents),
      |m AS (
      |  SELECT source,
      |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS words,
      |    CAST(greatest(len(regexp_extract_all(norm, '[.!?]+')), 1) AS BIGINT) AS sentences,
      |    CAST(len(list_filter(string_split(norm, ' '),
      |      w -> len(regexp_replace(w, '[^a-z]', '', 'g')) >= 7)) AS BIGINT) AS long_words
      |  FROM base)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(words) AS BIGINT) AS n_words,
      |  CAST(sum(words) * 1000 // sum(sentences) AS BIGINT) AS words_per_sentence_milli,
      |  CAST(sum(long_words) * 1000000 // sum(words) AS BIGINT) AS long_word_ppm
      |FROM m GROUP BY 1""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_recall_vs_probes", Seq("B185"), simRecallVsProbes, simRecallVsProbesSql),
    QuerySpec("dedup_mixture_impact", Seq("B186"), dedupMixtureImpact, dedupMixtureImpactSql),
    QuerySpec("mm_payload_dedup", Seq("B187"), mmPayloadDedup, mmPayloadDedupSql),
    QuerySpec("cdc_conflict_audit", Seq("B188"), cdcConflictAudit, cdcConflictAuditSql),
    QuerySpec("text_readability", Seq("B189"), textReadability, textReadabilitySql)
  )
}
