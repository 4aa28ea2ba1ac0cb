package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.{normSql, shinglesSql}

/** Round-8 additions, batch 17: training-run mechanics — the deterministic
  * epoch shuffle a reproducible trainer needs, the marginal-novelty rate
  * that tells a curator whether a new source still adds content, and the
  * recall audit that certifies the ANN index against brute-force truth.
  */
object QueriesExt23 {

  // --------------------------- deterministic epoch shuffle (B150)

  /** Reproducible training-epoch ordering: each epoch e shuffles the corpus
    * by h32("e<e>:<doc_id>") — a pure function of (epoch, doc_id), so any
    * worker, resume, or re-run derives the identical order with no stored
    * permutation. Documents are then packed into fixed-size batches of 8 in
    * shuffle order; the query emits the first two batches of epochs 1–3
    * (the "what does the trainer see first" audit). h32 (not h60) because
    * its 32-bit range is exact in the TopKBy double heap — selection and
    * tie-breaks (hash asc, doc_id asc) replay bit-identically in both
    * engines.
    *
    * Scale shape: the per-epoch head is a bounded-heap TopKBy (16 rows per
    * partition per epoch), not a global sort — a full epoch ordering at
    * scale would instead use the bucketed global-rank operator; the audit
    * head is what a dashboard actually reads.
    */
  private def corpusEpochOrder(s: SparkSession, dir: String): DataFrame = {
    val perEpoch = documents(s, dir)
      .select(col("doc_id"), explode(array(lit(1), lit(2), lit(3))).as("epoch"))
      .withColumn(
        "h",
        graft.functions.Hashing.h32(concat(lit("e"), col("epoch"), lit(":"), col("doc_id")))
      )
    perEpoch
      .groupBy(col("epoch"))
      .agg(
        graft.functions.TopKBy
          .topKByLong(negate(col("h").cast("double")), col("doc_id"), 16)
          .as("top")
      )
      .select(col("epoch"), posexplode(col("top")).as(Seq("pos0", "st")))
      .select(col("epoch"), (col("pos0") + 1).cast("long").as("pos"), col("st.id").as("doc_id"))
      .withColumn("batch_id", expr("CAST((pos - 1) div 8 AS BIGINT)"))
      .groupBy(col("epoch"), col("batch_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        // delimited string, not array<bigint>: the driver's oracle harness
        // canonicalizes rows via pandas sort_values, which cannot hash/sort
        // array cells (r8 gate err) — a scalar column round-trips cleanly
        array_join(
          transform(
            sort_array(collect_list(struct(col("pos"), col("doc_id")))),
            _.getField("doc_id")
          ),
          ","
        ).as("doc_ids")
      )
  }

  private val corpusEpochOrderSql =
    """WITH e AS (
      |  SELECT doc_id, epoch FROM documents, (VALUES (1), (2), (3)) AS t(epoch)),
      |h AS (
      |  SELECT epoch, doc_id,
      |    CAST('0x' || substr(md5('e' || epoch || ':' || doc_id), 1, 8) AS BIGINT) AS h
      |  FROM e),
      |r AS (
      |  SELECT epoch, doc_id,
      |    row_number() OVER (PARTITION BY epoch ORDER BY h ASC, doc_id ASC) AS pos
      |  FROM h)
      |SELECT epoch, CAST((pos - 1) // 8 AS BIGINT) AS batch_id,
      |  count(*) AS n_docs,
      |  array_to_string(list(doc_id ORDER BY pos), ',') AS doc_ids
      |FROM r WHERE pos <= 16
      |GROUP BY 1, 2""".stripMargin

  // --------------------------- marginal novelty rate (B151)

  /** Per-source marginal-novelty: the share of each source's distinct
    * 3-word shingles whose FIRST corpus occurrence (min doc_id — ingestion
    * order) lands in that source — the "does this source still add new
    * content" curator readout that complements dedup (B3) and containment
    * (B39): near 0 ppm means the source is recombinations of text already
    * held. No join-back to documents: the first-occurrence table credits
    * its source directly via min_by, so the corpus is aggregated twice and
    * never self-joined.
    *
    * Scale shape: one (shingle → min_by) hash-agg over exploded distinct
    * shingles + one per-source count — both map-side combined; result is
    * sources-sized.
    */
  private def textNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val sets = documents(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        explode(array_distinct(operators.TextAnalysis.wordShingles(col("text"), 3))).as("shingle")
      )
    val novel = sets
      .groupBy(col("shingle"))
      .agg(min_by(col("source"), col("doc_id")).as("fsource"))
      .groupBy(col("fsource").as("source"))
      .agg(count(lit(1)).as("n_novel"))
    sets
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"))
      .join(novel, Seq("source"), "left")
      .select(
        col("source"),
        col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        expr("CAST(coalesce(n_novel, 0) * 1000000 div n_shingles AS BIGINT)").as("novelty_ppm")
      )
  }

  private val textNgramNoveltySql =
    s"""WITH base AS (SELECT doc_id, source, $normSql AS norm FROM documents),
       |t AS (SELECT doc_id, source, norm, string_split(norm, ' ') AS toks FROM base),
       |sh AS (
       |  SELECT doc_id, source, unnest(list_distinct(${shinglesSql(3)})) AS shingle FROM t),
       |novel AS (
       |  SELECT fsource AS source, count(*) AS n_novel FROM (
       |    SELECT shingle, min_by(source, doc_id) AS fsource FROM sh GROUP BY 1)
       |  GROUP BY 1),
       |tot AS (SELECT source, count(*) AS n_shingles FROM sh GROUP BY 1)
       |SELECT source, n_shingles,
       |  coalesce(n_novel, 0) AS n_novel,
       |  CAST(coalesce(n_novel, 0) * 1000000 // n_shingles AS BIGINT) AS novelty_ppm
       |FROM tot LEFT JOIN novel USING (source)""".stripMargin

  // --------------------------- ANN recall audit (B152)

  /** Recall\@10 of the IVF index (8 cells, 2 probes — the sim_ivf_topk
    * geometry) against brute-force cosine truth for the 10 audit probes:
    * the certification number an ANN rollout publishes before the index
    * replaces exact search. Per probe: |IVF∩true| of the true top-10 plus
    * the corpus-wide mean is ppm-exact; both sides rank by
    * (round(cosine,6) desc, id asc) so the set comparison is deterministic.
    *
    * Scale shape: the IVF side scores only the probed cells; the
    * brute-force side IS the expensive truth pass (probes × corpus) — run
    * on the bounded audit probe set by construction, never the full query
    * load. The semi-join and rollup are probe-sized.
    */
  private def simAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb    = embeddings(s, dir)
    val probes = emb.filter(col("vec_id") < 10)
    // r16: truth rides the session-shared q<50 stage (bit-identical
    // restriction — per-query rankings are independent)
    val truth = operators.Similarity
      .truthTop10(emb, "vec_id", "embedding")
      .filter(col("query_id") < 10)
      .select(col("query_id"), col("corpus_id"))
    val ivf = operators.Similarity
      .ivfTopK(emb, probes, "vec_id", "embedding", k = 10, nCells = 8, nProbe = 2)
      .select(col("query_id"), col("corpus_id"))
    val found = truth
      .join(ivf, Seq("query_id", "corpus_id"), "left_semi")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_found"))
    truth
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_true"))
      .join(found, Seq("query_id"), "left")
      .select(
        col("query_id"),
        col("n_true"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        expr("CAST(coalesce(n_found, 0) * 1000000 div n_true AS BIGINT)").as("recall_ppm")
      )
  }

  private val simAnnRecallSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
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
      |probes AS (
      |  SELECT vec_id AS query_id, e AS qe, cell_id FROM (
      |    SELECT v.vec_id, v.e, s.cell_id,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_dot_product(v.e, v.e) - 2.0*list_dot_product(v.e, s.ce) + list_dot_product(s.ce, s.ce) ASC,
      |        s.cell_id ASC) AS rn
      |    FROM v CROSS JOIN seeds s
      |    WHERE v.vec_id < 10)
      |  WHERE rn <= 2),
      |iscored AS (
      |  SELECT p.query_id, a.vec_id AS corpus_id,
      |    round(list_cosine_similarity(p.qe, a.e), 6) AS cosine
      |  FROM probes p JOIN assign a ON a.cell_id = p.cell_id AND a.vec_id != p.query_id),
      |ivf AS (
      |  SELECT query_id, corpus_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
      |    FROM iscored)
      |  WHERE rank <= 10),
      |found AS (
      |  SELECT t.query_id, count(*) AS n_found
      |  FROM truth t JOIN ivf i ON i.query_id = t.query_id AND i.corpus_id = t.corpus_id
      |  GROUP BY 1),
      |tr AS (SELECT query_id, count(*) AS n_true FROM truth GROUP BY 1)
      |SELECT query_id, n_true,
      |  coalesce(n_found, 0) AS n_found,
      |  CAST(coalesce(n_found, 0) * 1000000 // n_true AS BIGINT) AS recall_ppm
      |FROM tr LEFT JOIN found USING (query_id)""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("corpus_epoch_order", Seq("B150"), corpusEpochOrder, corpusEpochOrderSql),
    QuerySpec("text_ngram_novelty", Seq("B151"), textNgramNovelty, textNgramNoveltySql),
    QuerySpec("sim_ann_recall", Seq("B152"), simAnnRecall, simAnnRecallSql)
  )
}
