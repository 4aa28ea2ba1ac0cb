package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.normSql
import graft.operators.TextAnalysis

/** Round-7 additions: verbatim-passage reuse detection (B41) and
  * token-budget corpus selection (B42) — the two curation steps a training
  * pipeline runs between dedup and shard packing.
  */
object QueriesExt13 {

  // ------------------------------------- verbatim passage reuse (B41)

  /** Verbatim-passage reuse: for each document, the maximal consecutive
    * runs of word-8-gram shingles that also appear in at least one OTHER
    * document — the memorization-risk metric ("how much of this doc is a
    * copy of something else in the corpus"), distinct from B19's
    * boilerplate fraction (distinct-shingle df) because runs measure
    * contiguous span length, not set overlap.
    *
    * Pipeline: positional shingle explode → shingle doc-frequency (distinct
    * docs per shingle, on the md5 of the shingle so only 32-byte keys cross
    * the shuffle) → keep instances whose shingle occurs in ≥2 docs →
    * gaps-and-islands per document (pos − row_number, the window is
    * per-doc-partitioned — bounded by doc length, never global) → per-doc
    * longest run / duplicated-position count. Docs with no duplicated
    * shingle still emit a row (left join, zero defaults).
    *
    * Scale shape: the explode is linear in corpus tokens; the df aggregate
    * is a hash-agg on the shingle key with map-side combine; the join back
    * shuffles both sides on that key (the df table is corpus-vocab-sized —
    * NOT broadcastable at 100 TB, same call as B19); the window partitions
    * by doc_id. No stage is all-pairs, nothing is collected.
    */
  private def textDupSpans(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val sh = documents(s, dir)
      .select(col("doc_id"), posexplode(TextAnalysis.wordShingles(col("text"), k)).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"), md5(col("sh")).as("h"))
    // r16 (§2.3/§2.4): the old shape evaluated the corpus-token-sized
    // shingle explode THREE times (distinct+df aggregate, the df≥2 join
    // back, the per-doc totals) across ~6 exchanges. One pass now serves
    // everything:
    //  - df ≥ 2 ⟺ the shingle appears in ≥2 DISTINCT docs ⟺
    //    min(doc_id) ≠ max(doc_id) over a window by h — no distinct, no
    //    df table, no join back;
    //  - the gaps-and-islands row_number over dup rows ≡ a running count
    //    of dup rows over ALL rows (filtered after), so totals and runs
    //    ride the SAME doc-partitioned pass;
    //  - runs and per-doc stats stack as two aggregates on the doc_id
    //    clustering (grp = NULL marks non-dup rows; level 1 is unique on
    //    (doc, grp)), so no second evaluation and no left join — absent
    //    dup rows surface as NULL aggregates, coalesced to the same
    //    zeros.
    val wH = Window.partitionBy(col("h"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = sh
      .withColumn("dup", min(col("doc_id")).over(wH) =!= max(col("doc_id")).over(wH))
      .withColumn("g", when(col("dup"), col("pos") - sum(when(col("dup"), 1L).otherwise(0L)).over(wDoc)))
    val lvl1 = marked.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
    lvl1
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).cast("long").as("n_shingles"),
        sum(when(col("g").isNotNull, col("cnt"))).cast("long").as("dup_pos"),
        max(when(col("g").isNotNull, col("cnt"))).cast("long").as("longest"),
        count(col("g")).cast("long").as("spans"))
      .select(
        col("doc_id"),
        col("n_shingles"),
        coalesce(col("dup_pos"), lit(0L)).as("n_dup_positions"),
        coalesce(col("longest"), lit(0L)).as("longest_dup_run"),
        col("spans").as("n_spans"),
        round(coalesce(col("dup_pos"), lit(0L)).cast("double") / col("n_shingles"), 6)
          .as("dup_frac")
      )
  }

  private val textDupSpansSql =
    s"""WITH tok AS (SELECT doc_id, $normSql AS norm, string_split($normSql,' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
       |      THEN [{'pos': i - 1, 'h': md5(array_to_string(toks[i:i+7],' '))} for i in range(1, len(toks) - 6)]
       |      ELSE [{'pos': 0, 'h': md5(norm)}] END) AS u
       |    FROM tok)),
       |dfreq AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM sh GROUP BY 1) WHERE df >= 2),
       |dup AS (SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM sh JOIN dfreq USING (h)),
       |runs AS (SELECT doc_id, grp, count(*) AS run FROM dup GROUP BY 1, 2),
       |per AS (SELECT doc_id, CAST(max(run) AS BIGINT) AS longest_dup_run,
       |    CAST(sum(run) AS BIGINT) AS n_dup_positions, CAST(count(*) AS BIGINT) AS n_spans
       |  FROM runs GROUP BY 1),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY 1)
       |SELECT tot.doc_id, n_shingles,
       |  coalesce(n_dup_positions, 0) AS n_dup_positions,
       |  coalesce(longest_dup_run, 0) AS longest_dup_run,
       |  coalesce(n_spans, 0) AS n_spans,
       |  round(coalesce(n_dup_positions, 0)::DOUBLE / n_shingles, 6) AS dup_frac
       |FROM tot LEFT JOIN per ON tot.doc_id = per.doc_id""".stripMargin

  // ------------------------------------ token-budget selection (B42)

  /** Token-budget corpus selection: per source, admit documents in quality
    * order (B5's composite quality score, doc_id tie-break) until the
    * source's token budget is exhausted — the mixture-curation step that
    * turns per-source quotas into an actual document list.
    *
    * Semantics are prefix selection under the flat per-source order
    * (quality DESC, doc_id ASC): a document is selected iff its running
    * token total stays ≤ budget. The ORACLE states exactly that with one
    * window. The IMPLEMENTATION is the skew-resistant two-level form: at
    * 100 TB one source is far too large for a single window partition, so
    * stage 1 aggregates (source, quality_score) groups — the rounded score
    * has ≤ ~10⁶ distinct values, a bounded model-size table — and runs the
    * cumulative window over GROUPS; stage 2 opens only the groups the
    * budget reaches and resolves per-document prefix sums inside a
    * (source, score) tie-group partition, bounded by tie width, never by
    * source size. Both forms provably produce the same rows; the driver's
    * hash compare is the proof.
    */
  private def qTokenBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    val budget = 2000L
    val scored = TextAnalysis
      .withQuality(documents(s, dir), "text")
      .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))).cast("long"))
      .select(col("doc_id"), col("source"), col("quality_score"), col("n_tokens"))

    val grp = scored.groupBy("source", "quality_score")
      .agg(sum("n_tokens").as("g_tokens"), count(lit(1)).as("g_docs"))
    val wSrc = Window.partitionBy("source").orderBy(col("quality_score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val gcum = grp
      .withColumn("cum_before", coalesce(sum(col("g_tokens")).over(wSrc), lit(0L)))
      .withColumn("docs_before", coalesce(sum(col("g_docs")).over(wSrc), lit(0L)))
      .filter(col("cum_before") < budget) // groups wholly past budget drop here
      .select("source", "quality_score", "cum_before", "docs_before")

    val wTie = Window.partitionBy("source", "quality_score").orderBy(col("doc_id").asc)
    scored
      .join(gcum, Seq("source", "quality_score"))
      .withColumn(
        "cum_tokens",
        col("cum_before") + sum(col("n_tokens")).over(wTie.rowsBetween(Window.unboundedPreceding, 0))
      )
      .withColumn("sel_rank", (col("docs_before") + row_number().over(wTie)).cast("long"))
      .filter(col("cum_tokens") <= budget)
      .select(
        col("doc_id"), col("source"), col("quality_score"), col("n_tokens"),
        col("cum_tokens").cast("long").as("cum_tokens"), col("sel_rank")
      )
  }

  private val qTokenBudgetSelectSql =
    s"""WITH base AS (SELECT doc_id, source, text, $normSql AS norm FROM documents),
       |t2 AS (SELECT doc_id, source, text, norm, string_split(norm,' ') AS toks,
       |  length(text) - length(regexp_replace(text,'[.,;:!?]','','g')) AS n_punct FROM base),
       |q AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  round((CASE WHEN length(norm) BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.0 END
       |    + least(round(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it'], x)))::DOUBLE
       |        / greatest(len(toks),1), 6) * 4, 1.0)
       |    + (1.0 - least(round(n_punct::DOUBLE / greatest(length(text),1), 6) * 10, 1.0))) / 3.0, 6) AS quality_score
       |  FROM t2),
       |sel AS (SELECT doc_id, source, quality_score, n_tokens,
       |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |  CAST(row_number() OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id) AS BIGINT) AS sel_rank
       |  FROM q)
       |SELECT doc_id, source, quality_score, n_tokens, cum_tokens, sel_rank
       |FROM sel WHERE cum_tokens <= 2000""".stripMargin

  // --------------------------------- embedding centroid outliers (B43)

  /** Embedding-space quality filtering: distance of every vector to its
    * label's centroid, flagged as an outlier when it exceeds 1.5× the
    * label's mean distance — the embedding-space pruning step (SemDeDup /
    * outlier-removal style) a curation pipeline runs before semantic
    * sampling.
    *
    * Scale shape: one positional explode (n_vecs × dim rows — linear),
    * one (label, dim) hash-agg for centroids whose result is a
    * labels×dims model-size table (BROADCAST back — never a shuffle of
    * the big side), per-vec distance re-aggregation co-partitioned with
    * the explode, and a second broadcast of the per-label mean. Float
    * dims are widened to double before any arithmetic; distances and
    * means are round(6)ed — the double-sum associativity drift (~1e-13)
    * sits far below the rounding grain, so the independent DuckDB replay
    * hash-matches.
    */
  private def simCentroidOutliers(s: SparkSession, dir: String): DataFrame = {
    val ex = embeddings(s, dir)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("label"), col("dim"), col("v").cast("double").as("v"))
    val cent = ex.groupBy("label", "dim").agg(avg("v").as("c"))
    val dist = ex
      .join(broadcast(cent), Seq("label", "dim"))
      .groupBy("vec_id", "label")
      .agg(round(sqrt(sum((col("v") - col("c")) * (col("v") - col("c")))), 6).as("dist"))
    val stats = dist.groupBy("label").agg(round(avg("dist"), 6).as("mean_dist"))
    dist
      .join(broadcast(stats), Seq("label"))
      .select(
        col("vec_id"), col("label"), col("dist"), col("mean_dist"),
        (col("dist") > col("mean_dist") * 1.5).as("is_outlier")
      )
  }

  private val simCentroidOutliersSql =
    """WITH ex AS (SELECT vec_id, label, u.dim AS dim, u.v AS v FROM (
      |    SELECT vec_id, label,
      |      unnest([{'dim': i - 1, 'v': embedding[i]::DOUBLE} for i in range(1, len(embedding) + 1)]) AS u
      |    FROM embeddings)),
      |cent AS (SELECT label, dim, avg(v) AS c FROM ex GROUP BY 1, 2),
      |d AS (SELECT vec_id, ex.label AS label,
      |    round(sqrt(sum((v - c) * (v - c))), 6) AS dist
      |  FROM ex JOIN cent USING (label, dim) GROUP BY 1, 2),
      |stats AS (SELECT label, round(avg(dist), 6) AS mean_dist FROM d GROUP BY 1)
      |SELECT vec_id, d.label AS label, dist, mean_dist,
      |  dist > mean_dist * 1.5 AS is_outlier
      |FROM d JOIN stats USING (label)""".stripMargin

  // -------------------------------------------- CSV manifest ingest (B44)

  /** CSV sidecar-manifest ingestion over the real wire format: a manifest
    * row per document (id, source, n_chars, a title carrying embedded
    * quotes AND commas — the quoting path must genuinely round-trip) is
    * serialized with `to_csv`, a deterministic fraction (`doc_id % 19 ==
    * 0`) replaced by a structurally-broken `{bad N}` line, written as
    * text, and ingested back through `sources.Csv.read`/`branch` — the
    * text + explicit-schema `from_csv` + corrupt-line DLQ path (A13 over
    * CSV, the JSONL ingest's sibling). The oracle never parses CSV: it
    * recomputes every field and the quoted title's md5 directly from
    * `documents`, so parity proves the serialize→parse round trip restored
    * each byte and the DLQ caught exactly the corrupted lines.
    */
  private def csvIngest(s: SparkSession, dir: String): DataFrame = {
    val path = graft.streaming.WorkDirs.fresh(s, "graft-csv") + "/manifest.csv"
    val title = concat(
      lit("Doc \""), col("doc_id").cast("string"), lit("\" from "),
      col("source"), lit(", rated")
    )
    documents(s, dir)
      .select(
        when(
          col("doc_id") % 19 === 0,
          concat(lit("{bad "), col("doc_id").cast("string"), lit("}"))
        ).otherwise(
          to_csv(struct(
            col("doc_id"), col("source"), col("n_chars"), title.as("title")
          ))
        ).as("value")
      )
      .write.mode("overwrite").text(path)

    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("source", org.apache.spark.sql.types.StringType)
      .add("n_chars", org.apache.spark.sql.types.LongType)
      .add("title", org.apache.spark.sql.types.StringType)
    val (clean, corrupt) = sources.Csv.branch(sources.Csv.read(s, path, schema))

    clean
      .select(
        lit("clean").as("kind"), col("doc_id"), col("source"), col("n_chars"),
        md5(col("title")).as("payload_md5")
      )
      .unionAll(
        corrupt.select(
          lit("corrupt").as("kind"),
          lit(null).cast("long").as("doc_id"),
          lit(null).cast("string").as("source"),
          lit(null).cast("long").as("n_chars"),
          md5(col("raw")).as("payload_md5")
        )
      )
  }

  private val csvIngestSql =
    """SELECT 'clean' AS kind, doc_id, source, n_chars,
      |  md5('Doc "' || doc_id || '" from ' || source || ', rated') AS payload_md5
      |FROM documents WHERE doc_id % 19 <> 0
      |UNION ALL
      |SELECT 'corrupt', NULL, NULL, NULL, md5('{bad ' || doc_id || '}')
      |FROM documents WHERE doc_id % 19 = 0""".stripMargin

  // -------------------------------------------- vocab coverage gate (B45)

  /** Tokenizer-vocabulary coverage: per-document out-of-vocabulary rate
    * against the corpus's top-1000-word vocabulary — the coverage gate run
    * before committing a tokenizer (docs with high OOV rates are script
    * mismatches, encoding damage, or noise). The vocabulary here is
    * self-derived for determinism; a production run would broadcast the
    * tokenizer's real vocab instead — same plan shape.
    *
    * Scale shape: the vocab is a bounded top-k (TakeOrdered distributed
    * limit over the word hash-agg — no global window; localCheckpoint cuts
    * the corpus lineage off the 1000-row result, as in text_word_topk),
    * then BROADCAST against the token explode; one per-doc hash-agg ends
    * the plan. Token explode is linear; the big side never shuffles on the
    * join key.
    */
  private def textVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val words = documents(s, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
    val vocab = words.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(1000)
      .select(col("term"), lit(1L).as("in_vocab"))
      .localCheckpoint()
    words
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        (count(lit(1)) - count(col("in_vocab"))).as("n_oov")
      )
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate")
      )
  }

  private val textVocabCoverageSql =
    s"""WITH w AS (SELECT doc_id, unnest(string_split($normSql,' ')) AS term FROM documents),
       |v AS (SELECT term FROM (
       |  SELECT term, count(*) AS cnt FROM w GROUP BY 1
       |  ORDER BY cnt DESC, term ASC LIMIT 1000)),
       |j AS (SELECT w.doc_id, w.term, v.term AS vt FROM w LEFT JOIN v ON w.term = v.term)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  round(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS oov_rate
       |FROM j GROUP BY 1""".stripMargin

  // ------------------------------------- streaming curation e2e (B46)

  /** The streaming twin of `curate_pipeline_e2e`: documents flow through a
    * REAL Structured Streaming topology — parquet-backed stream source →
    * quality gate (pushed into the stream's scan) → content fingerprint →
    * stateful keyed dedup (`StatefulDedup.latestWins` with the NEGATED
    * doc_id as the version, so the state's high-water-mark semantics keep
    * the LOWEST id per fingerprint — the canonical-survivor rule of B1's
    * batch form) → checkpointed parquet sink, drained with AvailableNow.
    * The driver's hash compare covers the entire streaming path; the
    * oracle restates the semantics as a batch min-per-group.
    *
    * Determinism note: the per-batch reduce inside latestWins picks the
    * min-id record regardless of arrival order within the batch, and
    * AvailableNow drains the staged corpus in one batch — so the sink
    * holds exactly one row per fingerprint. On a multi-batch deployment
    * the sink may also hold superseded earlier emissions (append mode
    * cannot retract); the batch compaction (B2) downstream collapses them.
    */
  private def curateStreamE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r16 (§2.3): stage the RAW fixture bytes (a filesystem copy) instead
    // of decode+re-encoding the whole documents table through Spark —
    // the documents loader applies no column adaptation, so the staged
    // bytes stream identically
    val srcDir = graft.streaming.WorkDirs.stageRawTable(s, dir, "documents", "curstream-src")
    val okDir  = graft.streaming.WorkDirs.fresh(s, "curstream-ok")
    val ckpt   = graft.streaming.WorkDirs.fresh(s, "curstream-ckpt")

    val schema = s.read.parquet(srcDir).schema
    val gated = s.readStream.schema(schema).parquet(srcDir)
      .filter(col("n_chars").between(100, 5000))
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .select(col("doc_id"), col("source"), col("n_chars"), col("fp"))
      .as[(Long, String, Long, Long)]

    val deduped = graft.streaming.StatefulDedup
      .latestWins[Long, (Long, String, Long, Long)](gated, _._4, r => -r._1)
      .toDF("doc_id", "source", "n_chars", "fp")

    // fingerprint-keyed state is tiny at fixture scale: 8 stores, not the
    // batch shuffle default (see StreamConf — deployment-sizing knob)
    graft.streaming.StreamConf.withStatePartitions(s, 8) {
      val q = deduped.writeStream
        .format("parquet")
        .option("path", okDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    s.read.parquet(okDir).select("doc_id", "source", "n_chars", "fp")
  }

  private val curateStreamE2eSql = {
    val fp = s"CAST('0x' || substr(md5($normSql),1,15) AS BIGINT)"
    s"""WITH f AS (SELECT doc_id, source, n_chars, $fp AS fp
       |  FROM documents WHERE n_chars BETWEEN 100 AND 5000)
       |SELECT f.doc_id, f.source, f.n_chars, f.fp
       |FROM f JOIN (SELECT fp, min(doc_id) AS m FROM f GROUP BY 1) g
       |  ON f.fp = g.fp AND f.doc_id = g.m""".stripMargin
  }

  // ------------------------------------------------------------ registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_dup_spans", Seq("B41"), textDupSpans, textDupSpansSql),
    QuerySpec("q_token_budget_select", Seq("B42"), qTokenBudgetSelect, qTokenBudgetSelectSql),
    QuerySpec("sim_centroid_outliers", Seq("B43"), simCentroidOutliers, simCentroidOutliersSql),
    QuerySpec("csv_ingest", Seq("A13", "B44"), csvIngest, csvIngestSql),
    QuerySpec("text_vocab_coverage", Seq("B45"), textVocabCoverage, textVocabCoverageSql),
    QuerySpec("curate_stream_e2e", Seq("B46"), curateStreamE2e, curateStreamE2eSql)
  )
}
