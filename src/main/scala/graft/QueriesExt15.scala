package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.normSql

/** Round-7 additions, batch 3: cluster-balanced sampling (B51), corpus
  * snapshot diff (B52), and histogram-exact per-source quantile
  * calibration (B53) — the selection, incremental-refresh, and
  * threshold-setting steps of a corpus build.
  */
object QueriesExt15 {

  // ------------------------------ cluster-balanced sampling (B51)

  /** Diversity-preserving subset selection: run the deterministic k-means
    * (B50), then keep an equal quota of documents from every embedding
    * cluster, chosen in md5(vec_id) order — the cluster-balanced sampling
    * step that follows SemDeDup-style clustering, preventing the corpus's
    * dominant mode from monopolizing a downsampled training set.
    *
    * Scale shape: on top of kmeansAssign's shuffle-free assignment, the
    * per-cluster quota is a bounded-heap TopKBy aggregate — quota·k rows
    * cross the shuffle, never the corpus, and a mega-cluster cannot skew
    * a task (the heap is O(quota) regardless of cluster size). The md5
    * rank key is truncated to 48 bits so it is exact in the aggregate's
    * double score (53-bit mantissa); ties break on vec_id.
    */
  private def simClusterSample(s: SparkSession, dir: String): DataFrame = {
    val quota = 25
    val assigned = graft.operators.Similarity
      .kmeansAssign(embeddings(s, dir), "vec_id", "embedding", 8, 2)
    assigned
      .withColumn(
        "h",
        -conv(substring(md5(col("vec_id").cast("string")), 1, 12), 16, 10)
          .cast("long")
          .cast("double")
      )
      .groupBy("cluster")
      .agg(graft.functions.TopKBy.topKByLong(col("h"), col("vec_id"), quota).as("top"))
      .select(col("cluster"), posexplode(col("top")))
      .select(
        col("cluster"),
        (col("pos") + 1).cast("long").as("samp_rank"),
        col("col.id").as("vec_id")
      )
  }

  private val simClusterSampleSql =
    """WITH base AS (
      |  FROM (WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
      |  seeds AS (SELECT CAST(row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS INT) AS cluster, v
      |    FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
      |  ex AS (SELECT vec_id, u.dim AS dim, u.val AS val FROM (
      |    SELECT vec_id, unnest([{'dim': i - 1, 'val': v[i]} for i in range(1, len(v) + 1)]) AS u
      |    FROM e)),
      |  sx AS (SELECT cluster, u.dim AS dim, u.val AS val FROM (
      |    SELECT cluster, unnest([{'dim': i - 1, 'val': v[i]} for i in range(1, len(v) + 1)]) AS u
      |    FROM seeds)),
      |  d1 AS (SELECT ex.vec_id, sx.cluster, round(sum((ex.val - sx.val) * (ex.val - sx.val)), 6) AS d2
      |    FROM ex JOIN sx USING (dim) GROUP BY 1, 2),
      |  a1 AS (SELECT vec_id, cluster FROM (
      |    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
      |    FROM d1) WHERE rn = 1),
      |  c1 AS (SELECT a1.cluster, ex.dim, round(avg(ex.val), 6) AS c
      |    FROM ex JOIN a1 USING (vec_id) GROUP BY 1, 2),
      |  d2t AS (SELECT ex.vec_id, c1.cluster, round(sum((ex.val - c1.c) * (ex.val - c1.c)), 6) AS d2
      |    FROM ex JOIN c1 USING (dim) GROUP BY 1, 2)
      |  SELECT vec_id, cluster FROM (
      |    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
      |    FROM d2t) WHERE rn = 1)),
      |ranked AS (SELECT cluster,
      |    row_number() OVER (PARTITION BY cluster
      |      ORDER BY CAST('0x' || substr(md5(vec_id::VARCHAR), 1, 12) AS BIGINT), vec_id) AS samp_rank,
      |    vec_id
      |  FROM base)
      |SELECT cluster, CAST(samp_rank AS BIGINT) AS samp_rank, vec_id
      |FROM ranked WHERE samp_rank <= 25""".stripMargin

  // ------------------------------------ corpus snapshot diff (B52)

  /** Incremental-refresh diff between two corpus snapshots: v2 is staged
    * deterministically from v1 (docs with `doc_id % 13 = 0` dropped, docs
    * with `doc_id % 7 = 0` re-crawled with changed text, docs with
    * `doc_id % 11 = 0` re-ingested under a shifted id), then diffed by a
    * full-outer join on doc_id comparing content fingerprints. Every doc
    * gets a status — added / removed / changed / same — the work-list
    * that drives incremental re-embedding and re-dedup instead of a full
    * rebuild.
    *
    * Scale shape: one full-outer shuffle join on the snapshot key — the
    * minimal possible data movement for a diff; write both snapshots
    * bucketed by doc_id (B15) and the Exchange disappears entirely. The
    * fingerprint comparison ships 60-bit hashes, not text.
    */
  private def corpusSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val v1 = documents(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    val v2base = documents(s, dir).filter(col("doc_id") % 13 =!= 0)
    val v2 = v2base
      .select(
        when(col("doc_id") % 11 === 0, col("doc_id") + 1000000000000L)
          .otherwise(col("doc_id"))
          .as("doc_id"),
        TextAnalysis
          .fingerprint(
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [recrawled v2]")))
              .otherwise(col("text"))
          )
          .as("fp")
      )
    v1.select(col("doc_id"), col("fp").as("old_fp"))
      .join(v2.select(col("doc_id"), col("fp").as("new_fp")), Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        col("old_fp"),
        col("new_fp"),
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("same"))
          .as("status")
      )
  }

  private val corpusSnapshotDiffSql = {
    val fpOf = (e: String) =>
      s"CAST('0x' || substr(md5(regexp_replace(lower(trim($e)),'\\s+',' ','g')),1,15) AS BIGINT)"
    s"""WITH v1 AS (SELECT doc_id, ${fpOf("text")} AS old_fp FROM documents),
       |v2 AS (SELECT CASE WHEN doc_id % 11 = 0 THEN doc_id + 1000000000000 ELSE doc_id END AS doc_id,
       |    ${fpOf("CASE WHEN doc_id % 7 = 0 THEN text || ' [recrawled v2]' ELSE text END")} AS new_fp
       |  FROM documents WHERE doc_id % 13 <> 0)
       |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id, old_fp, new_fp,
       |  CASE WHEN old_fp IS NULL THEN 'added'
       |       WHEN new_fp IS NULL THEN 'removed'
       |       WHEN old_fp <> new_fp THEN 'changed'
       |       ELSE 'same' END AS status
       |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id""".stripMargin
  }

  // ---------------------- per-source quantile calibration (B53)

  /** Quality-threshold calibration: per-source EXACT p10/p50/p90 of
    * document length, computed scalably, then joined back to flag docs
    * below their source's p10 — how a pipeline sets per-provenance
    * admission thresholds instead of one global cutoff.
    *
    * Quantile definition (pinned for replay): p_q = the smallest value v
    * with cum(v)·den ≥ num·total for q = num/den — the inverted-CDF /
    * "lower" quantile as PURE INTEGER arithmetic. (A `ceil(q·total)`
    * formulation would diverge across engines: Spark's 0.1 literal is a
    * double, DuckDB's is a DECIMAL, and q·total lands on opposite sides
    * of an integer at the boundary.)
    *
    * Scale shape: a naive exact percentile buffers every value per group
    * (Spark's `percentile` agg — OOM at corpus scale). This plan instead
    * exploits the BOUNDED value domain: hash-agg to a (source, n_chars)
    * histogram (map-side combined — at most sources × distinct-lengths
    * rows survive), cumulative-sum over that small table with a
    * per-source window, pick thresholds, and BROADCAST the per-source
    * row back over the corpus. The corpus itself never sorts and never
    * shuffles — the same two-level trick as the token-budget selector
    * (B42).
    */
  private def qQuantileCalibration(s: SparkSession, dir: String): DataFrame = {
    val hist = documents(s, dir)
      .groupBy("source", "n_chars")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("source").orderBy("n_chars")
    val cum = hist
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("total", sum("cnt").over(Window.partitionBy("source")))
    def thresh(num: Int, den: Int, name: String) =
      min(when(col("cum") * den >= col("total") * num, col("n_chars"))).as(name)
    val th = cum
      .groupBy("source")
      .agg(thresh(1, 10, "p10"), thresh(1, 2, "p50"), thresh(9, 10, "p90"))
    documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(broadcast(th), Seq("source"))
      .select(
        col("doc_id"),
        col("source"),
        col("n_chars"),
        col("p10"),
        col("p50"),
        col("p90"),
        (col("n_chars") < col("p10")).as("below_p10")
      )
  }

  private val qQuantileCalibrationSql =
    """WITH hist AS (SELECT source, n_chars, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |cum AS (SELECT source, n_chars,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
      |    sum(cnt) OVER (PARTITION BY source) AS total
      |  FROM hist),
      |th AS (SELECT source,
      |    min(CASE WHEN cum * 10 >= total THEN n_chars END) AS p10,
      |    min(CASE WHEN cum * 2 >= total THEN n_chars END) AS p50,
      |    min(CASE WHEN cum * 10 >= total * 9 THEN n_chars END) AS p90
      |  FROM cum GROUP BY 1)
      |SELECT doc_id, d.source AS source, n_chars, p10, p50, p90,
      |  n_chars < p10 AS below_p10
      |FROM documents d JOIN th ON d.source = th.source""".stripMargin

  // ---------------------------------- k-anonymity release audit (B54)

  /** Release-safety audit before publishing a corpus: group documents by
    * their quasi-identifier tuple — (lang, source, n_chars rounded to its
    * hundreds bucket) — and flag every document whose group has fewer
    * than k = 5 members. Small QI groups are the re-identification
    * risk: a "unique-looking" combination points at one contributor.
    * Output is the per-doc work-list (suppress, generalize, or hold).
    *
    * Scale shape: one map-side-combined hash-agg to group sizes, then a
    * shuffle join back on the QI key — group count scales with the
    * corpus, so the sizes table is NOT broadcast (B19's call, not
    * B13's). Both sides shuffle once on the same key; bucketing the
    * corpus by QI would eliminate even that.
    */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame = {
    val k  = 5
    val qi = Seq(col("lang"), col("source"), (col("n_chars") - col("n_chars") % 100).as("len_bucket"))
    val docs = documents(s, dir).select(col("doc_id") +: qi: _*)
    val sizes = docs
      .groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("group_size"))
    docs
      .join(sizes, Seq("lang", "source", "len_bucket"))
      .select(
        col("doc_id"),
        col("lang"),
        col("source"),
        col("len_bucket"),
        col("group_size"),
        (col("group_size") < k).as("risky")
      )
  }

  private val qKAnonymitySql =
    """WITH docs AS (SELECT doc_id, lang, source, n_chars - n_chars % 100 AS len_bucket
      |  FROM documents),
      |sizes AS (SELECT lang, source, len_bucket, count(*) AS group_size
      |  FROM docs GROUP BY 1, 2, 3)
      |SELECT doc_id, d.lang AS lang, d.source AS source, d.len_bucket AS len_bucket,
      |  group_size, group_size < 5 AS risky
      |FROM docs d JOIN sizes USING (lang, source, len_bucket)""".stripMargin

  // ------------------------- schema-evolution tolerant scan (B55)

  /** Lakehouse schema-drift ingestion: a corpus directory whose older
    * files predate two columns added later (`quality_score`, `license`).
    * The old batch (even doc_ids) is written with the original 5-column
    * schema, the new batch (odd doc_ids) with the evolved 7-column one,
    * and the read applies the EXPLICIT unified schema — parquet
    * null-fills columns a file lacks, which is the additive-evolution
    * contract (the reader-side mirror of the Avro registry's BACKWARD
    * compatibility gate in SchemaCompat). Parity proves old rows surface
    * with NULLs and new rows round-trip their values.
    *
    * Scale shape: an explicit schema keeps the scan single-pass and
    * footer-cheap — `mergeSchema=true` would reconcile schemas across
    * every file footer per query, an O(files) planning step nobody
    * should pay at 100 TB when the unified schema is known. Still one
    * splittable columnar scan; the projection prunes `text` as usual.
    */
  private def corpusSchemaDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val stage = graft.streaming.WorkDirs.fresh(s, "schema-drift")
    val docs  = documents(s, dir)
    docs
      .filter(col("doc_id") % 2 === 0)
      .write.mode("append").parquet(stage)
    docs
      .filter(col("doc_id") % 2 === 1)
      .withColumn("quality_score", round(col("n_chars") / lit(1000.0), 6))
      .withColumn(
        "license",
        when(col("doc_id") % 3 === 0, lit("cc-by")).otherwise(lit("unknown"))
      )
      .write.mode("append").parquet(stage)

    val unified = StructType(
      Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType),
        StructField("quality_score", DoubleType),
        StructField("license", StringType)
      )
    )
    s.read
      .schema(unified)
      .parquet(stage)
      .select(
        col("doc_id"),
        col("lang"),
        col("source"),
        col("n_chars"),
        col("quality_score"),
        col("license"),
        col("quality_score").isNotNull.as("evolved")
      )
  }

  private val corpusSchemaDriftSql =
    """SELECT doc_id, lang, source, n_chars,
      |  CASE WHEN doc_id % 2 = 1 THEN round(n_chars::DOUBLE / 1000.0, 6) END AS quality_score,
      |  CASE WHEN doc_id % 2 = 1 THEN
      |    CASE WHEN doc_id % 3 = 0 THEN 'cc-by' ELSE 'unknown' END END AS license,
      |  doc_id % 2 = 1 AS evolved
      |FROM documents""".stripMargin

  // ---------------------------- time-decayed engagement score (B56)

  /** Recency-weighted user activity: each event contributes
    * `0.5^(age_days / 7)` (7-day half-life, anchored at the corpus's max
    * event time) and users are scored by the decayed sum — the feature
    * an engagement model consumes instead of a raw count, which a
    * year-old burst would dominate.
    *
    * Parity/scale shape: the decay factor is rounded to 6 dp and scaled
    * to integer MICROS, so the per-user sum is an exact DECIMAL(38,0) of
    * longs — partition-order independent (B22's lesson: a raw double sum
    * associates differently per engine). The max-ts anchor is a 1-row
    * aggregate broadcast by the intended nested-loop join (B27's
    * pattern); one map-side-combined hash-agg per user ends the plan.
    */
  private def eventsDecayScore(s: SparkSession, dir: String): DataFrame = {
    val ev  = events(s, dir)
    val ref = ev.agg(max("ts").as("ref_ts"))
    val ageDays =
      (unix_millis(col("ref_ts")) - unix_millis(col("ts"))).cast("double") / lit(86400000.0)
    val decayMicro =
      round(round(pow(lit(0.5), ageDays / lit(7.0)), 6) * 1000000L, 0).cast("long")
    ev.crossJoin(broadcast(ref))
      .select(col("user_id"), decayMicro.as("dm"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("dm").cast("decimal(38,0)")).as("sm"))
      .select(
        col("user_id"),
        col("n_events"),
        round((col("sm") / lit(1000000L)).cast("double"), 6).as("decay_score")
      )
  }

  private val eventsDecayScoreSql =
    """WITH ref AS (SELECT max(ts) AS ref_ts FROM events),
      |d AS (SELECT user_id,
      |    CAST(round(round(power(0.5,
      |      ((epoch_ms(ref_ts) - epoch_ms(ts)) / 86400000.0) / 7.0), 6) * 1000000, 0) AS BIGINT) AS dm
      |  FROM events CROSS JOIN ref)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  round((CAST(sum(dm) AS DECIMAL(38,0)) / 1000000)::DOUBLE, 6) AS decay_score
      |FROM d GROUP BY 1""".stripMargin

  // ---------------- weighted sampling without replacement (B57)

  /** Efraimidis–Spirakis A-ES weighted sampling: each doc draws a
    * deterministic uniform u from its md5 (48-bit slice → exact in a
    * double) and races with exponential key `-ln(u) / w`, weight
    * w = n_chars; the k smallest keys win. Inclusion probability is
    * proportional to weight — the standard one-pass distributed
    * weighted-sample-without-replacement, with the PRNG replaced by the
    * hash so both engines replay the identical draw.
    *
    * Scale shape: the key is computed scan-fused; the global top-k is
    * the bounded-heap TopKBy GLOBAL aggregate — k rows per partition
    * cross to a single reducer, never the corpus (B38's shape). Keys are
    * rounded to 9 dp (values ≳1e-5 keep ≥4 significant digits; ties
    * break on doc_id identically in both engines).
    */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val k    = 100
    val h48  = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10).cast("long")
    val u    = (h48 + 1).cast("double") / lit(281474976710656.0) // 2^48
    val key  = round(-log(u) / greatest(col("n_chars"), lit(1L)).cast("double"), 9)
    documents(s, dir)
      .select(col("doc_id"), key.as("key"))
      .agg(graft.functions.TopKBy.topKByLong(-col("key"), col("doc_id"), k).as("top"))
      .select(posexplode(col("top")))
      .select(
        (col("pos") + 1).cast("long").as("samp_rank"),
        col("col.id").as("doc_id"),
        (-col("col.score")).as("key")
      )
  }

  private val qWeightedSampleSql =
    """WITH keyed AS (SELECT doc_id,
      |    round(-ln((CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 12) AS BIGINT) + 1)::DOUBLE
      |      / 281474976710656.0) / greatest(n_chars, 1)::DOUBLE, 9) AS key
      |  FROM documents)
      |SELECT CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT) AS samp_rank,
      |  doc_id, key
      |FROM keyed ORDER BY key, doc_id LIMIT 100""".stripMargin

  // ------------------------- prefix autocomplete index (B58)

  /** Search-index build: the top-5 corpus words per prefix (prefix
    * lengths 1–4), ranked (count desc, word asc) — the precomputed
    * completion table a search box serves from, built corpus-wide.
    *
    * Scale shape: token explode → word hash-agg collapses the corpus to
    * its VOCABULARY first; prefixes explode at ≤4 rows per distinct
    * word (vocab-level, never token-level — B26's trick); the per-prefix
    * rank window partitions over vocab-bounded groups, so no partition
    * scales with corpus size. Corpus growth only changes the counts.
    */
  private def textAutocompleteTopk(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val k = 5
    val words = documents(s, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0) // empty term: Spark sequence(1,0) DESCENDS where DuckDB range is empty
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))
    val w = Window
      .partitionBy("prefix")
      .orderBy(col("cnt").desc, col("term").asc)
    words
      .select(
        col("term"),
        col("cnt"),
        explode(expr("transform(sequence(1, least(length(term), 4)), i -> substr(term, 1, i))"))
          .as("prefix")
      )
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("prefix"), col("rank").cast("long").as("rank"), col("term"), col("cnt"))
  }

  private val textAutocompleteTopkSql =
    s"""WITH tok AS (SELECT unnest(string_split($normSql, ' ')) AS term FROM documents),
       |words0 AS (SELECT term FROM tok WHERE length(term) > 0),
       |words AS (SELECT term, count(*) AS cnt FROM words0 GROUP BY 1),
       |pfx AS (SELECT term, cnt,
       |    unnest([substr(term, 1, i) for i in range(1, least(length(term), 4) + 1)]) AS prefix
       |  FROM words),
       |ranked AS (SELECT prefix, term, cnt,
       |    row_number() OVER (PARTITION BY prefix ORDER BY cnt DESC, term ASC) AS rank
       |  FROM pfx)
       |SELECT prefix, CAST(rank AS BIGINT) AS rank, term, cnt
       |FROM ranked WHERE rank <= 5""".stripMargin

  // ------------------- degenerate-repetition detection (B59)

  /** Anti-looping quality filter: per document, the longest run of
    * CONSECUTIVE identical tokens, the number of runs ≥ 3, and a
    * `looping` flag at max-run ≥ 5 — the degenerate-generation signal
    * (model loops, scraper stutter, boilerplate padding) that Gopher-style
    * duplicate-FRACTION metrics (B17) miss because they ignore adjacency.
    *
    * Scale shape: positional token explode (linear) → gaps-and-islands
    * with windows partitioned by (doc, term) and (doc) — every partition
    * is bounded by document length, never by the corpus (B41's shape) —
    * then two hash-aggs down to one row per doc.
    */
  private def textMaxWordRun(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val toks = documents(s, dir)
      .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "term")))
    val grp = col("pos") - row_number().over(
      Window.partitionBy(col("doc_id"), col("term")).orderBy(col("pos"))
    )
    toks
      .withColumn("grp", grp)
      .groupBy("doc_id", "term", "grp")
      .agg(count(lit(1)).as("run_len"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_runs"),
        max("run_len").as("max_run"),
        sum(when(col("run_len") >= 3, 1L).otherwise(0L)).as("n_loops")
      )
      .select(
        col("doc_id"),
        col("n_runs"),
        col("max_run"),
        col("n_loops"),
        (col("max_run") >= 5).as("looping")
      )
  }

  private val textMaxWordRunSql =
    s"""WITH toks AS (SELECT doc_id,
       |    unnest(string_split($normSql, ' ')) AS term,
       |    generate_subscripts(string_split($normSql, ' '), 1) - 1 AS pos
       |  FROM documents),
       |runs AS (SELECT doc_id, term,
       |    pos - row_number() OVER (PARTITION BY doc_id, term ORDER BY pos) AS grp
       |  FROM toks),
       |rl AS (SELECT doc_id, term, grp, count(*) AS run_len
       |  FROM runs GROUP BY 1, 2, 3)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
       |  CAST(max(run_len) AS BIGINT) AS max_run,
       |  CAST(sum(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_loops,
       |  max(run_len) >= 5 AS looping
       |FROM rl GROUP BY 1""".stripMargin

  // ------------------------------------------------------------ registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_cluster_sample", Seq("B51"), simClusterSample, simClusterSampleSql),
    QuerySpec("corpus_snapshot_diff", Seq("B52"), corpusSnapshotDiff, corpusSnapshotDiffSql),
    QuerySpec("q_quantile_calibration", Seq("B53"), qQuantileCalibration, qQuantileCalibrationSql),
    QuerySpec("q_k_anonymity", Seq("B54"), qKAnonymity, qKAnonymitySql),
    QuerySpec("corpus_schema_drift", Seq("B55"), corpusSchemaDrift, corpusSchemaDriftSql),
    QuerySpec("events_decay_score", Seq("B56"), eventsDecayScore, eventsDecayScoreSql),
    QuerySpec("q_weighted_sample", Seq("B57"), qWeightedSample, qWeightedSampleSql),
    QuerySpec("text_autocomplete_topk", Seq("B58"), textAutocompleteTopk, textAutocompleteTopkSql),
    QuerySpec("text_max_word_run", Seq("B59"), textMaxWordRun, textMaxWordRunSql)
  )
}
