package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.normSql
import graft.operators.TextAnalysis

/** Eleventh query batch — five training-data pipeline operators that round
  * out the curation surface (SURVEY.md §2 Part B extensions):
  *
  *  - sequence packing: concatenate-and-chunk documents into fixed token
  *    budgets per shard (the GPT-style pretraining batch layout);
  *  - overlapping chunking: fixed-size / fixed-stride character windows
  *    (the RAG indexing layout);
  *  - BPE pair statistics: corpus-wide adjacent-symbol pair counts — the
  *    inner step of byte-pair-encoding tokenizer training;
  *  - mixture weighting: per-source token shares and the resampling
  *    weights that equalize the mixture;
  *  - duplicated-span scrubbing: CCNet-style removal of spans that repeat
  *    across many documents, with the scrubbed text re-assembled in order.
  *
  * Parity rules as elsewhere: round(x, 6) on ratios, BIGINT casts on
  * counts, md5 ordering/content hashes so engines compare byte-for-byte.
  */
object QueriesExt11 {

  // -------------------------------------------------- sequence packing

  /** Pack documents into fixed token budgets, shard-parallel.
    *
    * Training batches are built by concatenating documents in a
    * deterministic order and slicing the stream every `budget` tokens;
    * the bin of a document is floor(tokens-before-it / budget). The
    * cumulative sum is windowed PER SOURCE (the shard key), never
    * globally — at 100 TB each shard packs independently in parallel and
    * a global ordering would serialize the job (sub-shard further with
    * q_shard_assign's bucket ids when single sources are too large).
    * Order inside a shard is md5(text): reproducible across engines and
    * uncorrelated with ingest order, which is what a shuffled pretraining
    * stream wants.
    */
  private def qPackSequences(s: SparkSession, dir: String): DataFrame = {
    val budget = 256
    val w = Window.partitionBy("source").orderBy("ord", "doc_id")
    documents(s, dir)
      .select(
        col("source"), col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        md5(col("text")).as("ord")
      )
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin_id", floor((col("cum") - col("n_tokens")) / lit(budget.toDouble)).cast("long"))
      .groupBy("source", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
  }

  private val qPackSequencesSql =
    s"""WITH t AS (SELECT source, doc_id,
       |    CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens,
       |    md5(text) AS ord
       |  FROM documents),
       |c AS (SELECT source, doc_id, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY ord, doc_id) AS cum
       |  FROM t)
       |SELECT source, CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS bin_id,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
       |FROM c GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------ overlapping chunks

  /** Fixed-size overlapping character windows (RAG indexing): size 200,
    * stride 150. Pure per-row explode — linear, shuffle-free, fuses into
    * the scan; output grows ~len/stride per document which is the
    * operator's contract, not overhead.
    */
  private def textChunkOverlap(s: SparkSession, dir: String): DataFrame = {
    val size_ = 200
    val stride = 150
    val chunk = substr(col("text"), col("start") + 1, lit(size_))
    documents(s, dir)
      // Empty documents: Spark's sequence(0, -1, 150) throws where DuckDB's
      // range(0, 0, 150) yields an empty list — exclude them in BOTH engines.
      .where(length(col("text")) > 0)
      .select(
        col("doc_id"),
        explode(sequence(lit(0), length(col("text")) - 1, lit(stride))).as("start"),
        col("text")
      )
      .select(
        col("doc_id"),
        col("start").cast("long").as("start"),
        length(chunk).cast("long").as("chunk_len"),
        md5(chunk).as("chunk_hash")
      )
  }

  private val textChunkOverlapSql =
    """SELECT doc_id, CAST(s AS BIGINT) AS start,
      |  CAST(length(substr(text, CAST(s AS INT) + 1, 200)) AS BIGINT) AS chunk_len,
      |  md5(substr(text, CAST(s AS INT) + 1, 200)) AS chunk_hash
      |FROM (SELECT doc_id, text, unnest(range(0, length(text), 150)) AS s
      |      FROM documents WHERE length(text) > 0)""".stripMargin

  // ------------------------------------------------- BPE pair counting

  /** The inner step of BPE tokenizer training: count adjacent character
    * pairs across the corpus, weighted by word frequency. Aggregating to
    * the distinct-word level first means the (expensive) pair explosion
    * runs once per VOCABULARY entry, not once per corpus token — at
    * 100 TB the word-count aggregate is the only full-data pass and it is
    * map-side combined. Top 20 with the pair string as tiebreak so the
    * limit is deterministic.
    */
  private def textBpePairs(s: SparkSession, dir: String): DataFrame = {
    val words = documents(s, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    words
      .where(length(col("w")) >= 2)
      .select(
        col("cnt"),
        explode(
          transform(
            sequence(lit(1), length(col("w")) - 1),
            i => concat(substr(col("w"), i, lit(1)), lit(" "), substr(col("w"), i + 1, lit(1)))
          )
        ).as("pair")
      )
      .groupBy("pair").agg(sum(col("cnt")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair").asc)
      .limit(20)
  }

  private val textBpePairsSql =
    s"""WITH w AS (SELECT w, count(*) AS cnt
       |  FROM (SELECT unnest(string_split($normSql, ' ')) AS w FROM documents)
       |  GROUP BY 1),
       |p AS (SELECT cnt,
       |    unnest([substr(w, i, 1) || ' ' || substr(w, i + 1, 1) for i in range(1, length(w))]) AS pair
       |  FROM w WHERE length(w) >= 2)
       |SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count
       |FROM p GROUP BY 1
       |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin

  // ------------------------------------------------- mixture weighting

  /** Per-source token shares and the resampling weight that would
    * equalize the mixture (weight = uniform-target-share / actual-share).
    * The corpus-wide totals are a one-row aggregate broadcast back over
    * the per-source rows — no global window, no driver collect.
    */
  private def qMixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val per = documents(s, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("n_tokens")
      )
    val tot = per.agg(
      sum(col("n_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_sources")
    )
    per.crossJoin(broadcast(tot)).select(
      col("source"), col("n_docs"), col("n_tokens"),
      round(col("n_tokens") / col("tot_tokens"), 6).as("token_share"),
      round((lit(1.0) / col("n_sources")) / (col("n_tokens") / col("tot_tokens")), 6).as("mix_weight")
    )
  }

  private val qMixtureWeightsSql =
    s"""WITH per AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split($normSql, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens, count(*) AS n_sources FROM per)
       |SELECT source, n_docs, n_tokens,
       |  round(n_tokens / tot_tokens, 6) AS token_share,
       |  round((1.0 / n_sources) / (n_tokens / tot_tokens), 6) AS mix_weight
       |FROM per, tot""".stripMargin

  // -------------------------------------- duplicated-span scrubbing

  /** CCNet-style duplicated-span removal. The corpus has no newline
    * structure (TESTDATA.md), so "lines" are staged deterministically as
    * consecutive 2-token groups of the normalized text — the operator is
    * generic over any span segmentation. A span is boilerplate when it
    * occurs in >= 5 distinct documents; each document reports its span
    * counts and the md5 of its text re-assembled WITHOUT the duplicated
    * spans, in original order.
    *
    * Scale shape: explode + hash-agg for span document-frequencies (map-
    * side combined), one equi-join back (left to AQE — the duplicated-span
    * set of a web corpus can exceed broadcast size), and a per-document
    * ordered re-assembly via sort_array(collect_list(struct(pos, line)))
    * — grouping is by doc_id, so no global sort and no skew beyond the
    * largest single document.
    */
  private def dedupLines(s: SparkSession, dir: String): DataFrame = {
    // consecutive W-token groups via ONE greedy regex: '\S+( \S+){0,W-1}'
    // matches non-overlapping groups left-to-right, so the whole span
    // segmentation is a single codegen'd regexp_extract_all — an earlier
    // transform(sequence)/slice/array_join formulation was interpreted
    // HOF work and ~3x slower
    val W = 2
    val linePattern = s"\\S+( \\S+){0,${W - 1}}"
    val base = documents(s, dir)
      .select(
        col("doc_id"),
        posexplode(
          regexp_extract_all(TextAnalysis.normalize(col("text")), lit(linePattern), lit(0))
        ).as(Seq("pos", "line"))
      )
    val dup = base
      .groupBy("line")
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") >= 5)
      .select(col("line").as("dline"))
    base
      .join(dup, base("line") === dup("dline"), "left")
      .select(col("doc_id"), col("pos"), col("line"), col("dline").isNotNull.as("is_dup"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_lines"),
        md5(
          array_join(
            transform(
              array_sort(collect_list(when(!col("is_dup"), struct(col("pos"), col("line"))))),
              x => x.getField("line")
            ),
            " "
          )
        ).as("clean_hash")
      )
  }

  private val dedupLinesSql =
    s"""WITH t AS (SELECT doc_id, regexp_extract_all($normSql, '\\S+( \\S+){0,1}') AS ls FROM documents),
       |l AS (SELECT doc_id, unnest(range(0, len(ls))) AS pos, unnest(ls) AS line FROM t),
       |d AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY 1)
       |      WHERE df >= 5),
       |m AS (SELECT l.doc_id, l.pos, l.line, d.line IS NOT NULL AS is_dup
       |      FROM l LEFT JOIN d ON l.line = d.line)
       |SELECT doc_id, count(*) AS n_lines,
       |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
       |  md5(coalesce(string_agg(CASE WHEN NOT is_dup THEN line END, ' ' ORDER BY pos), '')) AS clean_hash
       |FROM m GROUP BY 1""".stripMargin

  // ------------------------------------------------------ k-NN graph (B4)

  /** Approximate k-NN graph over embeddings (Similarity.knnGraph): the
    * building block for semantic clustering / graph-based dedup. Oracle
    * replays the identical RP-LSH geometry (md5-derived sign planes) and
    * ranks each node's candidates with a window — rank parity holds
    * because both engines order by (rounded cosine desc, neighbor asc).
    */
  private def simKnnGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    operators.Similarity.knnGraph(
      emb, "vec_id", "embedding", k = 3, tau = 0.0,
      bitsPerBand = operators.Similarity.bitsFor(emb.count())
    )
  }

  private val simKnnGraphSql =
    s"""WITH ${QueriesExt10.rpCandPairsSql("0.0")},
       |sym AS (SELECT id_a AS src, id_b AS nbr, cosine FROM pairs
       |        UNION ALL SELECT id_b, id_a, cosine FROM pairs)
       |SELECT vec_id, CAST(rn AS BIGINT) AS nbr_rank, nbr_id, cosine FROM (
       |  SELECT src AS vec_id, nbr AS nbr_id, cosine,
       |    row_number() OVER (PARTITION BY src ORDER BY cosine DESC, nbr) AS rn
       |  FROM sym)
       |WHERE rn <= 3""".stripMargin

  // ---------------------------------------------- pHash near-dup (B6)

  /** Perceptual-hash near-duplicate detection over media payloads
    * (Multimodal.pHashHex/pHashNearDup). The corpus has no binary media,
    * so payloads are the documents' text bytes plus staged jittered
    * copies (one appended char, ids offset by 1e6) that a locality-
    * preserving hash MUST report as near — the operator is generic over
    * any payload column. Banding gives the pigeonhole guarantee: Hamming
    * <= 3 over 4 bands of 4 digits forces at least one exact band match.
    */
  private def mmPhashNeardup(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val media = docs
      .select(col("doc_id").as("id"), col("text").as("payload"))
      .union(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("id"), concat(col("text"), lit("x")).as("payload"))
      )
    val hashed = media.select(col("id"), operators.Multimodal.pHashHex(col("payload")).as("phash"))
    operators.Multimodal.pHashNearDup(hashed, maxDist = 3)
  }

  private val mmPhashNeardupSql = {
    val digits = (0 until 16).map { i =>
      s"substr(md5(substr(payload, ${i * 16 + 1}, 16)), 1, 1)"
    }
    s"""WITH media AS (
       |  SELECT doc_id AS id, text AS payload FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS id, text || 'x' AS payload FROM documents WHERE doc_id % 10 = 0),
       |ph AS (SELECT id, ${digits.mkString(" || ")} AS phash FROM media),
       |g AS (SELECT phash, min(id) AS id, count(*) AS n FROM ph GROUP BY 1),
       |b AS (SELECT id, phash, n,
       |      unnest([substr(phash,1,4), substr(phash,5,4), substr(phash,9,4), substr(phash,13,4)]) AS bval,
       |      unnest([0, 1, 2, 3]) AS band FROM g),
       |bf AS (SELECT * FROM b WHERE bval != 'dddd'),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bf x JOIN bf y ON x.band = y.band AND x.bval = y.bval AND x.id < y.id),
       |h AS (SELECT c.id_a, c.id_b,
       |      CAST(list_sum([CASE WHEN substr(a.phash, i, 1) != substr(z.phash, i, 1) THEN 1 ELSE 0 END
       |                     for i in range(1, 17)]) AS BIGINT) AS hamming,
       |      a.n AS n_a, z.n AS n_b
       |      FROM cand c JOIN g a ON c.id_a = a.id JOIN g z ON c.id_b = z.id)
       |SELECT id_a, id_b, hamming, n_a, n_b FROM h WHERE hamming <= 3""".stripMargin
  }

  // ------------------------------------------- URL canonical dedup (B5)

  /** URL canonicalization + dedup (TextAnalysis.canonicalizeUrl): two
    * staged variants per document — a clean URL and a tracking-laden,
    * case-jittered, fragment-carrying one — must collapse to the same
    * canonical form; the group keeps its smallest variant id. Linear
    * regex/string work fused into the scan plus one hash-agg on the
    * canonical key.
    */
  private def textUrlNormalize(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val v0 = docs.select(
      (col("doc_id") * 2).as("id"),
      concat(lit("https://"), col("source"), lit(".example.com/a/"), col("doc_id").cast("string")).as("url")
    )
    val v1 = docs.select(
      (col("doc_id") * 2 + 1).as("id"),
      concat(
        lit("https://WWW."), upper(col("source")), lit(".EXAMPLE.COM/a/"), col("doc_id").cast("string"),
        lit("?utm_source=feed&ref="), col("source"), lit("#top")
      ).as("url")
    )
    v0.union(v1)
      .select(col("id"), operators.TextAnalysis.canonicalizeUrl(col("url")).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_variants"), min(col("id")).as("keeper_id"))
  }

  private val textUrlNormalizeSql =
    """WITH raw AS (
      |  SELECT doc_id * 2 AS id,
      |    'https://' || source || '.example.com/a/' || CAST(doc_id AS VARCHAR) AS url
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id * 2 + 1 AS id,
      |    'https://WWW.' || upper(source) || '.EXAMPLE.COM/a/' || CAST(doc_id AS VARCHAR)
      |      || '?utm_source=feed&ref=' || source || '#top' AS url
      |  FROM documents),
      |c AS (SELECT id,
      |    regexp_replace(lower(regexp_extract(regexp_extract(url, '^([^?#]*)', 1), '^(https?://[^/]+)', 1)),
      |                   '://www\.', '://')
      |    || regexp_replace(regexp_extract(url, '^([^?#]*)', 1), '^https?://[^/]+', '')
      |    || (CASE WHEN array_to_string(list_filter(string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
      |                                  p -> NOT regexp_matches(p, '^(utm_[a-z]+|ref)=') AND p != ''), '&') != ''
      |         THEN '?' || array_to_string(list_filter(string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
      |                                  p -> NOT regexp_matches(p, '^(utm_[a-z]+|ref)=') AND p != ''), '&')
      |         ELSE '' END) AS canon_url
      |  FROM raw)
      |SELECT canon_url, count(*) AS n_variants, min(id) AS keeper_id
      |FROM c GROUP BY 1""".stripMargin

  // -------------------------------------------- bloom semi-join (B8)

  /** Explicit Bloom-prefiltered semi-join, via Spark's own runtime-filter
    * expressions registered as SQL functions (GraftExtensions
    * graft_bloom_agg / graft_might_contain). The bloom over the selective
    * dim keys is built in a scalar subquery — one small distributed agg
    * whose result broadcasts as a literal — and drops non-matching fact
    * rows AT THE SCAN, before any shuffle; the exact IN semi-join then
    * removes the bloom's false positives, so the result is exact and the
    * oracle is the plain semi-join. At 100 TB this is the difference
    * between shuffling the full fact table and shuffling ~the match set;
    * it is also precisely what AQE's InjectRuntimeFilter plans when it
    * fires — staged here explicitly so the pattern is available when the
    * optimizer's cost gate declines it.
    */
  private def qBloomSemiJoin(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_items,
         |  round(sum(l_quantity), 2) AS sum_qty,
         |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
         |FROM parquet.`$dir/lineitem.parquet`
         |WHERE graft_might_contain(
         |        (SELECT graft_bloom_agg(xxhash64(o_orderkey))
         |         FROM parquet.`$dir/orders.parquet` WHERE o_totalprice > 450000),
         |        xxhash64(l_orderkey))
         |  AND l_orderkey IN (SELECT o_orderkey
         |                     FROM parquet.`$dir/orders.parquet` WHERE o_totalprice > 450000)
         |GROUP BY l_returnflag""".stripMargin
    )

  private val qBloomSemiJoinSql =
    """SELECT l_returnflag, count(*) AS n_items,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
      |GROUP BY l_returnflag""".stripMargin

  // ------------------------------------------- column profiling (B15)

  /** One-pass column profiler over `orders` (the ANALYZE TABLE shape a
    * curation pipeline runs before deciding partition/sort keys): per
    * column — row count, nulls, exact distinct count, numeric min/max
    * (null for non-numeric). All stats come from a single Aggregate; the
    * multi-column exact distincts plan as one Expand (rows × #distinct
    * aggs cross the shuffle) — at 100 TB swap exact for HLL sketches,
    * which q_approx_sketches already demonstrates.
    */
  private def qColumnProfile(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val one = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nn_key"),
      countDistinct(col("o_orderkey")).as("nd_key"),
      min(col("o_orderkey")).cast("double").as("mn_key"),
      max(col("o_orderkey")).cast("double").as("mx_key"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn_cust"),
      countDistinct(col("o_custkey")).as("nd_cust"),
      min(col("o_custkey")).cast("double").as("mn_cust"),
      max(col("o_custkey")).cast("double").as("mx_cust"),
      sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nn_price"),
      countDistinct(col("o_totalprice")).as("nd_price"),
      round(min(col("o_totalprice")), 2).as("mn_price"),
      round(max(col("o_totalprice")), 2).as("mx_price"),
      sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("nn_status"),
      countDistinct(col("o_orderstatus")).as("nd_status")
    )
    one.selectExpr(
      """stack(4,
        |  'o_orderkey',    n, nn_key,    nd_key,    mn_key,   mx_key,
        |  'o_custkey',     n, nn_cust,   nd_cust,   mn_cust,  mx_cust,
        |  'o_totalprice',  n, nn_price,  nd_price,  mn_price, mx_price,
        |  'o_orderstatus', n, nn_status, nd_status, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |) AS (col_name, n, n_nulls, n_distinct, min_num, max_num)""".stripMargin
    )
  }

  private val qColumnProfileSql =
    """SELECT 'o_orderkey' AS col_name, count(*) AS n,
      |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      |  count(DISTINCT o_orderkey) AS n_distinct,
      |  CAST(min(o_orderkey) AS DOUBLE) AS min_num, CAST(max(o_orderkey) AS DOUBLE) AS max_num
      |FROM orders
      |UNION ALL
      |SELECT 'o_custkey', count(*),
      |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  count(DISTINCT o_custkey),
      |  CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
      |FROM orders
      |UNION ALL
      |SELECT 'o_totalprice', count(*),
      |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  count(DISTINCT o_totalprice),
      |  round(min(o_totalprice), 2), round(max(o_totalprice), 2)
      |FROM orders
      |UNION ALL
      |SELECT 'o_orderstatus', count(*),
      |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  count(DISTINCT o_orderstatus),
      |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
      |FROM orders""".stripMargin

  // ------------------------------------------- data-quality gate (B15)

  /** Rule-based data-quality checks (the admission gate a pipeline runs
    * per ingest batch): each rule reports checked rows, violations, and
    * the violation rate. Null-key and range rules fuse into their single
    * table scan; the referential-integrity rule is one left-anti join
    * against the (broadcastable) parent key set.
    */
  private def qDqChecks(s: SparkSession, dir: String): DataFrame = {
    val l = lineitem(s, dir)
    val o = orders(s, dir)
    val scanRules = l.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("v_null_key"),
      sum(when(!col("l_quantity").between(1, 45), 1L).otherwise(0L)).as("v_qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.08, 1L).otherwise(0L)).as("v_disc")
    )
    val orderRules = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_totalprice") <= 5000, 1L).otherwise(0L)).as("v_price")
    )
    // left_anti keeps NULL-key rows as orphans; the oracle uses NOT EXISTS
    // (not NOT IN, which returns zero rows once any NULL appears) so both
    // engines pin identical null semantics.
    val orphans = l.join(o.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
    val nL = l.agg(count(lit(1)).as("n"))
    val rules =
      scanRules.selectExpr(
        "stack(3, 'null_orderkey', n, v_null_key, 'quantity_range', n, v_qty, 'discount_range', n, v_disc) AS (rule, n_checked, n_violations)"
      ).union(
        orderRules.selectExpr("stack(1, 'price_floor', n, v_price) AS (rule, n_checked, n_violations)")
      ).union(
        orphans.crossJoin(nL).selectExpr("'orphan_lineitem' AS rule", "n AS n_checked", "v AS n_violations")
      )
    rules.select(
      col("rule"), col("n_checked"), col("n_violations"),
      round(col("n_violations") / col("n_checked"), 6).as("violation_rate")
    )
  }

  private val qDqChecksSql =
    """WITH l AS (SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null_key,
      |    CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 45 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
      |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc
      |  FROM lineitem),
      |o AS (SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN o_totalprice <= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS v_price
      |  FROM orders),
      |orph AS (SELECT count(*) AS v FROM lineitem l2
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l2.l_orderkey)),
      |r AS (
      |  SELECT 'null_orderkey' AS rule, n AS n_checked, v_null_key AS n_violations FROM l
      |  UNION ALL SELECT 'quantity_range', n, v_qty FROM l
      |  UNION ALL SELECT 'discount_range', n, v_disc FROM l
      |  UNION ALL SELECT 'price_floor', n, v_price FROM o
      |  UNION ALL SELECT 'orphan_lineitem', (SELECT n FROM l), v FROM orph)
      |SELECT rule, n_checked, n_violations,
      |  round(n_violations / n_checked, 6) AS violation_rate
      |FROM r""".stripMargin

  // --------------------------------------- curation pipeline e2e (B24+)

  /** The whole curation pipeline as ONE lazy plan — the batch analog of
    * `cdc_pipeline_e2e` for the training-data side: quality gates
    * (minimum length, Gopher top-word fraction) → exact dedup on
    * normalized text (keep min doc_id) → sequence packing of the
    * survivors into per-source token bins. Every stage is a shuffle-
    * bounded DataFrame transform: two explode+hash-aggs for the quality
    * stats, one `min_by`-style dedup agg, one per-source window for the
    * packing cumsum. A user runs the full admission pipeline with a
    * single action; Catalyst fuses the gates into the scans.
    */
  private def qCuratePipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val budget = 256
    val docs = documents(s, dir).select(
      col("source"), col("doc_id"),
      TextAnalysis.normalize(col("text")).as("nrm"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")
    )
    // Gopher-style repetition gate: most frequent word's share of tokens
    val topShare = docs
      .select(col("doc_id"), col("n_tokens"), explode(split(col("nrm"), " ")).as("w"))
      .groupBy("doc_id", "n_tokens", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_c"), first(col("n_tokens")).as("nt"))
      .select(col("doc_id"), (col("top_c") / col("nt")).as("top_frac"))
    val gated = docs
      .join(topShare, "doc_id")
      .where(col("n_tokens") >= 20 && col("top_frac") <= 0.2)
    // exact dedup on normalized text: keep the smallest doc_id per form
    val deduped = gated
      .groupBy("nrm")
      .agg(
        min_by(struct(col("source"), col("doc_id"), col("n_tokens")), col("doc_id")).as("k")
      )
      .select(col("k.source").as("source"), col("k.doc_id").as("doc_id"),
        col("k.n_tokens").as("n_tokens"), md5(col("nrm")).as("ord"))
    val w = Window.partitionBy("source").orderBy("ord", "doc_id")
    deduped
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin_id", floor((col("cum") - col("n_tokens")) / lit(budget.toDouble)).cast("long"))
      .groupBy("source", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
  }

  private val qCuratePipelineE2eSql =
    s"""WITH d AS (SELECT source, doc_id, $normSql AS nrm,
       |    CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |tw AS (SELECT doc_id, max(c) AS top_c FROM (
       |    SELECT doc_id, w, count(*) AS c
       |    FROM (SELECT doc_id, unnest(string_split(nrm, ' ')) AS w FROM d)
       |    GROUP BY 1, 2) GROUP BY 1),
       |gated AS (SELECT d.* FROM d JOIN tw USING (doc_id)
       |  WHERE d.n_tokens >= 20 AND tw.top_c / d.n_tokens <= 0.2),
       |dd AS (SELECT nrm, min(doc_id) AS doc_id FROM gated GROUP BY 1),
       |kept AS (SELECT g.source, g.doc_id, g.n_tokens, md5(g.nrm) AS ord
       |  FROM gated g JOIN dd ON g.doc_id = dd.doc_id),
       |c AS (SELECT source, doc_id, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY ord, doc_id) AS cum
       |  FROM kept)
       |SELECT source, CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS bin_id,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
       |FROM c GROUP BY 1, 2""".stripMargin

  // ---------------------------------------- incremental IVF search (B4)

  /** Incremental ANN index refresh — the vector analog of
    * `dedup_minhash_incremental`: the standing index's centroids (md5-
    * seeded from the OLD corpus only) are kept, the fresh batch (high
    * vec_id fifth) is assigned into the existing cells with no
    * re-clustering, and the fresh vectors are immediately searched
    * against old + fresh — the "dedup incoming embeddings against the
    * indexed corpus" refresh shape. The split threshold is the same
    * bounded driver scalar as the minhash twin (keeps the vec_id
    * predicates pushed down to both scans).
    */
  private def simIvfIncremental(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val thr = emb.agg(expr("max(vec_id) * 4 div 5").cast("long")).head.getLong(0)
    val standing = emb.filter(col("vec_id") < thr)
    // Cell count scales as ceil(sqrt(index size)) — FAISS's IVF sizing rule
    // — clamped to [8, 128]. A FIXED cell count is the fixed-bucket scale
    // bug: with queries ∝ corpus (an incremental batch grows with the
    // corpus) and cell size ∝ corpus, probe work went Θ(n²/20) — the sf10
    // probe measured 140× for 10× data. √n cells give the accepted IVF
    // curve Θ(q·√n); the 128 cap bounds the codegen'd argmin width (the
    // centroid model stays a literal array family).
    val nIdx   = standing.count()
    val nCells = math.min(128, math.max(8, math.ceil(math.sqrt(nIdx.toDouble)).toInt))
    operators.Similarity.ivfTopK(
      emb,
      emb.filter(col("vec_id") >= thr),
      "vec_id", "embedding",
      k = 5, nCells = nCells, nProbe = 2,
      seedSource = Some(standing),
      broadcastQueries = false
    )
  }

  private val simIvfIncrementalSql =
    """WITH thr AS (SELECT max(vec_id) * 4 // 5 AS t FROM embeddings),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |idx AS (SELECT count(*) AS ic FROM v WHERE vec_id < (SELECT t FROM thr)),
      |nc AS (SELECT LEAST(128, GREATEST(8, CAST(ceil(sqrt(ic)) AS INT))) AS n FROM idx),
      |seeds AS (SELECT vec_id AS cell_id, e AS ce FROM (
      |    SELECT *, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rn
      |    FROM v WHERE vec_id < (SELECT t FROM thr))
      |  WHERE rn <= (SELECT n FROM nc)),
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
      |    WHERE v.vec_id >= (SELECT t FROM thr))
      |  WHERE rn <= 2),
      |scored AS (
      |  SELECT p.query_id, a.vec_id AS corpus_id,
      |    round(list_cosine_similarity(p.qe, a.e), 6) AS cosine
      |  FROM probes p JOIN assign a ON a.cell_id = p.cell_id AND a.vec_id != p.query_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, corpus_id, cosine, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""".stripMargin

  // ------------------------------------------ corpus diagnostics (B13+)

  /** Pairwise source-level content overlap: Jaccard similarity of the
    * distinct word-3-gram sets of every source pair — the corpus-level
    * "which providers ship the same content" diagnostic run before
    * mixture weighting. Scale shape: the shingle self-join is bounded by
    * O(vocab · nSources²) — each distinct shingle contributes at most one
    * row per source pair, never per document pair.
    */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val ss = documents(s, dir)
      .select(
        col("source"),
        explode(array_distinct(TextAnalysis.wordShingles(col("text"), 3))).as("sh")
      )
      .distinct()
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("n"))
    ss.as("a")
      .join(ss.as("b"), col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("source_a"), col("n").as("na")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
      .select(
        col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared") / (col("na") + col("nb") - col("n_shared")), 6).as("jaccard")
      )
  }

  private val qSourceOverlapSql =
    s"""WITH tok AS (SELECT source, $normSql AS norm, string_split($normSql, ' ') AS toks FROM documents),
       |sh AS (SELECT DISTINCT source,
       |    unnest(CASE WHEN len(toks) >= 3
       |           THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
       |           ELSE [norm] END) AS sh
       |  FROM tok),
       |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
       |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
       |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2)
       |SELECT source_a, source_b, n_shared,
       |  round(n_shared / (x.n + y.n - n_shared), 6) AS jaccard
       |FROM p JOIN sz x ON p.source_a = x.source JOIN sz y ON p.source_b = y.source""".stripMargin

  /** Join-key skew profile: the top-10 heaviest l_orderkey values with
    * their row share, plus the total key count — the diagnostic that
    * decides between a plain shuffle join and the salted SkewJoin path.
    * The heavy-hitter scan uses the bounded-heap TopKBy global aggregate
    * (10 rows per partition cross the shuffle), not a global window; the
    * oracle replays it with SQL row_number.
    */
  private def qSkewProfile(s: SparkSession, dir: String): DataFrame = {
    val counts = lineitem(s, dir).groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
    val top = counts.agg(
      graft.functions.TopKBy.topKByLong(col("cnt").cast("double"), col("l_orderkey"), 10).as("top")
    )
    val tot = counts.agg(sum(col("cnt")).as("total_rows"), count(lit(1)).as("n_keys"))
    top.crossJoin(broadcast(tot))
      .select(posexplode(col("top")).as(Seq("pos", "e")), col("total_rows"), col("n_keys"))
      .select(
        (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("l_orderkey"),
        col("e.score").cast("long").as("cnt"),
        round(col("e.score") / col("total_rows"), 6).as("key_share"),
        col("n_keys")
      )
  }

  private val qSkewProfileSql =
    """WITH c AS (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows, count(*) AS n_keys FROM c),
      |r AS (SELECT l_orderkey, cnt, row_number() OVER (ORDER BY cnt DESC, l_orderkey) AS rank FROM c)
      |SELECT CAST(rank AS BIGINT) AS rank, l_orderkey, CAST(cnt AS BIGINT) AS cnt,
      |  round(cnt / total_rows, 6) AS key_share, n_keys
      |FROM r, t WHERE rank <= 10""".stripMargin

  // -------------------------------------------- containment dedup (B3+)

  /** Asymmetric containment detection — the near-dup class symmetric
    * Jaccard misses: a short document embedded inside a longer one has
    * LOW Jaccard (union is the big set) but containment
    * |A∩B| / min(|A|,|B|) ≈ 1. Candidates come from RARE-shingle
    * blocking: two docs pair only if they share a shingle with corpus
    * document-frequency <= 5, so each shingle contributes at most
    * C(5,2) = 10 pairs — candidate volume is O(vocab · 25), never
    * O(docs²), and no length filter is applied (length filters are
    * exactly what containment pairs violate). Excerpt fixtures (the
    * first 40% of every 10th doc's tokens, ids offset by 2e6) stage the
    * contained-in relation the corpus lacks organically.
    */
  private def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("text"))
    val toks = TextAnalysis.tokens(col("text"))
    val excerpt = docs
      .filter(col("doc_id") % 10 === 0)
      .select(
        (col("doc_id") + 2000000L).as("doc_id"),
        array_join(
          slice(toks, lit(1), greatest(ceil(size(toks) * 0.4).cast("int"), lit(3))),
          " "
        ).as("text")
      )
    val all = docs.union(excerpt)
    val sets = all.select(
      col("doc_id"),
      array_distinct(TextAnalysis.wordShingles(col("text"), 3)).as("sset")
    )
    // r15: the exploded distinct-shingle table is consumed FOUR times
    // (df rollup, rare semi-join, both intersection joins) — left lazy,
    // the tokenize+shingle explode re-ran per consumer. One eager
    // materialization (the shingle index a dedup pipeline lands once per
    // snapshot); set sizes fall out of it (sset is already distinct, so
    // rows-per-doc ≡ |sset|) instead of re-tokenizing. Docs with an
    // empty shingle set drop from sz, but such docs cannot reach the
    // candidate join (no shingle), so the readout is unchanged.
    val sh = sets.select(col("doc_id"), explode(col("sset")).as("sh")).localCheckpoint(true)
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val rare = sh.join(
      sh.groupBy("sh").agg(count(lit(1)).as("df")).where(col("df") <= 5).select("sh"),
      "sh"
    )
    val cand = rare.as("x")
      .join(rare.as("y"), col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("id_a"), col("sh")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sz.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .select(
        col("id_a"), col("id_b"), col("n_inter"),
        round(col("n_inter") / least(col("na"), col("nb")), 6).as("containment")
      )
      .filter(col("containment") >= 0.8)
  }

  private val dedupContainmentSql = {
    val shingles3 =
      "CASE WHEN len(toks)>=3 THEN [array_to_string(toks[i:i+2],' ') for i in range(1,len(toks)-1)] ELSE [norm] END"
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |    array_to_string(list_slice(string_split($normSql, ' '), 1,
       |      greatest(CAST(ceil(len(string_split($normSql, ' ')) * 0.4) AS INT), 3)), ' ')
       |  FROM documents WHERE doc_id % 10 = 0),
       |tok AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
       |        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks FROM base),
       |sh0 AS (SELECT doc_id, list_distinct($shingles3) AS sset FROM tok),
       |sh AS (SELECT doc_id, unnest(sset) AS sh FROM sh0),
       |sz AS (SELECT doc_id, CAST(len(sset) AS BIGINT) AS n FROM sh0),
       |dfq AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
       |rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfq USING (sh) WHERE df <= 5),
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |         FROM rare x JOIN rare y ON x.sh = y.sh AND x.doc_id < y.doc_id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter FROM cand c
       |  JOIN sh a ON a.doc_id = c.id_a
       |  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_inter, containment FROM (
       |  SELECT i.id_a, i.id_b, i.n_inter,
       |    round(i.n_inter::DOUBLE / least(za.n, zb.n), 6) AS containment
       |  FROM inter i JOIN sz za ON za.doc_id = i.id_a JOIN sz zb ON zb.doc_id = i.id_b)
       |WHERE containment >= 0.8""".stripMargin
  }

  // --------------------------------------- windowed event rankings (B7)

  /** Top-3 event types per day by count — the "trending" leaderboard.
    * Rank runs in a PARTITIONED window (per day), so the sort is bounded
    * by one day's type cardinality; the count aggregate underneath is
    * map-side combined.
    */
  private def eventsWindowTopk(s: SparkSession, dir: String): DataFrame = {
    val counts = events(s, dir)
      .select(expr("unix_millis(date_trunc('day', ts))").as("day_ms"), col("event_type"))
      .groupBy("day_ms", "event_type")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("day_ms").orderBy(col("cnt").desc, col("event_type").asc)
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select(col("day_ms"), col("event_type"), col("cnt"), col("rank"))
  }

  private val eventsWindowTopkSql =
    """WITH c AS (SELECT epoch_ms(date_trunc('day', ts)) AS day_ms, event_type, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY day_ms ORDER BY cnt DESC, event_type) AS rank FROM c)
      |SELECT day_ms, event_type, cnt, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3""".stripMargin

  /** DAU and rolling-7-day distinct users per day with the stickiness
    * ratio (DAU / rolling-7 actives). Rolling DISTINCT cannot be
    * pre-aggregated, so the standard scalable shape is used: distinct
    * (day, user) pairs each contribute to the 7 target days ending at
    * day+6 (a 7-row explode), then one hash-agg per target day — never a
    * distinct-within-window scan of raw events.
    */
  private def eventsDauStickiness(s: SparkSession, dir: String): DataFrame = {
    val du = events(s, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
    val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
    val roll = du
      .select(
        explode(expr("sequence(day, day + interval 6 days, interval 1 day)")).as("tday"),
        col("user_id")
      )
      .distinct()
      .groupBy("tday")
      .agg(count(lit(1)).as("rolling7_users"))
    dau
      .join(roll, dau("day") === roll("tday"))
      .select(
        expr("unix_millis(day)").as("day_ms"),
        col("dau"), col("rolling7_users"),
        round(col("dau") / col("rolling7_users"), 6).as("stickiness")
      )
  }

  private val eventsDauStickinessSql =
    """WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
      |contrib AS (SELECT DISTINCT t.tday, du.user_id
      |  FROM du, unnest(generate_series(du.day, du.day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS t(tday)),
      |roll AS (SELECT tday, count(*) AS rolling7_users FROM contrib GROUP BY 1)
      |SELECT epoch_ms(d.day) AS day_ms, d.dau, r.rolling7_users,
      |  round(d.dau / r.rolling7_users, 6) AS stickiness
      |FROM dau d JOIN roll r ON r.tday = d.day""".stripMargin

  // ------------------------------------------------------------ registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_pack_sequences", Seq("B24"), qPackSequences, qPackSequencesSql),
    QuerySpec("text_chunk_overlap", Seq("B25"), textChunkOverlap, textChunkOverlapSql),
    QuerySpec("text_bpe_pairs", Seq("B26"), textBpePairs, textBpePairsSql),
    QuerySpec("q_mixture_weights", Seq("B27"), qMixtureWeights, qMixtureWeightsSql),
    QuerySpec("dedup_lines", Seq("B28"), dedupLines, dedupLinesSql),
    QuerySpec("sim_knn_graph", Seq("B29"), simKnnGraph, simKnnGraphSql),
    QuerySpec("mm_phash_neardup", Seq("B30"), mmPhashNeardup, mmPhashNeardupSql),
    QuerySpec("text_url_normalize", Seq("B31"), textUrlNormalize, textUrlNormalizeSql),
    QuerySpec("q_bloom_semi_join", Seq("B32"), qBloomSemiJoin, qBloomSemiJoinSql),
    QuerySpec("q_column_profile", Seq("B33"), qColumnProfile, qColumnProfileSql),
    QuerySpec("q_dq_checks", Seq("B33"), qDqChecks, qDqChecksSql),
    QuerySpec("curate_pipeline_e2e", Seq("B34"), qCuratePipelineE2e, qCuratePipelineE2eSql),
    QuerySpec("sim_ivf_incremental", Seq("B35"), simIvfIncremental, simIvfIncrementalSql),
    QuerySpec("q_source_overlap", Seq("B37"), qSourceOverlap, qSourceOverlapSql),
    QuerySpec("q_skew_profile", Seq("B38"), qSkewProfile, qSkewProfileSql),
    QuerySpec("dedup_containment", Seq("B39"), dedupContainment, dedupContainmentSql),
    QuerySpec("events_window_topk", Seq("B40"), eventsWindowTopk, eventsWindowTopkSql),
    QuerySpec("events_dau_stickiness", Seq("B40"), eventsDauStickiness, eventsDauStickinessSql)
  )
}
