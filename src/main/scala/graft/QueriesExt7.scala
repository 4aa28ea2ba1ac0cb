package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.normSql
import graft.functions.Hashing
import graft.operators.{Dedup, TextAnalysis}

/** Seventh query batch:
  *
  *  - `q_hash_sample` (SURVEY §2 B16): deterministic md5-based row
  *    sampling — the reproducible "take 10% of the corpus" every
  *    training-data pipeline needs; stable across engines, runs, and
  *    partitionings (unlike `TABLESAMPLE`/`rand()`), and fuses into the
  *    scan as a plain filter;
  *  - `dedup_canonical_docs`: the step that finishes a dedup pipeline —
  *    near-dup clusters collapsed to one canonical document each, chosen
  *    by quality score (not min id), cross-checked against a DuckDB
  *    recursive-CTE closure + independent quality recompute;
  *  - `q_regexp_extract`: regexp group extraction surface;
  *  - `q_multiset_ops`: INTERSECT ALL / EXCEPT ALL multiset semantics
  *    (the DISTINCT variants are covered by q_set_ops).
  */
object QueriesExt7 {

  // ------------------------------------------------- deterministic sampling

  /** 10% stable sample of lineitem keyed on (orderkey, linenumber):
    * md5-hash the composite key, keep hash % 10 == 0, then profile the
    * sample. The filter is a pure row-local expression — no shuffle, no
    * state, reproducible on any engine (DuckDB oracle applies the same
    * md5 slice), and the sample is stable under repartitioning — none of
    * which holds for rand()-based sampling.
    */
  private def qHashSample(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(
        Hashing.h32(concat(col("l_orderkey").cast("string"), lit("-"), col("l_linenumber").cast("string")))
          % 10 === 0
      )
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_sampled"),
        round(sum(col("l_quantity")), 2).as("sum_qty")
      )

  private val qHashSampleSql =
    """SELECT l_returnflag, count(*) AS n_sampled, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |WHERE CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0
      |GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------- canonical doc per cluster

  /** Collapse MinHash near-dup clusters to one canonical doc each — the
    * highest quality_score (ties: lowest doc_id) — with the cluster size
    * alongside. Composes minhashPairs → connectedComponents → quality
    * scoring; the oracle recomputes everything independently (recursive
    * CTE for the closure, inline quality formula).
    */
  private def dedupCanonicalDocs(s: SparkSession, dir: String): DataFrame = {
    val pairs  = Dedup.minhashPairs(documents(s, dir), "doc_id", "text", 3, 0.5)
    val labels = Dedup.connectedComponents(pairs)
    // score quality ONLY for cluster members, so the expensive per-document
    // regexp/tokenize work never touches non-duplicates. The label set is
    // NOT hint-broadcast: it grows linearly with the corpus (a web-scale
    // corpus is 30-50% near-dup members), so a forced broadcast is exactly
    // the unbounded-build-side bug the sf10 probe caught (8 g heap OOM at
    // 500 k docs). A doc_id-keyed join lets AQE broadcast while the label
    // set is actually small and shuffle-join co-keyed once it isn't.
    val members = documents(s, dir)
      .join(labels, col("doc_id") === labels("id"))
    val quality = TextAnalysis
      .withQuality(members, "text")
      .select(col("doc_id"), col("cluster_id"), col("quality_score"))
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("quality_score").desc, col("doc_id").asc)
    quality
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1)
      .select(
        col("cluster_id"),
        col("doc_id").as("canonical_doc_id"),
        col("quality_score").as("canonical_quality"),
        col("n_members")
      )
  }

  private val dedupCanonicalDocsSql =
    s"""WITH RECURSIVE mh AS (${QueriesExt.minhashPairsSql}),
       |edges AS (SELECT id_a AS a, id_b AS b FROM mh UNION SELECT id_b, id_a FROM mh),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |labels AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
       |qbase AS (
       |  SELECT doc_id, text, norm, string_split(norm, ' ') AS toks,
       |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
       |  FROM (SELECT doc_id, text, $normSql AS norm FROM documents)),
       |q AS (
       |  SELECT doc_id, round((
       |      (CASE WHEN length(norm) BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.0 END)
       |      + least(round(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it'], x)))::DOUBLE
       |          / greatest(len(toks), 1), 6) * 4, 1.0)
       |      + (1.0 - least(round(n_punct::DOUBLE / greatest(length(text), 1), 6) * 10, 1.0))
       |    ) / 3.0, 6) AS quality_score
       |  FROM qbase),
       |j AS (
       |  SELECT cluster_id, doc_id, quality_score,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY quality_score DESC, doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY cluster_id) AS n_members
       |  FROM labels JOIN q ON id = doc_id)
       |SELECT cluster_id, doc_id AS canonical_doc_id, quality_score AS canonical_quality,
       |  CAST(n_members AS BIGINT) AS n_members
       |FROM j WHERE rn = 1""".stripMargin

  // --------------------------------------------------------- regexp surface

  /** Regexp group extraction: parse the numeric suffix out of nation names
    * and bucket customers by it.
    */
  private def qRegexpExtract(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .withColumn("nation_num", regexp_extract(col("n_name"), "_([0-9]+)$", 1).cast("long"))
      .groupBy((col("nation_num") % 5).as("num_bucket"))
      .agg(count(lit(1)).as("n_cust"), countDistinct(col("nation_num")).as("n_nations"))

  private val qRegexpExtractSql =
    """SELECT CAST(regexp_extract(n_name, '_([0-9]+)$', 1) AS BIGINT) % 5 AS num_bucket,
      |  count(*) AS n_cust,
      |  count(DISTINCT CAST(regexp_extract(n_name, '_([0-9]+)$', 1) AS BIGINT)) AS n_nations
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1""".stripMargin

  // -------------------------------------------------------- multiset algebra

  /** INTERSECT ALL / EXCEPT ALL: multiset nation-key comparison between
    * the customer and supplier bases — row multiplicity carries through
    * (min of the two counts / left-minus-right counts respectively).
    */
  private def qMultisetOps(s: SparkSession, dir: String): DataFrame = {
    val cn = customer(s, dir).select((col("c_nationkey") % 7).as("k"))
    val sn = supplier(s, dir).select((col("s_nationkey") % 7).as("k"))
    cn.intersectAll(sn).withColumn("tag", lit("min_multiplicity"))
      .union(sn.exceptAll(cn).withColumn("tag", lit("supp_excess")))
  }

  private val qMultisetOpsSql =
    """SELECT k, 'min_multiplicity' AS tag FROM
      |  (SELECT c_nationkey % 7 AS k FROM customer
      |   INTERSECT ALL SELECT s_nationkey % 7 FROM supplier)
      |UNION ALL
      |SELECT k, 'supp_excess' AS tag FROM
      |  (SELECT s_nationkey % 7 AS k FROM supplier
      |   EXCEPT ALL SELECT c_nationkey % 7 FROM customer)""".stripMargin

  /** Same semantics/oracle as dedup_ngram_jaccard, executed through the
    * PPJoin prefix-filtered route: candidates come only from rare-token
    * prefixes plus a length filter — the plan must differ, the pair set
    * must not.
    */
  private def dedupJaccardPpjoin(s: SparkSession, dir: String): DataFrame =
    Dedup.ppJaccardPairs(documents(s, dir), "doc_id", "text", "source", shingleWords = 3, tau = 0.5)

  // ------------------------------------------------------- fuzzy matching

  /** Edit-distance fuzzy matching: levenshtein between consecutive
    * customer names — the record-linkage primitive (blocked here by the
    * adjacent-key pairing; a real pipeline blocks by
    * fingerprint/phonetic bucket to keep the O(len²) comparisons inside
    * small groups).
    */
  private def qFuzzyName(s: SparkSession, dir: String): DataFrame = {
    val a = customer(s, dir).filter(col("c_custkey") < 200)
      .select(col("c_custkey").as("key_a"), col("c_name").as("name_a"))
    val b = customer(s, dir)
      .select(col("c_custkey").as("key_b"), col("c_name").as("name_b"))
    a.join(b, col("key_b") === col("key_a") + 1)
      .select(
        col("key_a"),
        col("key_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("edit_distance")
      )
  }

  private val qFuzzyNameSql =
    """SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_distance
      |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
      |WHERE a.c_custkey < 200""".stripMargin

  // ------------------------------------------------------ calendar surface

  /** Calendar-function coverage: quarter/week/day-of parts, month-end,
    * date arithmetic. dayofweek is normalized to ISO-with-Sunday=1 on
    * both engines (DuckDB counts Sunday=0).
    */
  private def qCalendarFuncs(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .filter(col("o_orderkey") % 997 === 0)
      .select(
        col("o_orderkey"),
        quarter(col("o_orderdate")).cast("long").as("o_quarter"),
        weekofyear(col("o_orderdate")).cast("long").as("o_week"),
        dayofweek(col("o_orderdate")).cast("long").as("o_dow"),
        dayofyear(col("o_orderdate")).cast("long").as("o_doy"),
        unix_millis(last_day(col("o_orderdate")).cast("timestamp")).as("month_end_ms"),
        unix_millis(date_add(col("o_orderdate"), 30).cast("timestamp")).as("plus30_ms")
      )

  private val qCalendarFuncsSql =
    """SELECT o_orderkey,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
      |  CAST(weekofyear(o_orderdate) AS BIGINT) AS o_week,
      |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS o_dow,
      |  CAST(dayofyear(o_orderdate) AS BIGINT) AS o_doy,
      |  epoch_ms(CAST(last_day(o_orderdate) AS TIMESTAMP)) AS month_end_ms,
      |  epoch_ms(o_orderdate + INTERVAL 30 DAY) AS plus30_ms
      |FROM orders WHERE o_orderkey % 997 = 0""".stripMargin

  // --------------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_hash_sample", Seq("B16"), qHashSample, qHashSampleSql),
    QuerySpec("dedup_canonical_docs", Seq("B31"), dedupCanonicalDocs, dedupCanonicalDocsSql),
    QuerySpec("q_regexp_extract", Seq("B8"), qRegexpExtract, qRegexpExtractSql),
    QuerySpec("q_multiset_ops", Seq("B8"), qMultisetOps, qMultisetOpsSql),
    QuerySpec("q_fuzzy_name", Seq("B8"), qFuzzyName, qFuzzyNameSql),
    QuerySpec("q_calendar_funcs", Seq("B8"), qCalendarFuncs, qCalendarFuncsSql),
    QuerySpec("dedup_jaccard_ppjoin", Seq("B3"), dedupJaccardPpjoin, QueriesExt.ngramJaccardSql)
  )
}
