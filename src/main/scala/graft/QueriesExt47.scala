package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 40: the second embedding-compression axis
  * (1-bit sign quantization → Hamming search, beside B217's dimension
  * truncation) and the skew-mitigation PLAN table (the tuned fan-out a
  * salted join consumes — B9's `cdc_enrich_salted` implements the
  * mechanism, this derives the numbers from observed stats).
  */
object QueriesExt47 {

  // --------------------------- binarized-embedding recall (B222)

  /** Recall@10 of 1-bit sign-quantized Hamming search against full-dim
    * cosine search, per query: each 64-dim vector compresses to 64 BITS
    * (two packed 32-bit halves) — a 32× memory/scan cut, the aggressive
    * end of the compression spectrum where B217's truncation (4×) is
    * the conservative end. Hamming distance = popcount(xor) is pure
    * integer math, so the binary side has NO float-rounding hazard at
    * all; the cosine side uses the deterministic (round-6 desc, id asc)
    * convention all sim_* queries share, and ties on (hamming asc,
    * id asc).
    *
    * Scale shape: code build is one posexplode + bounded (vec_id)
    * map-side agg; the scoring pass streams the 16-byte-per-row code
    * table against ≤50 broadcast query codes — the byte budget being
    * certified. At 100 TB the binary pass is the first-stage filter and
    * full vectors are fetched only for rerank.
    */
  private def embedBinarizeRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val k   = 10
    val codes = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("vec_id"))
      .agg(
        sum(when(col("x") > 0 && col("pos") < 32, expr("shiftleft(1L, pos)")).otherwise(lit(0L))).as("h1"),
        sum(when(col("x") > 0 && col("pos") >= 32, expr("shiftleft(1L, pos - 32)")).otherwise(lit(0L))).as("h2")
      )
    val qCodes = codes
      .filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("h1").as("q1"), col("h2").as("q2"))
    val hamTop = codes
      .select(col("vec_id").as("corpus_id"), col("h1"), col("h2"))
      .join(broadcast(qCodes), col("corpus_id") =!= col("query_id"))
      .withColumn("ham", expr("bit_count(h1 ^ q1) + bit_count(h2 ^ q2)"))
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy(col("query_id")).orderBy(col("ham").asc, col("corpus_id").asc))
      )
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), lit(1L).as("hit"))
    // r16: exactly the session-shared q<50/k=10 truth stage
    val fullTop = graft.operators.Similarity.truthTop10(emb, "vec_id", "embedding")
    fullTop
      .join(hamTop, Seq("query_id", "corpus_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_ppm", expr("n_hits * 1000000 div k"))
  }

  private val embedBinarizeRecallSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |ex AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS x
      |  FROM embeddings),
      |codes AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN x > 0 AND pos < 32 THEN (1::BIGINT << pos) ELSE 0 END) AS BIGINT) AS h1,
      |    CAST(sum(CASE WHEN x > 0 AND pos >= 32 THEN (1::BIGINT << (pos - 32)) ELSE 0 END) AS BIGINT) AS h2
      |  FROM ex GROUP BY 1),
      |qc AS (SELECT vec_id AS query_id, h1 AS q1, h2 AS q2 FROM codes WHERE vec_id < 50),
      |ham AS (
      |  SELECT q.query_id, c.vec_id AS corpus_id,
      |    row_number() OVER (PARTITION BY q.query_id
      |      ORDER BY bit_count(xor(c.h1, q.q1)) + bit_count(xor(c.h2, q.q2)) ASC, c.vec_id ASC) AS rank
      |  FROM qc q JOIN codes c ON c.vec_id != q.query_id),
      |ht AS (SELECT query_id, corpus_id FROM ham WHERE rank <= 10),
      |qf AS (SELECT * FROM v WHERE vec_id < 50),
      |sf AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC, c.vec_id ASC) AS rank
      |  FROM qf q JOIN v c ON c.vec_id != q.vec_id),
      |ff AS (SELECT query_id, corpus_id FROM sf WHERE rank <= 10)
      |SELECT f.query_id, count(*) AS k,
      |  CAST(sum(CASE WHEN h.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |  CAST(sum(CASE WHEN h.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000
      |    // count(*) AS recall_ppm
      |FROM ff f LEFT JOIN ht h ON h.query_id = f.query_id AND h.corpus_id = f.corpus_id
      |GROUP BY 1""".stripMargin

  // --------------------------- salted-join fan-out plan (B223)

  /** The skew-mitigation plan table: per join key (event_type — the
    * low-cardinality key class that actually skews a fact-dimension
    * join), the salt fan-out `ceil(n_rows / 512)` a salted repartition
    * needs so no single (key, salt) task exceeds the 512-row target,
    * plus the post-salt rows-per-task. B9's `cdc_enrich_salted` applies
    * a fixed fan-out; at 100 TB the fan-out must come from observed
    * stats per key — this is that table, recomputed per batch window
    * and joined by the repartitioner.
    *
    * Scale shape: one map-side (key) count + a 1-row total broadcast —
    * stats-pass cost, output bounded by key cardinality.
    */
  private def qSaltPlan(s: SparkSession, dir: String): DataFrame = {
    val target = 512
    val counts = events(s, dir).groupBy(col("event_type")).agg(count(lit(1)).as("n_rows"))
    val tot    = counts.agg(sum(col("n_rows")).as("total"))
    counts
      .crossJoin(broadcast(tot))
      .select(
        col("event_type"),
        col("n_rows"),
        expr(s"(n_rows + ${target - 1}) div $target").as("n_salts"),
        expr(s"n_rows div ((n_rows + ${target - 1}) div $target)").as("rows_per_salt"),
        expr("n_rows * 1000000 div total").as("share_ppm")
      )
  }

  private val qSaltPlanSql =
    """WITH c AS (SELECT event_type, count(*) AS n_rows FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM c)
      |SELECT event_type, n_rows,
      |  (n_rows + 511) // 512 AS n_salts,
      |  n_rows // ((n_rows + 511) // 512) AS rows_per_salt,
      |  n_rows * 1000000 // total AS share_ppm
      |FROM c, t""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("embed_binarize_recall", Seq("B222"), embedBinarizeRecall, embedBinarizeRecallSql),
    QuerySpec("q_salt_plan", Seq("B223"), qSaltPlan, qSaltPlanSql)
  )
}
