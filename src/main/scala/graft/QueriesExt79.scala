package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-12 additions, batch 53 (B284–B286): dot-vs-cosine ranking
  * agreement (does normalization change retrieval on THIS cloud?), the
  * partition edge-cut estimator (the shuffle-volume number a graph
  * partitioning pays at 100 TB), and the claimed-vs-sniffed payload
  * format audit for multimodal ingest.
  */
object QueriesExt79 {

  // --------------------------- dot vs cosine ranking agreement (B284)

  /** `sim_dot_vs_cosine_rank` — for each probe vector, the top-10 corpus
    * neighbors by RAW INNER PRODUCT vs by cosine, and their overlap.
    * MIPS and cosine retrieval only agree when the corpus norms are
    * tight; embedding stores routinely serve dot (cheaper, no norm
    * divide) assuming normalized vectors — this measures what that
    * assumption costs on this cloud, probe by probe. Both scores are
    * round-6 snapped (the B4 convention shared by the DuckDB oracle);
    * ranking ties break by corpus_id.
    *
    * Scale shape: identical to bruteForceTopK — probes broadcast, ONE
    * corpus scan computes both scores, two per-probe row_number windows
    * over the same partitioning; no corpus self-shuffle.
    */
  private def simDotVsCosineRank(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val c = emb.select(col("vec_id").as("corpus_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cv"))
    val q = emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qv"))
    val scored = c
      .join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("dotp", round(graft.operators.Similarity.dot(col("qv"), col("cv")), 6))
      .withColumn("cosine", round(graft.operators.Similarity.cosine(col("qv"), col("cv")), 6))
    val wd = Window.partitionBy(col("query_id")).orderBy(col("dotp").desc, col("corpus_id").asc)
    val wc = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("corpus_id").asc)
    scored
      .withColumn("rd", row_number().over(wd))
      .withColumn("rc", row_number().over(wc))
      .where(col("rd") <= 10 || col("rc") <= 10)
      .groupBy(col("query_id"))
      .agg(
        sum((col("rd") <= 10 && col("rc") <= 10).cast("long")).as("n_overlap"),
        expr("sum(CAST(rd <= 10 AND rc <= 10 AS BIGINT)) * 1000000 div 10").as("overlap_ppm"))
  }

  private val simDotVsCosineRankSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |q AS (SELECT * FROM v WHERE vec_id < 10),
      |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |    round(list_inner_product(q.e, c.e), 6) AS dotp,
      |    round(list_cosine_similarity(q.e, c.e), 6) AS cosine
      |  FROM q JOIN v c ON c.vec_id != q.vec_id),
      |r AS (SELECT query_id, corpus_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY dotp DESC, corpus_id ASC) AS rd,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rc
      |  FROM scored)
      |SELECT query_id,
      |  CAST(sum(CASE WHEN rd <= 10 AND rc <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
      |  CAST(sum(CASE WHEN rd <= 10 AND rc <= 10 THEN 1 ELSE 0 END) * 1000000 // 10 AS BIGINT)
      |    AS overlap_ppm
      |FROM r WHERE rd <= 10 OR rc <= 10
      |GROUP BY 1""".stripMargin

  // --------------------------- partition edge-cut estimator (B285)

  /** `graph_partition_cut` — for partition counts P ∈ {8, 32, 128}, the
    * fraction of co-purchase edges whose endpoints land in different
    * partitions under (a) multiplicative-hash assignment and (b)
    * contiguous key-range assignment. The cut fraction IS the shuffle
    * volume an edge-parallel algorithm (triangles, components, PageRank —
    * every B-series graph operator) pays per iteration at scale: hash
    * placement cuts ~(1−1/P) of edges regardless of structure, while
    * range placement wins exactly when key locality encodes community
    * structure — measured here, not assumed. Both assignments are pure
    * integer functions, replayed bit-for-bit by the oracle.
    *
    * Scale shape: edges built once (the shared no-join copurchase agg);
    * one 1-row max-key broadcast; a 3-literal P grid crossJoin; one
    * map-side-combined agg per (P). No shuffle beyond the edge build.
    */
  private def graphPartitionCut(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.operators.GraphOps.copurchaseEdges(lineitem(s, dir), 2L)
      .localCheckpoint(true)
    val maxKey = edges.agg(greatest(max(col("u")), max(col("v"))).as("mx"))
    val ps     = s.range(1).selectExpr("explode(array(8L, 32L, 128L)) AS p")
    edges
      .crossJoin(broadcast(maxKey))
      .crossJoin(broadcast(ps))
      .select(
        col("p"),
        // multiplicative (Knuth) hash placement
        expr("(u * 2654435761 % 4294967296) % p").as("hu"),
        expr("(v * 2654435761 % 4294967296) % p").as("hv"),
        // contiguous range placement: block = key div ceil((mx+1)/p)
        expr("u div ((mx + p) div p)").as("ru"),
        expr("v div ((mx + p) div p)").as("rv"))
      .groupBy(col("p"))
      .agg(
        count(lit(1)).as("n_edges"),
        sum((col("hu") =!= col("hv")).cast("long")).as("cut_hash"),
        expr("sum(CAST(hu != hv AS BIGINT)) * 1000000 div count(1)").as("cut_hash_ppm"),
        sum((col("ru") =!= col("rv")).cast("long")).as("cut_range"),
        expr("sum(CAST(ru != rv AS BIGINT)) * 1000000 div count(1)").as("cut_range_ppm"))
  }

  private val graphPartitionCutSql =
    """WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM pp a JOIN pp b ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |mx AS (SELECT greatest(max(u), max(v)) AS mx FROM e),
      |g AS (
      |  SELECT p, u, v, mx,
      |    (u * 2654435761 % 4294967296) % p AS hu,
      |    (v * 2654435761 % 4294967296) % p AS hv,
      |    u // ((mx + p) // p) AS ru,
      |    v // ((mx + p) // p) AS rv
      |  FROM e, mx, (SELECT unnest([8, 32, 128]) AS p))
      |SELECT CAST(p AS BIGINT) AS p, count(*) AS n_edges,
      |  CAST(sum(CASE WHEN hu != hv THEN 1 ELSE 0 END) AS BIGINT) AS cut_hash,
      |  CAST(sum(CASE WHEN hu != hv THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS cut_hash_ppm,
      |  CAST(sum(CASE WHEN ru != rv THEN 1 ELSE 0 END) AS BIGINT) AS cut_range,
      |  CAST(sum(CASE WHEN ru != rv THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS cut_range_ppm
      |FROM g GROUP BY 1""".stripMargin

  // --------------------------- claimed-vs-sniffed format audit (B286)

  /** `mm_type_mismatch` — the multimodal-ingest trust audit: every
    * payload carries a CLAIMED format (the upload extension) and a
    * magic-byte header that may disagree (mislabeled uploads, content
    * smuggling, broken exporters). Payloads are synthesized B96-style
    * (deterministic ASCII magic + body, doc_id % 7 == 0 rows planted
    * with a rotated-by-one WRONG magic); the query sniffs the first 4
    * payload BYTES, maps them back to a format, and reports the
    * mismatch matrix per claimed format. The oracle parses the
    * pre-encode string layout — the B88-style independent route.
    *
    * Scale shape: row-local binary expressions fused into the scan; one
    * (claimed, sniffed) map-side count; 9-row bounded output.
    */
  private def mmTypeMismatch(s: SparkSession, dir: String): DataFrame = {
    val claimed = expr("element_at(array('png','jpg','wav'), CAST(doc_id % 3 + 1 AS INT))")
    val magic = expr(
      "element_at(array('PNG0','JPG0','WAV0'), CAST(CASE WHEN doc_id % 7 = 0 " +
        "THEN (doc_id % 3 + 1) % 3 + 1 ELSE doc_id % 3 + 1 END AS INT))")
    val staged = documents(s, dir)
      .select(col("doc_id"), claimed.as("claimed"),
        encode(concat(magic, col("text")), "UTF-8").as("payload"))
    staged
      .select(
        col("claimed"),
        expr("CASE decode(substring(payload, 1, 4), 'UTF-8') " +
          "WHEN 'PNG0' THEN 'png' WHEN 'JPG0' THEN 'jpg' WHEN 'WAV0' THEN 'wav' " +
          "ELSE 'unknown' END").as("sniffed"))
      .groupBy(col("claimed"), col("sniffed"))
      .agg(count(lit(1)).as("n"))
      .withColumn("mismatch", (col("claimed") =!= col("sniffed")).cast("long"))
  }

  private val mmTypeMismatchSql =
    """WITH staged AS (
      |  SELECT doc_id,
      |    ['png','jpg','wav'][CAST(doc_id % 3 + 1 AS INT)] AS claimed,
      |    ['PNG0','JPG0','WAV0'][CAST(CASE WHEN doc_id % 7 = 0
      |        THEN (doc_id % 3 + 1) % 3 + 1 ELSE doc_id % 3 + 1 END AS INT)]
      |      || text AS s
      |  FROM documents),
      |p AS (
      |  SELECT claimed,
      |    CASE substr(s, 1, 4)
      |      WHEN 'PNG0' THEN 'png' WHEN 'JPG0' THEN 'jpg' WHEN 'WAV0' THEN 'wav'
      |      ELSE 'unknown' END AS sniffed
      |  FROM staged)
      |SELECT claimed, sniffed, count(*) AS n,
      |  CAST(CASE WHEN claimed != sniffed THEN 1 ELSE 0 END AS BIGINT) AS mismatch
      |FROM p GROUP BY 1, 2""".stripMargin

  // --------------------------- sign-LSH calibration (B287)

  /** `sim_rp_lsh_calibration` — Dedup.minhashCalibration's vector twin:
    * per sign-bit agreement level over the banded candidates, pair count
    * and mean exact cosine (integer micro). See
    * Similarity.rpLshCalibration for the Charikar-theorem framing; the
    * oracle replays the identical count-derived geometry via the shared
    * rpCandPairsSql plane constants.
    */
  private def simRpLshCalibration(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    graft.operators.Similarity.rpLshCalibration(
      emb, "vec_id", "embedding",
      bitsPerBand = graft.operators.Similarity.bitsFor(emb.count()))
  }

  private val simRpLshCalibrationSql = {
    val maxBits = graft.operators.Similarity.MaxBitsPerBand
    val planes  = graft.operators.Similarity.signPlanes(2 * maxBits, 64)
    def arr(row: Array[Double]) =
      row.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val buckets = (0 until 2).map { bd =>
      (0 until maxBits).map { b =>
        s"(CASE WHEN $b < nb AND list_dot_product(e, ${arr(planes(bd * maxBits + b))}::DOUBLE[]) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
    }
    s"""WITH nn AS (SELECT count(*) AS cnt FROM embeddings),
       |bits AS (SELECT LEAST(16, GREATEST(8, CAST(ceil(log2(cnt / 64.0)) AS INT))) AS nb FROM nn),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |b AS MATERIALIZED (SELECT vec_id, (${buckets(0)}) AS b0, (${buckets(1)}) AS b1, e
       |  FROM v, bits),
       |x AS (SELECT vec_id, unnest([b0, b1]) AS bucket, unnest([0, 1]) AS band FROM b),
       |cand0 AS MATERIALIZED (SELECT x.vec_id AS id_a, y.vec_id AS id_b
       |         FROM x JOIN x AS y ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |cand AS MATERIALIZED (SELECT DISTINCT id_a, id_b FROM (
       |  SELECT id_a, id_b FROM cand0 ORDER BY md5(concat(id_a, ':', id_b)), id_a, id_b LIMIT 50000)),
       |p AS (SELECT
       |    2 * nb - bit_count(CAST(xor(a.b0, z.b0) AS BIGINT))
       |           - bit_count(CAST(xor(a.b1, z.b1) AS BIGINT)) AS n_match,
       |    CAST(round(round(list_cosine_similarity(a.e, z.e), 6) * 1000000) AS BIGINT) AS cos_micro
       |  FROM cand c JOIN b a ON c.id_a = a.vec_id JOIN b z ON c.id_b = z.vec_id, bits)
       |SELECT CAST(n_match AS BIGINT) AS n_match, count(*) AS n_pairs,
       |  CAST(sum(cos_micro) // count(*) AS BIGINT) AS avg_cosine_micro
       |FROM p GROUP BY 1""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_dot_vs_cosine_rank", Seq("B284"), simDotVsCosineRank, simDotVsCosineRankSql),
    QuerySpec("graph_partition_cut", Seq("B285"), graphPartitionCut, graphPartitionCutSql),
    QuerySpec("mm_type_mismatch", Seq("B286"), mmTypeMismatch, mmTypeMismatchSql),
    QuerySpec("sim_rp_lsh_calibration", Seq("B287"), simRpLshCalibration, simRpLshCalibrationSql)
  )
}
