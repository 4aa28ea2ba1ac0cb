package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-8 additions, batch 18: graph shape profiling and product
  * quantization — the degree histogram an entity-graph pipeline monitors,
  * and the PQ/ADC recall audit that certifies the 8-byte-per-vector
  * compressed index (the memory-bound regime int8 (B149) can't reach).
  */
object QueriesExt24 {

  // --------------------------- degree histogram (B154)

  /** Degree profile of the support-≥2 co-purchase graph (B148's graph):
    * node count per degree bucket (exact degrees 1–9, 10+ pooled) plus
    * each bucket's share ppm — the shape readout that catches both
    * over-pruning (everything degree-1) and hub explosion (mass in 10+)
    * before a downstream graph algorithm is run on a pathological edge
    * list.
    *
    * Scale shape: edge build is GraphOps.copurchaseEdges (two hash-aggs,
    * no self-join); degrees are one hash-agg over the directed edge
    * list; the histogram is a second agg over the nodes-sized degree
    * table with a 1-row total broadcast.
    */
  private def graphDegreeStats(s: SparkSession, dir: String): DataFrame = {
    val und = operators.GraphOps.copurchaseEdges(lineitem(s, dir), 2)
    // degree via explode of both endpoints — the edge build appears ONCE
    // in the plan (a union of und with its swap would duplicate the
    // whole build as two scan branches)
    val deg = und
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
      // nodes-sized; materialized once so the histogram branch and the
      // 1-row total branch don't each replay the whole edge build
      .localCheckpoint(true)
    val hist = deg
      .groupBy(when(col("degree") >= 10, lit(10L)).otherwise(col("degree")).as("deg_bucket"))
      .agg(count(lit(1)).as("n_nodes"))
    hist
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_total"))))
      .select(
        col("deg_bucket"),
        col("n_nodes"),
        expr("CAST(n_nodes * 1000000 div n_total AS BIGINT)").as("share_ppm")
      )
  }

  private val graphDegreeStatsSql =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |und AS (
      |  SELECT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |edges AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
      |deg AS (SELECT u AS node, count(*) AS degree FROM edges GROUP BY 1),
      |hist AS (
      |  SELECT CASE WHEN degree >= 10 THEN 10 ELSE degree END AS deg_bucket,
      |         count(*) AS n_nodes
      |  FROM deg GROUP BY 1),
      |tot AS (SELECT count(*) AS n_total FROM deg)
      |SELECT deg_bucket, n_nodes,
      |  CAST(n_nodes * 1000000 // n_total AS BIGINT) AS share_ppm
      |FROM hist, tot""".stripMargin

  // --------------------------- PQ/ADC recall audit (B155)

  /** Product-quantization recall\@10: vectors are split into 8 subspaces of
    * 8 dims; each subspace has a 16-entry codebook (the subvectors of the
    * 16 md5-ordered seed vectors — the same deterministic-seed scheme as
    * the IVF index, so both engines derive identical codebooks with no
    * training loop). Every corpus vector encodes to 8 codes (nearest
    * codebook entry per subspace, L2); a probe query computes an 8×16
    * lookup table of subspace distances and scores every vector by the sum
    * of its codes' LUT entries — Asymmetric Distance Computation, the
    * standard memory-bound ANN layout (8 bytes/vector). The audit reports
    * per-probe recall\@10 of ADC ranking vs exact-L2 truth.
    *
    * Parity scheme: every subspace distance is an IEEE dot-product chain
    * on identical doubles (bit-identical across engines), snapped ONCE to
    * nano-integers (floor(d·1e9 + 0.5)); ADC sums are then exact BIGINTs,
    * so ranking ties break identically everywhere.
    *
    * Scale shape: encoding is corpus × 128 codebook rows (a broadcast
    * nested loop over a constant — corpus-linear); ADC scoring joins
    * corpus codes to a probes×128 LUT on (subspace, code) and sums 8 rows
    * per (probe, vector) — probe-bounded and corpus-linear; the exact
    * truth pass runs only on the bounded audit probe set.
    */
  private def simPqRecall(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity.dot
    val nSub = 8; val subDim = 8; val nCode = 16
    val v = embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .localCheckpoint()

    // 16 seed vectors in md5 order — a MODEL-sized driver pull (16 × 64
    // rounded-free doubles, the kmeans/IVF idiom), never data-sized
    val seedVecs: Seq[Seq[Double]] = v
      .withColumn("md5k", md5(col("vec_id").cast("string")))
      .orderBy(col("md5k").asc, col("vec_id").asc)
      .limit(nCode)
      .select(col("e"))
      .collect()
      .map(_.getSeq[Double](0).toIndexedSeq)
      .toIndexedSeq

    // codebook: (s, code_id, csub) — 128 constant rows, broadcastable
    val cbRows = for {
      (ce, i) <- seedVecs.zipWithIndex
      sub     <- 0 until nSub
    } yield (sub, (i + 1).toLong, ce.slice(sub * subDim, sub * subDim + subDim))
    val cb = s.createDataFrame(cbRows).toDF("s", "code_id", "csub")

    def l2n(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      floor((dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)) * 1e9 + 0.5).cast("long")

    val subs = explode(sequence(lit(0), lit(nSub - 1))).as("s")
    // encode the corpus: nearest code per (vector, subspace)
    val vs = v.select(col("vec_id"), subs, col("e"))
      .select(col("vec_id"), col("s"), slice(col("e"), col("s") * subDim + 1, lit(subDim)).as("vsub"))
    val wEnc = Window.partitionBy(col("vec_id"), col("s")).orderBy(col("d").asc, col("code_id").asc)
    val codes = vs
      .join(broadcast(cb), Seq("s"))
      .withColumn("d", l2n(col("vsub"), col("csub")))
      .withColumn("rn", row_number().over(wEnc))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("s"), col("code_id"))

    // probe LUTs: (query, s, code) → nano-int subspace distance
    val probes = v.filter(col("vec_id") < 10)
    val lut = probes
      .select(col("vec_id").as("query_id"), subs, col("e"))
      .select(col("query_id"), col("s"), slice(col("e"), col("s") * subDim + 1, lit(subDim)).as("qsub"))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("code_id"), l2n(col("qsub"), col("csub")).as("pd"))

    // ADC ranking: sum of 8 exact-integer LUT entries per (probe, vector)
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adist").asc, col("corpus_id").asc)
    val adc = codes
      .join(broadcast(lut), Seq("s", "code_id"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("corpus_id"))
      .agg(sum(col("pd")).as("adist"))
      .withColumn("rank", row_number().over(wAdc))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("corpus_id"))

    // exact-L2 truth on the audit probes (broadcast the bounded probe
    // side — the bruteForceTopK join shape PlanAudit allows)
    val wEx = Window.partitionBy(col("query_id")).orderBy(col("edist").asc, col("corpus_id").asc)
    val truth = v.select(col("vec_id").as("corpus_id"), col("e").as("ce2"))
      .join(
        broadcast(probes.select(col("vec_id").as("query_id"), col("e").as("qe"))),
        col("corpus_id") =!= col("query_id")
      )
      .withColumn("edist", l2n(col("qe"), col("ce2")))
      .withColumn("rank", row_number().over(wEx))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("corpus_id"))

    val found = truth
      .join(adc, Seq("query_id", "corpus_id"), "left_semi")
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

  private val simPqRecallSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |seeds AS (
      |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS code_id,
      |         e AS ce
      |  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16),
      |cb AS (
      |  SELECT s, code_id, ce[s*8+1 : s*8+8] AS csub
      |  FROM seeds, (SELECT unnest(range(0, 8)) AS s)),
      |vs AS (
      |  SELECT vec_id, s, e[s*8+1 : s*8+8] AS vsub
      |  FROM v, (SELECT unnest(range(0, 8)) AS s)),
      |enc AS (
      |  SELECT vec_id, s, code_id FROM (
      |    SELECT vs.vec_id, vs.s, cb.code_id,
      |      row_number() OVER (PARTITION BY vs.vec_id, vs.s ORDER BY
      |        CAST(floor((list_dot_product(vsub, vsub) - 2.0*list_dot_product(vsub, csub) + list_dot_product(csub, csub)) * 1e9 + 0.5) AS BIGINT) ASC,
      |        cb.code_id ASC) AS rn
      |    FROM vs JOIN cb USING (s))
      |  WHERE rn = 1),
      |qs AS (
      |  SELECT vec_id AS query_id, s, e[s*8+1 : s*8+8] AS qsub
      |  FROM v, (SELECT unnest(range(0, 8)) AS s)
      |  WHERE vec_id < 10),
      |lut AS (
      |  SELECT qs.query_id, cb.s, cb.code_id,
      |    CAST(floor((list_dot_product(qsub, qsub) - 2.0*list_dot_product(qsub, csub) + list_dot_product(csub, csub)) * 1e9 + 0.5) AS BIGINT) AS pd
      |  FROM qs JOIN cb USING (s)),
      |adc AS (
      |  SELECT query_id, corpus_id FROM (
      |    SELECT l.query_id, enc.vec_id AS corpus_id, sum(l.pd) AS adist,
      |      row_number() OVER (PARTITION BY l.query_id ORDER BY sum(l.pd) ASC, enc.vec_id ASC) AS rank
      |    FROM enc JOIN lut l ON l.s = enc.s AND l.code_id = enc.code_id
      |    WHERE enc.vec_id != l.query_id
      |    GROUP BY 1, 2)
      |  WHERE rank <= 10),
      |truth AS (
      |  SELECT query_id, corpus_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        CAST(floor((list_dot_product(q.e, q.e) - 2.0*list_dot_product(q.e, c.e) + list_dot_product(c.e, c.e)) * 1e9 + 0.5) AS BIGINT) ASC,
      |        c.vec_id ASC) AS rank
      |    FROM v q JOIN v c ON c.vec_id != q.vec_id
      |    WHERE q.vec_id < 10)
      |  WHERE rank <= 10),
      |found AS (
      |  SELECT t.query_id, count(*) AS n_found
      |  FROM truth t JOIN adc a ON a.query_id = t.query_id AND a.corpus_id = t.corpus_id
      |  GROUP BY 1),
      |tr AS (SELECT query_id, count(*) AS n_true FROM truth GROUP BY 1)
      |SELECT query_id, n_true,
      |  coalesce(n_found, 0) AS n_found,
      |  CAST(coalesce(n_found, 0) * 1000000 // n_true AS BIGINT) AS recall_ppm
      |FROM tr LEFT JOIN found USING (query_id)""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("graph_degree_stats", Seq("B154"), graphDegreeStats, graphDegreeStatsSql),
    QuerySpec("sim_pq_recall", Seq("B155"), simPqRecall, simPqRecallSql)
  )
}
