package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._

/** Round-10 additions, batch 51: the PRODUCTION ANN stack end-to-end —
  * IVF routing composed with PQ/ADC scoring, certified against exact
  * truth. B185 tunes IVF alone (exact scoring inside probed cells);
  * B155 certifies PQ alone (ADC over the full corpus); a deployed index
  * runs BOTH compressions at once, and their recall losses compound
  * multiplicatively — this is the number an operator actually ships.
  */
object QueriesExt58 {

  // --------------------------- IVF + PQ compound recall (B242)

  /** End-to-end recall@10 of the composed index (`sim_ivf_pq_compound`):
    * corpus vectors live in 8 md5-seeded IVF cells (B185's geometry) AND
    * carry 8-byte PQ codes (B155's 16-code × 8-subspace book); a query
    * probes its 2 nearest cells and ranks ONLY those candidates by ADC
    * (sum of nano-snapped integer LUT entries — exact BIGINT, ties by
    * id). Emits per-probe candidate count, hits, and recall@10 vs exact
    * full-corpus L2 truth, so the routing loss (candidates missing) and
    * the quantization loss (candidates mis-ranked) land in one table
    * beside B185/B155's single-axis curves.
    *
    * Parity scheme: cell routing ranks raw IEEE float distances (B185's
    * proven-identical dot-product chains); every ADC/truth distance is
    * snapped once to nano-integers (B155's convention), so all ranking
    * ties break identically across engines.
    *
    * Scale shape: assignment and encoding are corpus-linear passes
    * against constant-size broadcast models (8 centroids, 128 codebook
    * rows); the candidate set is the probed nprobe/nCells corpus
    * fraction × a BOUNDED probe set, equi-joined to codes on vec_id
    * (shuffle, no nested loop over data); ADC is 8 rows per
    * (probe, candidate). The full-corpus exact pass exists only to
    * certify — it is the cost the index removes at 100 TB.
    */
  private def simIvfPqCompound(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity.dot
    val nSub = 8; val subDim = 8; val nCode = 16; val nCells = 8; val nProbe = 2
    val v = embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .localCheckpoint()

    // --- IVF routing (B185 geometry: nCells smallest (md5, id) seeds)
    val cellSeeds: Seq[(Long, Seq[Double], Double)] = v
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h").asc, col("vec_id").asc)
      .limit(nCells)
      .select(col("vec_id"), col("e"))
      .collect()
      .map { r =>
        val ce = r.getSeq[Double](1).toIndexedSeq
        (r.getLong(0), ce, ce.map(x => x * x).sum)
      }
      .toIndexedSeq
    val cents = broadcast(s.createDataFrame(cellSeeds).toDF("cell", "ce", "ce2"))
    def cellD(vec: Column): Column =
      dot(vec, vec) - lit(2.0) * dot(vec, col("ce")) + col("ce2")
    val assign = graft.operators.Similarity
      .ivfAssign(embeddings(s, dir), "vec_id", "embedding", nCells)
      .select(col("corpus_id"), col("cell"))
    val probes = v.filter(col("vec_id") < 10)
    val probeCells = probes
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
      .crossJoin(cents)
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(cellD(col("qe")).asc, col("cell").asc)))
      .filter(col("prn") <= nProbe)
      .select(col("query_id"), col("cell"))
    val cand = assign
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"))

    // --- PQ book (B155 geometry: nCode smallest (md5, id) seeds)
    def l2n(a: Column, b: Column): Column =
      floor((dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)) * 1e9 + 0.5).cast("long")
    val seedVecs: Seq[Seq[Double]] = v
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h").asc, col("vec_id").asc)
      .limit(nCode)
      .select(col("e"))
      .collect()
      .map(_.getSeq[Double](0).toIndexedSeq)
      .toIndexedSeq
    val cbRows = for {
      (ce, i) <- seedVecs.zipWithIndex
      sub     <- 0 until nSub
    } yield (sub, (i + 1).toLong, ce.slice(sub * subDim, sub * subDim + subDim))
    val cb = s.createDataFrame(cbRows).toDF("s", "code_id", "csub")
    val subs = explode(sequence(lit(0), lit(nSub - 1))).as("s")
    val vs = v.select(col("vec_id"), subs, col("e"))
      .select(col("vec_id"), col("s"), slice(col("e"), col("s") * subDim + 1, lit(subDim)).as("vsub"))
    val wEnc = Window.partitionBy(col("vec_id"), col("s")).orderBy(col("d").asc, col("code_id").asc)
    val codes = vs
      .join(broadcast(cb), Seq("s"))
      .withColumn("d", l2n(col("vsub"), col("csub")))
      .withColumn("rn", row_number().over(wEnc))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("s"), col("code_id"))
    val lut = probes
      .select(col("vec_id").as("query_id"), subs, col("e"))
      .select(col("query_id"), col("s"), slice(col("e"), col("s") * subDim + 1, lit(subDim)).as("qsub"))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("code_id"), l2n(col("qsub"), col("csub")).as("pd"))

    // --- ADC over the ROUTED candidates only
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adist").asc, col("corpus_id").asc)
    val adc = cand
      .join(codes.withColumnRenamed("vec_id", "corpus_id"), Seq("corpus_id"))
      .join(broadcast(lut), Seq("query_id", "s", "code_id"))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(sum(col("pd")).as("adist"))
      .withColumn("rank", row_number().over(wAdc))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("corpus_id"))

    // --- exact truth (certification only)
    val wEx = Window.partitionBy(col("query_id")).orderBy(col("edist").asc, col("corpus_id").asc)
    val truth = v.select(col("vec_id").as("corpus_id"), col("e").as("ce3"))
      .join(
        broadcast(probes.select(col("vec_id").as("query_id"), col("e").as("qe"))),
        col("corpus_id") =!= col("query_id"))
      .withColumn("edist", l2n(col("qe"), col("ce3")))
      .withColumn("rank", row_number().over(wEx))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("corpus_id"))

    val nCand = cand.groupBy(col("query_id")).agg(count(lit(1)).as("n_candidates"))
    val found = truth
      .join(adc, Seq("query_id", "corpus_id"), "left_semi")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_found"))
    truth.groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
      .join(nCand, Seq("query_id"), "left").na.fill(0L, Seq("n_candidates"))
      .join(found, Seq("query_id"), "left")
      .select(
        col("query_id"), col("n_true"), col("n_candidates"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        expr("CAST(coalesce(n_found, 0) * 1000000 div n_true AS BIGINT)").as("recall_ppm"))
  }

  private val simIvfPqCompoundSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |cell_seeds AS (SELECT vec_id AS cell, e AS ce FROM v
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 8),
      |assign AS MATERIALIZED (
      |  SELECT vec_id AS corpus_id, cell FROM (
      |    SELECT v.vec_id, s.cell,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_dot_product(v.e, v.e) - 2.0*list_dot_product(v.e, s.ce) + list_dot_product(s.ce, s.ce) ASC,
      |        s.cell ASC) AS rn
      |    FROM v CROSS JOIN cell_seeds s)
      |  WHERE rn = 1),
      |probe_cells AS MATERIALIZED (
      |  SELECT vec_id AS query_id, cell FROM (
      |    SELECT v.vec_id, s.cell,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_dot_product(v.e, v.e) - 2.0*list_dot_product(v.e, s.ce) + list_dot_product(s.ce, s.ce) ASC,
      |        s.cell ASC) AS rn
      |    FROM v CROSS JOIN cell_seeds s
      |    WHERE v.vec_id < 10)
      |  WHERE rn <= 2),
      |cand AS MATERIALIZED (
      |  SELECT p.query_id, a.corpus_id
      |  FROM probe_cells p JOIN assign a ON a.cell = p.cell
      |  WHERE a.corpus_id != p.query_id),
      |code_seeds AS (
      |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS code_id,
      |         e AS ce
      |  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16),
      |cb AS (
      |  SELECT s, code_id, ce[s*8+1 : s*8+8] AS csub
      |  FROM code_seeds, (SELECT unnest(range(0, 8)) AS s)),
      |vs AS (
      |  SELECT vec_id, s, e[s*8+1 : s*8+8] AS vsub
      |  FROM v, (SELECT unnest(range(0, 8)) AS s)),
      |enc AS MATERIALIZED (
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
      |lut AS MATERIALIZED (
      |  SELECT qs.query_id, cb.s, cb.code_id,
      |    CAST(floor((list_dot_product(qsub, qsub) - 2.0*list_dot_product(qsub, csub) + list_dot_product(csub, csub)) * 1e9 + 0.5) AS BIGINT) AS pd
      |  FROM qs JOIN cb USING (s)),
      |adc AS MATERIALIZED (
      |  SELECT query_id, corpus_id FROM (
      |    SELECT c.query_id, c.corpus_id, sum(l.pd) AS adist,
      |      row_number() OVER (PARTITION BY c.query_id ORDER BY sum(l.pd) ASC, c.corpus_id ASC) AS rank
      |    FROM cand c
      |    JOIN enc ON enc.vec_id = c.corpus_id
      |    JOIN lut l ON l.query_id = c.query_id AND l.s = enc.s AND l.code_id = enc.code_id
      |    GROUP BY 1, 2)
      |  WHERE rank <= 10),
      |truth AS MATERIALIZED (
      |  SELECT query_id, corpus_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        CAST(floor((list_dot_product(q.e, q.e) - 2.0*list_dot_product(q.e, c.e) + list_dot_product(c.e, c.e)) * 1e9 + 0.5) AS BIGINT) ASC,
      |        c.vec_id ASC) AS rank
      |    FROM v q JOIN v c ON c.vec_id != q.vec_id
      |    WHERE q.vec_id < 10)
      |  WHERE rank <= 10),
      |ncand AS (SELECT query_id, count(*) AS n_candidates FROM cand GROUP BY 1),
      |found AS (
      |  SELECT t.query_id, count(*) AS n_found
      |  FROM truth t JOIN adc a ON a.query_id = t.query_id AND a.corpus_id = t.corpus_id
      |  GROUP BY 1),
      |tr AS (SELECT query_id, count(*) AS n_true FROM truth GROUP BY 1)
      |SELECT tr.query_id, tr.n_true,
      |  CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
      |  CAST(coalesce(f.n_found, 0) AS BIGINT) AS n_found,
      |  CAST(coalesce(f.n_found, 0) * 1000000 // tr.n_true AS BIGINT) AS recall_ppm
      |FROM tr
      |LEFT JOIN ncand nc ON nc.query_id = tr.query_id
      |LEFT JOIN found f ON f.query_id = tr.query_id""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_ivf_pq_compound", Seq("B242"), simIvfPqCompound, simIvfPqCompoundSql)
  )
}
