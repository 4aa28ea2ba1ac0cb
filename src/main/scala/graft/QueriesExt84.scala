package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-13 additions, batch 58 (B302–B305): webdataset shard planning,
  * the storage-encoding gain audit, one NN-descent refinement round, and
  * diagonal-whitening isotropy gain.
  */
object QueriesExt84 {

  // ------------------------- webdataset shard plan (B302)

  /** `mm_shard_plan` — byte-budget sequential sharding, the webdataset/
    * tar-shard layout multimodal trainers stream from: samples in
    * deterministic doc_id order are packed into ~64 KiB shards by
    * exclusive-prefix byte offset (shard = prefix div budget — next-fit
    * packing, the standard streaming-shard writer). Per shard: sample
    * count, bytes, the contiguous id range, and fill ppm. B176 plans
    * REBALANCING of an existing layout; this plans the INITIAL
    * sequential layout — and q_shard_assign's consistent hashing is the
    * KV complement (random access) to this scan layout (sequential
    * read).
    *
    * Scale shape: one range-sorted running sum over (doc_id) — the same
    * prefix-sum shuffle class as corpus_epoch_order — then a
    * shards-bounded (corpus_bytes/64 KiB) hash agg. Payload size is
    * real UTF-8 bytes (zh docs are byte-heavier than their char count),
    * plus a 16-byte staged header, the B88 mm idiom.
    */
  private def mmShardPlan(s: SparkSession, dir: String): DataFrame = {
    val sized = documents(s, dir).select(
      col("doc_id"),
      (length(encode(col("text"), "UTF-8")).cast("long") + 16L).as("n_bytes"))
    val w = Window.orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    sized
      .withColumn("prefix_excl", coalesce(sum(col("n_bytes")).over(w), lit(0L)))
      .withColumn("shard_id", expr("prefix_excl div 65536"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("fill_ppm", expr("bytes * 1000000 div 65536"))
  }

  private val mmShardPlanSql =
    """WITH sized AS (SELECT doc_id,
      |    CAST(octet_length(encode(text)) AS BIGINT) + 16 AS n_bytes FROM documents),
      |pre AS (SELECT doc_id, n_bytes,
      |    coalesce(sum(n_bytes) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix_excl
      |  FROM sized),
      |asg AS (SELECT doc_id, n_bytes, CAST(prefix_excl // 65536 AS BIGINT) AS shard_id FROM pre)
      |SELECT shard_id, count(*) AS n_docs, CAST(sum(n_bytes) AS BIGINT) AS bytes,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      |  CAST(CAST(sum(n_bytes) AS BIGINT) * 1000000 // 65536 AS BIGINT) AS fill_ppm
      |FROM asg GROUP BY 1""".stripMargin

  // ------------------------- storage-encoding gain audit (B303)

  /** `q_encoding_gain` — prices dictionary and run-length encoding for
    * four lineitem columns under the (l_orderkey, l_linenumber, l_partkey, l_suppkey)
    * clustered layout (the minimal UNIQUE sort key of this fixture —
    * l_linenumber alone repeats within orders, which would make the lag
    * order, hence the run count, nondeterministic): per column, distinct-value count (→ dictionary
    * index width in bits) and run count with runs flushed at order
    * boundaries (→ the RLE ratio a parquet writer achieves when row
    * groups respect the clustering). The layout-tuning companion to
    * B262's z-order audit: that measures PRUNING from a sort order,
    * this measures COMPRESSION from it — together they price the 100 TB
    * sort-key decision.
    *
    * Scale shape: runs are counted under per-order lag windows (keyed
    * shuffle, no global sort — flushing at order boundaries is exactly
    * what makes the count distributable, and it upper-bounds the
    * file-wide count by at most n_orders); all four columns ride ONE
    * window pass; distincts are one expand-agg over the scan.
    */
  private def qEncodingGain(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val li = lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"), col("l_quantity"))
    val flagged = li.select(
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"), col("l_quantity"),
      (lag(col("l_returnflag"), 1).over(w) === col("l_returnflag")).as("c1"),
      (lag(col("l_linestatus"), 1).over(w) === col("l_linestatus")).as("c2"),
      (lag(col("l_shipdate"), 1).over(w) === col("l_shipdate")).as("c3"),
      (lag(col("l_quantity"), 1).over(w) === col("l_quantity")).as("c4"))
    val agg = flagged.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("c1"), 1L).otherwise(0L)).as("cont1"),
      sum(when(col("c2"), 1L).otherwise(0L)).as("cont2"),
      sum(when(col("c3"), 1L).otherwise(0L)).as("cont3"),
      sum(when(col("c4"), 1L).otherwise(0L)).as("cont4"),
      countDistinct(col("l_returnflag")).as("d1"),
      countDistinct(col("l_linestatus")).as("d2"),
      countDistinct(col("l_shipdate")).as("d3"),
      countDistinct(col("l_quantity")).as("d4"))
    agg.selectExpr(
      """stack(4,
        |  'l_returnflag', n_rows, d1, n_rows - cont1,
        |  'l_linestatus', n_rows, d2, n_rows - cont2,
        |  'l_shipdate',   n_rows, d3, n_rows - cont3,
        |  'l_quantity',   n_rows, d4, n_rows - cont4
        |) AS (column_name, n_rows, n_distinct, n_runs)""".stripMargin)
      .withColumn("rle_runs_ppm", expr("n_runs * 1000000 div n_rows"))
      .withColumn("dict_bits", expr(
        "CASE WHEN n_distinct <= 1 THEN 0 ELSE CAST(ceil(log2(CAST(n_distinct AS DOUBLE))) AS BIGINT) END"))
  }

  private val qEncodingGainSql =
    """WITH f AS (SELECT l_returnflag, l_linestatus, l_shipdate, l_quantity,
      |    lag(l_returnflag) OVER w = l_returnflag AS c1,
      |    lag(l_linestatus) OVER w = l_linestatus AS c2,
      |    lag(l_shipdate) OVER w = l_shipdate AS c3,
      |    lag(l_quantity) OVER w = l_quantity AS c4
      |  FROM lineitem WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey)),
      |a AS (SELECT count(*) AS n_rows,
      |    CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS cont1,
      |    CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS cont2,
      |    CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS cont3,
      |    CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS cont4,
      |    count(DISTINCT l_returnflag) AS d1, count(DISTINCT l_linestatus) AS d2,
      |    count(DISTINCT l_shipdate) AS d3, count(DISTINCT l_quantity) AS d4
      |  FROM f),
      |u AS (SELECT 'l_returnflag' AS column_name, n_rows, d1 AS n_distinct, n_rows - cont1 AS n_runs FROM a
      |  UNION ALL SELECT 'l_linestatus', n_rows, d2, n_rows - cont2 FROM a
      |  UNION ALL SELECT 'l_shipdate', n_rows, d3, n_rows - cont3 FROM a
      |  UNION ALL SELECT 'l_quantity', n_rows, d4, n_rows - cont4 FROM a)
      |SELECT column_name, n_rows, n_distinct, n_runs,
      |  n_runs * 1000000 // n_rows AS rle_runs_ppm,
      |  CASE WHEN n_distinct <= 1 THEN 0
      |       ELSE CAST(ceil(log2(CAST(n_distinct AS DOUBLE))) AS BIGINT) END AS dict_bits
      |FROM u""".stripMargin

  // ------------------------- NN-descent refinement round (B304)

  /** `sim_nn_descent_round` — one round of NN-descent ("a neighbor of my
    * neighbor is probably my neighbor", Dong et al., public) over the
    * RP-LSH k-NN graph, audited on 50 md5-sampled anchors against exact
    * brute-force truth: each sampled anchor's candidate set is expanded
    * with its neighbors' neighbors, re-ranked by exact cosine, and
    * recall@3 is reported before and after. Because refinement re-ranks
    * a SUPERSET of the base candidates with the same tie-break, per-
    * anchor recall can never decrease — the spec pins that invariant.
    * This is the graph-construction step between B4's LSH candidates
    * and an HNSW-class index build. Measured finding on THIS fixture:
    * zero gain at sf0.01 AND sf0.1 (8/150 → 8/150, 6/150 → 6/150) — the
    * cloud is isotropic (embed_isotropy_score ≈ 0.0004), so "a neighbor
    * of my neighbor" carries no information and the base LSH graph is
    * itself near-noise; the audit is exactly the instrument that says
    * "don't pay for graph refinement until the embeddings have local
    * structure", the B284-class honest measurement.
    *
    * Scale shape: the base k-NN graph is 3 edges/node (window over the
    * LSH-bounded candidate list, never all-pairs); the 2-hop expansion
    * runs only on the bounded anchor sample (≤ 50·k² pairs); exact
    * truth is the sample × corpus join — the audit's deliberate bounded
    * cost, same discipline as sim_pq_recall / sim_ann_recall.
    */
  private def simNnDescentRound(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val v = emb.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val pairs = operators.Similarity.randomHyperplanePairs(
      emb, "vec_id", "embedding", tau = 0.0,
      bitsPerBand = operators.Similarity.bitsFor(emb.count()))
    val sym = pairs
      .select(col("id_a").as("src"), col("id_b").as("nbr"), col("cosine"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("nbr"), col("cosine")))
    val wTop = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("nbr"))
    // 3 edges/node, bounded — localCheckpointed because the anchor
    // restriction, the 2-hop expansion and the hit counting all consume
    // it (unpersisted, the LSH pipeline re-ran per consumer: 5.6×/decade
    // in the sf1 probe)
    val base3 = sym.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 3)
      .select(col("src"), col("nbr"), col("cosine"))
      .localCheckpoint(true)
    val sample = v
      .select(col("vec_id").as("anchor"))
      .orderBy(md5(col("anchor").cast("string")), col("anchor"))
      .limit(50)
    // exact truth on the sampled anchors only: sample × corpus
    val truthScored = sample
      .join(v.select(col("vec_id").as("anchor"), col("e").as("ea")), Seq("anchor"))
      .crossJoin(v.select(col("vec_id").as("tid"), col("e").as("et")))
      .filter(col("tid") =!= col("anchor"))
      .select(col("anchor"), col("tid"),
        round(operators.Similarity.cosine(col("ea"), col("et")), 6).as("tcos"))
    val wTruth = Window.partitionBy(col("anchor")).orderBy(col("tcos").desc, col("tid"))
    val truth3 = truthScored.withColumn("rn", row_number().over(wTruth)).filter(col("rn") <= 3)
      .select(col("anchor"), col("tid"))
    // refinement candidates: base edges of the anchor ∪ neighbors' base edges
    val baseS = sample.join(base3, sample("anchor") === base3("src"))
      .select(col("anchor"), col("nbr"))
    val twoHop = baseS.as("h1")
      .join(base3.as("h2"), col("h1.nbr") === col("h2.src"))
      .select(col("h1.anchor").as("anchor"), col("h2.nbr").as("nbr"))
      .filter(col("nbr") =!= col("anchor"))
    val refCand = baseS.unionByName(twoHop).distinct()
    val refScored = refCand
      .join(v.select(col("vec_id").as("anchor"), col("e").as("ea")), Seq("anchor"))
      .join(v.select(col("vec_id").as("nbr"), col("e").as("en")), Seq("nbr"))
      .select(col("anchor"), col("nbr"),
        round(operators.Similarity.cosine(col("ea"), col("en")), 6).as("rcos"))
    val wRef = Window.partitionBy(col("anchor")).orderBy(col("rcos").desc, col("nbr"))
    val ref3 = refScored.withColumn("rn", row_number().over(wRef)).filter(col("rn") <= 3)
      .select(col("anchor"), col("nbr"))
    val baseHits = truth3.join(baseS.withColumnRenamed("nbr", "tid"), Seq("anchor", "tid"))
      .groupBy(col("anchor")).agg(count(lit(1)).as("base_hits"))
    val nndHits = truth3.join(ref3.withColumnRenamed("nbr", "tid"), Seq("anchor", "tid"))
      .groupBy(col("anchor")).agg(count(lit(1)).as("nnd_hits"))
    sample
      .join(baseHits, Seq("anchor"), "left")
      .join(nndHits, Seq("anchor"), "left")
      .select(
        col("anchor").as("vec_id"),
        coalesce(col("base_hits"), lit(0L)).as("base_hits"),
        coalesce(col("nnd_hits"), lit(0L)).as("nnd_hits"))
  }

  private val simNnDescentRoundSql =
    s"""WITH ${QueriesExt10.rpCandPairsSql("0.0")},
       |sym AS (SELECT id_a AS src, id_b AS nbr, cosine FROM pairs
       |        UNION ALL SELECT id_b, id_a, cosine FROM pairs),
       |base3 AS (SELECT src, nbr, cosine FROM (
       |    SELECT src, nbr, cosine,
       |      row_number() OVER (PARTITION BY src ORDER BY cosine DESC, nbr) AS rn FROM sym)
       |  WHERE rn <= 3),
       |sample AS (SELECT vec_id AS anchor FROM v
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 50),
       |truth3 AS (SELECT anchor, tid FROM (
       |    SELECT sa.anchor, vt.vec_id AS tid,
       |      row_number() OVER (PARTITION BY sa.anchor
       |        ORDER BY round(list_cosine_similarity(va.e, vt.e), 6) DESC, vt.vec_id) AS rn
       |    FROM sample sa JOIN v va ON va.vec_id = sa.anchor
       |    CROSS JOIN v vt WHERE vt.vec_id != sa.anchor)
       |  WHERE rn <= 3),
       |baseS AS (SELECT sa.anchor, b.nbr FROM sample sa JOIN base3 b ON b.src = sa.anchor),
       |twohop AS (SELECT h1.anchor, h2.nbr FROM baseS h1 JOIN base3 h2 ON h2.src = h1.nbr
       |  WHERE h2.nbr != h1.anchor),
       |refcand AS (SELECT DISTINCT anchor, nbr FROM (
       |    SELECT anchor, nbr FROM baseS UNION ALL SELECT anchor, nbr FROM twohop)),
       |ref3 AS (SELECT anchor, nbr FROM (
       |    SELECT rc.anchor, rc.nbr,
       |      row_number() OVER (PARTITION BY rc.anchor
       |        ORDER BY round(list_cosine_similarity(va.e, vn.e), 6) DESC, rc.nbr) AS rn
       |    FROM refcand rc JOIN v va ON va.vec_id = rc.anchor JOIN v vn ON vn.vec_id = rc.nbr)
       |  WHERE rn <= 3),
       |bh AS (SELECT t.anchor, count(*) AS base_hits FROM truth3 t
       |  JOIN baseS b ON b.anchor = t.anchor AND b.nbr = t.tid GROUP BY 1),
       |nh AS (SELECT t.anchor, count(*) AS nnd_hits FROM truth3 t
       |  JOIN ref3 r ON r.anchor = t.anchor AND r.nbr = t.tid GROUP BY 1)
       |SELECT sa.anchor AS vec_id, coalesce(bh.base_hits, 0) AS base_hits,
       |  coalesce(nh.nnd_hits, 0) AS nnd_hits
       |FROM sample sa LEFT JOIN bh ON bh.anchor = sa.anchor
       |LEFT JOIN nh ON nh.anchor = sa.anchor""".stripMargin

  // ------------------------- diagonal-whitening gain (B305)

  /** `embed_whitening_gain` — prices the "mean-center and scale before
    * indexing" decision: B266's exact all-pairs mean cosine
    * (‖Σuᵢ‖² − n identity over per-dimension sums) computed twice — on
    * the raw unit vectors and on DIAGONALLY-WHITENED vectors (per-dim
    * standardized by the corpus's own snapped-integer moments, then
    * re-unit-normalized). A large raw score with a near-zero whitened
    * score means the anisotropy is a dominant direction diagonal
    * whitening removes — do it before the ANN build; similar scores
    * mean the structure is off-diagonal and needs PCA (B237).
    *
    * Determinism: per-dim moments are exact integer sums of micro-
    * snapped values; the whitened coordinate is round-6 snapped per
    * VALUE before the norm fold (in-row left-to-right aggregate — no
    * cross-row float order anywhere), then the identity runs in
    * DECIMAL(38,0)/HUGEINT exactly as B266.
    *
    * Scale shape: two posexplode passes with 64-key integer aggs + one
    * 64-row broadcast of the moment arrays back to the corpus; the
    * all-pairs object is an identity on a 64-row table — nothing
    * quadratic, nothing unbounded.
    */
  private def embedWhiteningGain(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    // raw-unit mean pairwise cosine (B266's identity, inlined). The norm
    // fold is HOISTED to its own column: higher-order lambdas are
    // interpreted, and a norm inside the per-element transform re-ran the
    // 64-term fold 64× per row — the sf1 probe measured the un-hoisted
    // form at 7.5×/decade; hoisting restores the linear class (the value
    // is identical — same sqrt input per row)
    val unitRaw = emb
      .withColumn("nrm",
        expr("sqrt(aggregate(embedding, CAST(0 AS DOUBLE), (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))"))
      .select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(round(round(CAST(x AS DOUBLE) / nrm, 6) * 1000000, 0) AS BIGINT))")
          .as("u"))
    // each unit table feeds TWO aggregations inside meanCos (the 64-key
    // dim sums and the per-corpus self/count agg) — unpersisted, the
    // whole upstream (posexplode + zip_with chain + the stats broadcast)
    // re-evaluated per consumer and the sf1 probe read 7.5×/decade;
    // persisting the n-row unit tables restores one-pass linearity
    // (Bench's per-query storage cleanup releases the blocks)
    def meanCos(unitRawDf: DataFrame): DataFrame = {
      val unit = unitRawDf.persist()
      // r15 (B266's single-pass shape): ONE posexplode pass yields both
      // (Σu, Σu²) per dimension — the old form scanned the exploded
      // cells twice (dim sums + self-squares); n is a column-pruned
      // count over the persisted unit table (≡ the old countDistinct
      // over cells: vectors contributing ≥1 element)
      val cells = unit.select(col("vec_id"), posexplode(col("u")).as(Seq("pos", "ux")))
      val dims = cells.groupBy(col("pos")).agg(
        sum(col("ux")).as("sd"),
        sum(expr("CAST(ux AS DECIMAL(38,0)) * ux")).as("sq"))
      val tot = dims.agg(
        sum(expr("CAST(sd AS DECIMAL(38,0)) * sd")).as("ssq_dims"),
        sum(col("sq")).as("ssq_self"))
      unit
        .where(col("u").isNotNull && size(col("u")) > 0)
        .agg(countDistinct(col("vec_id")).as("n"))
        .crossJoin(broadcast(tot))
        .select(col("n"),
          expr("CAST((ssq_dims - ssq_self) div (n * (n - 1)) div 1000000 AS BIGINT)").as("mc"))
    }
    // per-dim moments from micro-snapped values (embed_dim_stats discipline)
    val snapped = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)").as("xm"))
    val stats = snapped
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("nv"), sum(col("xm")).as("sx"),
        sum(expr("CAST(xm AS DECIMAL(38,0)) * xm")).as("sxx"))
      .select(col("pos"),
        expr("CAST(sx AS DOUBLE) / nv").as("mu"),
        expr("sqrt(greatest(CAST(sxx AS DOUBLE) / nv - (CAST(sx AS DOUBLE) / nv) * (CAST(sx AS DOUBLE) / nv), 1.0))").as("sd"))
    val statsArr = stats
      .agg(sort_array(collect_list(struct(col("pos"), col("mu"), col("sd")))).as("st"))
      .select(
        expr("transform(st, t -> t.mu)").as("mus"),
        expr("transform(st, t -> t.sd)").as("sds"))
    val zArr = emb
      .crossJoin(broadcast(statsArr))
      .select(
        col("vec_id"),
        expr(
          "zip_with(zip_with(embedding, mus, (x, m) -> round(CAST(x AS DOUBLE) * 1000000, 0) - m), sds," +
            " (zm, sdv) -> round(zm / sdv, 6))").as("z"))
    val unitWhite = zArr
      .withColumn("nrm", expr("sqrt(aggregate(z, CAST(0 AS DOUBLE), (a, y) -> a + y * y))"))
      .select(
        col("vec_id"),
        expr("transform(z, zx -> CAST(round(round(zx / nrm, 6) * 1000000, 0) AS BIGINT))")
          .as("u"))
    meanCos(unitRaw).select(col("n").as("n_vectors"), col("mc").as("raw_mean_cos_micro"))
      .crossJoin(
        meanCos(unitWhite).select(col("mc").as("whitened_mean_cos_micro")))
      .withColumn("gain_micro", expr("raw_mean_cos_micro - whitened_mean_cos_micro"))
  }

  private val embedWhiteningGainSql =
    """WITH unit_raw AS (
      |  SELECT vec_id,
      |    [CAST(round(round(CAST(x AS DOUBLE) /
      |       sqrt(list_sum([CAST(y AS DOUBLE) * CAST(y AS DOUBLE) for y in embedding])), 6) * 1000000)
      |     AS BIGINT) for x in embedding] AS u
      |  FROM embeddings),
      |cells_raw AS (SELECT vec_id, generate_subscripts(u, 1) AS pos, unnest(u) AS ux FROM unit_raw),
      |dims_raw AS (SELECT pos, CAST(sum(ux) AS BIGINT) AS sd FROM cells_raw GROUP BY 1),
      |sq_raw AS (SELECT sum(CAST(sd AS HUGEINT) * sd) AS ssq_dims FROM dims_raw),
      |sn_raw AS (SELECT sum(CAST(ux AS HUGEINT) * ux) AS ssq_self, count(DISTINCT vec_id) AS n FROM cells_raw),
      |mc_raw AS (SELECT sn_raw.n AS n,
      |    CAST((sq_raw.ssq_dims - sn_raw.ssq_self) // (sn_raw.n * (sn_raw.n - 1)) // 1000000 AS BIGINT) AS mc
      |  FROM sn_raw, sq_raw),
      |snapped AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xm
      |  FROM embeddings),
      |stats AS (SELECT pos, CAST(sum(xm) AS DOUBLE) / count(*) AS mu,
      |    sqrt(greatest(CAST(sum(CAST(xm AS HUGEINT) * xm) AS DOUBLE) / count(*)
      |      - (CAST(sum(xm) AS DOUBLE) / count(*)) * (CAST(sum(xm) AS DOUBLE) / count(*)), 1.0)) AS sd
      |  FROM snapped GROUP BY 1),
      |sarr AS (SELECT list(mu ORDER BY pos) AS mus, list(sd ORDER BY pos) AS sds FROM stats),
      |zv AS (SELECT vec_id,
      |    [round((round(CAST(embedding[i] AS DOUBLE) * 1000000) - mus[i]) / sds[i], 6)
      |     for i in range(1, len(embedding) + 1)] AS z
      |  FROM embeddings, sarr),
      |unit_w AS (SELECT vec_id,
      |    [CAST(round(round(zx / sqrt(list_sum([y * y for y in z])), 6) * 1000000) AS BIGINT)
      |     for zx in z] AS u
      |  FROM zv),
      |cells_w AS (SELECT vec_id, generate_subscripts(u, 1) AS pos, unnest(u) AS ux FROM unit_w),
      |dims_w AS (SELECT pos, CAST(sum(ux) AS BIGINT) AS sd FROM cells_w GROUP BY 1),
      |sq_w AS (SELECT sum(CAST(sd AS HUGEINT) * sd) AS ssq_dims FROM dims_w),
      |sn_w AS (SELECT sum(CAST(ux AS HUGEINT) * ux) AS ssq_self, count(DISTINCT vec_id) AS n FROM cells_w),
      |mc_w AS (SELECT CAST((sq_w.ssq_dims - sn_w.ssq_self) // (sn_w.n * (sn_w.n - 1)) // 1000000 AS BIGINT) AS mc
      |  FROM sn_w, sq_w)
      |SELECT mc_raw.n AS n_vectors, mc_raw.mc AS raw_mean_cos_micro,
      |  mc_w.mc AS whitened_mean_cos_micro,
      |  mc_raw.mc - mc_w.mc AS gain_micro
      |FROM mc_raw, mc_w""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("mm_shard_plan", Seq("B302"), mmShardPlan, mmShardPlanSql),
    QuerySpec("q_encoding_gain", Seq("B303"), qEncodingGain, qEncodingGainSql),
    QuerySpec("sim_nn_descent_round", Seq("B304"), simNnDescentRound, simNnDescentRoundSql),
    QuerySpec("embed_whitening_gain", Seq("B305"), embedWhiteningGain, embedWhiteningGainSql)
  )
}
