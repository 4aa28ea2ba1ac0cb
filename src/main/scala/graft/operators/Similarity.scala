package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Parallelism.spreadSmallInput

/** Approximate/exact nearest-neighbor search over embedding columns
  * (SURVEY.md §2 B4). Brute-force cosine is the correctness baseline; the
  * bucketed variant is the scale path (compare only within a coarse cell —
  * IVF-style; here the cell is any precomputed bucket column, e.g. a
  * cluster label or sign-bit sketch).
  *
  * All vector math is double-precision, element-ordered `aggregate` over
  * the array — deterministic and reproducible by an independent engine.
  * No UDFs: `transform`/`zip_with`/`aggregate` are native Catalyst
  * higher-order functions.
  */
object Similarity {

  /** Sequential double-precision dot product — a codegen'd Catalyst
    * expression (graft.functions.DotProduct); same left-to-right
    * accumulation as the equivalent higher-order fold, ~10× faster.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(a, b)

  /** L2 norm (sqrt of the sequential sum of squares). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two double-array columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Brute-force top-k by cosine: for each query vector, the k nearest
    * corpus vectors (excluding itself), ranked (cosine desc, id asc).
    *
    * Scale shape: queries are broadcast (they are small by assumption);
    * the corpus streams through one scan — no corpus self-shuffle — and
    * the bounded-heap `rankTopK` keeps k rows per query map-side.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = spreadSmallInput(corpus).select(col(idCol).as("corpus_id"), asDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    rankTopK(
      c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
        .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6)),
      k)
  }

  /** Per query, the k best scored rows by (cosine desc, corpus_id asc),
    * ranked 1..k: (query_id, corpus_id, cosine, rank). The bounded-heap
    * TopKBy aggregate moves k rows per query through its shuffle, where a
    * `row_number()` window would shuffle and sort every scored row; its
    * tie-break is the window's. A row with a NULL cosine (a NULL vector)
    * is skipped, where the window would rank it last.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val idType = scored.schema("corpus_id").dataType
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKBy.topKByLong(col("cosine"), col("corpus_id").cast("long"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").cast(idType).as("corpus_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Session-shared brute-force truth table (r16, the r15 verdict's
    * shared-shortlist ask): top-10 by cosine for the SUPERSET audit
    * probe set `vec_id < 50`. Seven queries run brute-force truth passes
    * against probe sets that are all prefixes of this one (vec_id < 5 /
    * < 10 / < 50, k ≤ 10), and per-query rankings are independent of
    * which other probes ride the same pass — so one corpus scan serves
    * every consumer via a query_id/rank filter, bit-identically to the
    * per-query pass it replaces. A real audit pipeline lands exactly
    * this table once per corpus snapshot (it IS the ground truth the
    * recall reports are measured against). Output is probes×k rows
    * (≤500); build cost is metered by the bench like every stage.
    */
  def truthTop10(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val proj = emb.select(col(idCol), col(vecCol))
    SessionStageCache.getOrCompute(proj, s"bruteTruth:$idCol:$vecCol:q50:k10") {
      bruteForceTopK(proj, proj.filter(col(idCol) < 50), idCol, vecCol, 10)
        .localCheckpoint(true)
    }
  }

  /** Bucketed (IVF-style) top-k: identical contract, but candidates are
    * restricted to the query's bucket. Trades recall for a |bucket|/|corpus|
    * reduction in comparisons — the standard first step before a real ANN
    * index. The bucket column can be a cluster id, a coarse-quantizer cell,
    * or a locality-sensitive sketch.
    */
  def bucketedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      bucketCol: String,
      k: Int
  ): DataFrame = {
    val c = spreadSmallInput(corpus).select(col(idCol).as("corpus_id"), col(bucketCol).as("cb"), asDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(bucketCol).as("qb"), asDouble(col(vecCol)).as("qv"))
    rankTopK(
      c.join(broadcast(q), col("cb") === col("qb") && col("corpus_id") =!= col("query_id"))
        .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6)),
      k)
  }

  /** Sign-bit sketch over the first `bits` dimensions — a trivial
    * locality-sensitive bucket usable as `bucketCol` for bucketedTopK
    * when no cluster label exists.
    */
  def signBucket(vec: Column, bits: Int): Column =
    (0 until bits)
      .map(i => when(element_at(vec, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** IVF (inverted-file) ANN: pick `nCells` deterministic seed centroids
    * from the corpus (the rows with the smallest md5(id) — a reproducible
    * uniform sample, the standard random-init coarse quantizer), assign
    * every corpus vector to its nearest cell, then for each query scan
    * only the `nProbe` nearest cells' vectors. This is the standard first
    * real ANN index (FAISS IVFFlat): at 100 TB the corpus partitions by
    * cell id, queries fan out to nProbe/nCells of the data, and
    * recall/latency trades via nProbe. Lloyd refinement of the centroids
    * is orthogonal (it changes the cells, not the query plan) and is
    * deliberately left out so an independent engine can replay the exact
    * index: every step here — seed pick, argmin assignment, probe set,
    * final ranking — is plain deterministic relational algebra.
    *
    * The centroid "model" is small (nCells × dim doubles): cell
    * assignment is the map-side NearestCell kernel holding the matrix —
    * the deterministic argmin over (distance, cell id), one pass over the
    * corpus with no join and no aggregate — and the per-query probe
    * ranking crosses the queries with it as a BROADCAST TABLE. No ML
    * pipeline anywhere.
    */
  /** Deterministic seed centroids as a driver-built table (cell id,
    * centroid, ||centroid||²): nCells rows with the smallest (md5(id),
    * id) — a TakeOrdered over the scan, cheap at any scale. It carries no
    * join hint: `ivfAssignWithCents` collects it, and `probeCells`
    * broadcasts it into its crossJoin. Cell id = the seed
    * row's id, so the index is self-describing; ||c||² is driver-computed
    * once so the distance formula is exactly the replayable
    * d = v·v − 2·v·c + Σc², same op order as the oracle SQL.
    */
  private def ivfCentroidTable(
      seedSource: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int
  ): DataFrame = {
    val seeds: Array[(Long, Array[Double])] = seedSource
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("h", md5(col("id").cast("string")))
      .orderBy(col("h").asc, col("id").asc)
      .limit(nCells)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    seedSource.sparkSession.createDataFrame(
      seeds.toIndexedSeq.map { case (id, v) => (id, v.toSeq, v.map(x => x * x).sum) }
    ).toDF("cell", "ce", "ce2")
  }

  /** Corpus → nearest cell: the NearestCell kernel over the centroid
    * matrix, ORDER BY (distance, cell id) as the deterministic argmin.
    * The matrix is read back from the driver-built table, a local
    * relation, so collecting it runs no job. Returns (corpus_id, cv, cell),
    * one row per corpus row.
    */
  private def ivfAssignWithCents(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cents: DataFrame
  ): DataFrame = {
    val m = cents.collect().toIndexedSeq
    val cell = graft.functions.VectorExpressions.nearestCell(
      col("cv"), m.map(_.getLong(0)), m.map(_.getSeq[Double](1).toIndexedSeq), m.map(_.getDouble(2)))
    spreadSmallInput(corpus)
      .select(col(idCol).as("corpus_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cell", cell)
      // only with no centroids is a cell NULL: the rows a crossJoin
      // against an empty table never produced
      .filter(col("cell").isNotNull)
  }

  /** Session-shared default-geometry centroid table and cell assignment
    * (r16): every default-seeded consumer at one nCells shares ONE seed
    * pick (a collect job) and ONE corpus assignment pass — the
    * assignment IS the IVF index, built once per corpus snapshot and
    * queried at many operating points (the r15 ivfTopKSweep argument,
    * extended across queries). Incremental/refresh callers pass an
    * explicit seedSource and keep their private geometry.
    *
    * Unlike the other stage entries this one needs no localCheckpoint:
    * ivfCentroidTable's seed pick is a `collect()` that runs once, inside
    * getOrCompute's build, and the table it returns is a driver-built
    * LocalRelation holding the collected rows. Consumers of the cached
    * frame re-read those rows; none re-runs the seed pick.
    */
  private def ivfCentsCached(corpus: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame = {
    val proj = corpus.select(col(idCol), col(vecCol))
    SessionStageCache.getOrCompute(proj, s"ivfCents:$idCol:$vecCol:$nCells") {
      ivfCentroidTable(proj, idCol, vecCol, nCells)
    }
  }

  private def ivfAssignCached(corpus: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame = {
    val proj = corpus.select(col(idCol), col(vecCol))
    SessionStageCache.getOrCompute(proj, s"ivfAssign:$idCol:$vecCol:$nCells") {
      ivfAssignWithCents(proj, idCol, vecCol, ivfCentsCached(corpus, idCol, vecCol, nCells))
        .localCheckpoint(true)
    }
  }

  /** The IVF index's cell-assignment pass alone — (corpus_id, cv, cell)
    * under the same frozen md5-seed geometry as ivfTopK, for audits that
    * look at the index rather than query it (B197's balance report).
    */
  def ivfAssign(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      seedSource: Option[DataFrame] = None
  ): DataFrame =
    if (seedSource.isEmpty) ivfAssignCached(corpus, idCol, vecCol, nCells)
    else
      ivfAssignWithCents(corpus, idCol, vecCol,
        ivfCentroidTable(seedSource.get, idCol, vecCol, nCells))

  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int,
      nProbe: Int,
      // incremental refresh: pass the STANDING corpus here so centroids
      // stay those of the existing index while `corpus` includes fresh
      // rows assigned into the same cells (no re-clustering on update)
      seedSource: Option[DataFrame] = None,
      // true (default) broadcasts the probe-expanded query side — right
      // when queries are a bounded set. Pass false when the query batch
      // grows with the corpus (incremental refresh): a corpus-fraction
      // broadcast is the unbounded-build-side bug, and the cell-keyed
      // sort-merge join partitions fine once nCells scales with the
      // corpus. The merge is hinted: the assignment's size estimate is
      // the scan's, so a small corpus would otherwise be broadcast.
      broadcastQueries: Boolean = true
  ): DataFrame = {
    val (cents, assigned) = ivfIndex(corpus, idCol, vecCol, nCells, seedSource)
    probeTopK(assigned, probeCells(queries, idCol, vecCol, cents, nProbe), k, broadcastQueries)
  }

  /** The IVF index, (centroid table, corpus cell assignment): the
    * session-shared stages under the default geometry (r16), or a private
    * pair seeded from `seedSource`.
    */
  private def ivfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      seedSource: Option[DataFrame]
  ): (DataFrame, DataFrame) = seedSource match {
    case None => (ivfCentsCached(corpus, idCol, vecCol, nCells), ivfAssignCached(corpus, idCol, vecCol, nCells))
    case Some(src) =>
      val cents = ivfCentroidTable(src, idCol, vecCol, nCells)
      (cents, ivfAssignWithCents(corpus, idCol, vecCol, cents))
  }

  /** Per query, its `maxProbe` nearest cells under the assignment's
    * distance, ranked (distance, cell id) as `prn`: (query_id, qv, cell,
    * prn). The window shuffles queries × nCells rows keyed by query —
    * linear in both.
    */
  private def probeCells(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cents: DataFrame,
      maxProbe: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = dot(col("qv"), col("qv")) - lit(2.0) * dot(col("qv"), col("ce")) + col("ce2")
    queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("prn", row_number().over(Window.partitionBy(col("query_id")).orderBy(d.asc, col("cell").asc)))
      .filter(col("prn") <= maxProbe)
      .select(col("query_id"), col("qv"), col("cell"), col("prn"))
  }

  /** Per query, the top k corpus rows of its probed cells (`rankTopK`). */
  private def probeTopK(assigned: DataFrame, probes: DataFrame, k: Int, broadcastQueries: Boolean): DataFrame =
    rankTopK(
      assigned.join(if (broadcastQueries) broadcast(probes) else probes.hint("merge"), Seq("cell"))
        .filter(col("corpus_id") =!= col("query_id"))
        .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6)),
      k)

  /** `ivfTopK` at SEVERAL nProbe operating points with the centroid
    * table, the corpus cell assignment, and the probe ranking computed
    * ONCE (r15): the B185 sweep previously called ivfTopK per level, so
    * the corpus × nCells assignment argmin — the expensive pass — ran
    * once per operating point. Probe sets at increasing nProbe are
    * PREFIXES of one (distance, cell)-ranked list (exactly the oracle's
    * probecells CTE with `WHERE rn <= np`), so one ranking serves every
    * level, and the assignment is eagerly materialized — which is what a
    * real IVF index is: the assignment IS the index, built once and
    * queried at many operating points. Per level the output is
    * bit-identical to `ivfTopK(..., nProbe = np)`.
    */
  def ivfTopKSweep(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int,
      nProbes: Seq[Int],
      seedSource: Option[DataFrame] = None
  ): DataFrame = {
    // the default geometry's assignment is already a checkpointed
    // session-shared stage; a private one is materialized here
    val (cents, index) = ivfIndex(corpus, idCol, vecCol, nCells, seedSource)
    val assigned = if (seedSource.isEmpty) index else index.localCheckpoint(true)
    val probes   = probeCells(queries, idCol, vecCol, cents, nProbes.max)
    nProbes.map { np =>
      probeTopK(assigned, probes.filter(col("prn") <= np), k, broadcastQueries = true)
        .select(lit(np.toLong).as("n_probe"), col("*"))
    }.reduce(_ unionByName _)
  }

  /** Deterministic ±1 hyperplane matrix — the same md5-derived recipe as
    * the IVF seed pick: plane j, component i is +1 iff the first 8 md5 hex
    * chars of "rp:j,i" parse to an even long. Any engine can rebuild the
    * identical planes from this sentence alone.
    */
  def signPlanes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (j, i) =>
      val md  = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"rp:$j,$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.take(8), 16) % 2 == 0) 1.0 else -1.0
    }

  /** Max bits per band the sign-plane pool reserves. Plane indexing is
    * `band * MaxBitsPerBand + bit` so widening `bitsPerBand` EXTENDS a
    * band's bit pattern without moving any other band's planes — the
    * 8-bit geometry is a strict prefix of the 12-bit one.
    */
  val MaxBitsPerBand = 16

  /** Bucket-width auto-tuning for the sign-bucket LSH family: bits per
    * band = ceil(log2(corpus / target per-bucket density)), clamped to
    * [8, MaxBitsPerBand]. A FIXED bucket count is the classic LSH scale
    * bug — with 2^8 buckets, per-bucket density grows linearly with the
    * corpus and within-bucket candidate PAIRS grow quadratically (the
    * sf10 probe measured exactly this: 200 k vectors → ~n²/2^8 pairs →
    * 68 GB of shuffle spill). Holding density ~constant keeps candidate
    * generation linear; per-band recall declines as bits grow (p^bits),
    * which is the standard LSH trade — add bands to recover recall at
    * scale. At ≤ 2^14 vectors this returns 8, so small-corpus geometry
    * (and every existing oracle) is unchanged.
    */
  def bitsFor(n: Long, targetDensity: Long = 64L): Int = {
    val raw = math.ceil(math.log(math.max(n, 1L).toDouble / targetDensity) / math.log(2.0)).toInt
    math.min(MaxBitsPerBand, math.max(8, raw))
  }

  /** Random-hyperplane LSH near-neighbor pairs (SimHash for vectors,
    * Charikar-style): each vector's sign pattern against `bands*bitsPerBand`
    * fixed hyperplanes is split into bands; two vectors sharing ANY band's
    * full bit pattern become a candidate pair; candidates are verified
    * with exact cosine >= tau.
    *
    * Scale shape: `bands` rows per vector shuffle on (band, bucket) — the
    * identical LSH-banding geometry as MinHash dedup, never all-pairs.
    * The cosine angle between two vectors bounds the per-plane sign-match
    * probability (1 - θ/π), so banding concentrates true near-neighbors
    * while the verify step removes the false positives exactly. Callers
    * on growing corpora must pass `bitsPerBand = bitsFor(corpus count)`
    * so per-bucket density (hence candidate-pair count per vector) stays
    * bounded as the corpus grows.
    *
    * Returns (id_a, id_b, cosine) with id_a < id_b, cosine >= tau.
    */
  def randomHyperplanePairs(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      bands: Int = 2,
      bitsPerBand: Int = 8,
      dim: Int = 64
  ): DataFrame = {
    require(bitsPerBand <= MaxBitsPerBand, s"bitsPerBand $bitsPerBand > $MaxBitsPerBand")
    // Session-cached up to (but excluding) the tau filter (r14 diet): six
    // queries (sim_rp_lsh at tau 0.3; hard negatives, NN-descent, and the
    // three kNN-graph consumers at tau 0.0) run the IDENTICAL
    // banding + candidate + exact-cosine stage over the same cloud — the
    // standing LSH index + verified-pair table a deployment materializes
    // once per embedding snapshot. The pinned table is candidate-bounded
    // (the banding's output, never all-pairs); each caller's tau is a
    // post-filter on it. Plan-keyed via sameResult + the full geometry.
    SessionStageCache.getOrCompute(
      embeddings, s"rpPairs:$idCol:$vecCol:$bands:$bitsPerBand:$dim") {
      rpPairsUnfiltered(embeddings, idCol, vecCol, bands, bitsPerBand, dim)
        .localCheckpoint(true)
    }.filter(col("cosine") >= tau)
  }

  // private[graft]: PlanAuditSpec audits the BUILD plan here — the public
  // entry returns the session-cached checkpoint (a Scan ExistingRDD leaf
  // with no banding shape left to audit)
  private[graft] def rpPairsUnfiltered(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      bands: Int,
      bitsPerBand: Int,
      dim: Int
  ): DataFrame = {
    val planes = signPlanes(bands * MaxBitsPerBand, dim)
    val base = spreadSmallInput(embeddings).select(
      col(idCol).as("vec_id"),
      asDouble(col(vecCol)).as("v")
    )
    val banded = base.select(
      col("vec_id"), col("v"),
      posexplode(array(signBandMasks(planes, bands, bitsPerBand): _*)).as(Seq("band", "bucket")))
    val candidates = banded.as("x")
      .join(
        banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id")
      )
      // a pair colliding in several bands must verify once, not per band
      .select(
        col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        col("x.v").as("va"), col("y.v").as("vb")
      )
      .dropDuplicates("id_a", "id_b")
    candidates
      .select(
        col("id_a"),
        col("id_b"),
        round(cosine(col("va"), col("vb")), 6).as("cosine")
      )
  }

  /** Each band's sign pattern of column `v` against its planes, bit-packed
    * into one long per band: Σ 2^b · [v · plane_b > 0].
    */
  private def signBandMasks(planes: Array[Array[Double]], bands: Int, bitsPerBand: Int): Seq[Column] =
    (0 until bands).map { bd =>
      (0 until bitsPerBand).map { b =>
        val plane = planes(bd * MaxBitsPerBand + b)
        when(dot(col("v"), array(plane.map(lit).toIndexedSeq: _*)) > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }

  /** B287 — sign-LSH index-quality calibration, the vector-space twin of
    * Dedup.minhashCalibration: for every band-colliding candidate pair,
    * the number of AGREEING sign bits across all `2·bitsPerBand` planes
    * (popcount of the XNOR'd packed band masks) against the exact cosine,
    * averaged per agreement level. Charikar's theorem says
    * P[signs agree] = 1 − θ/π, so the per-level mean cosine should track
    * cos(π·(1 − m/2b)) — this measures whether it DOES on this cloud,
    * before anyone trusts the banding's recall.
    *
    * Scale shape (r13 — its own sf100 probe caught the previous form
    * dying): banding rows carry ONLY (vec_id, band, bucket), so the
    * candidate self-join and the md5-ranked ≤50 k-pair sample
    * (Dedup.sampleCandidates — the identical r12 discipline that bounded
    * the minhash calibration family) move 16-byte id pairs, never
    * vectors. The earlier form carried both full 64-dim vectors + masks
    * through the candidate dropDuplicates shuffle: at 2 M vectors
    * (~200 M banded candidates × ~1 KB) it spilled past the disk and
    * died — the diagnostic's curve converges long before that, so a
    * fixed deterministic sample is the correct cost class (O(k) verify
    * after a linear banding pass). Vectors and masks join back to the
    * sampled pairs' members only (Dedup.attachMembers). Cosines are
    * round-6 snapped then scaled to exact integer micros so the
    * per-level mean is summation-order-free; the oracle replays the
    * identical sample (ORDER BY md5(id:id) LIMIT k, rank before
    * distinct — boundary ties are bit-identical rows).
    */
  def rpLshCalibration(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      bitsPerBand: Int,
      bands: Int = 2,
      dim: Int = 64
  ): DataFrame = {
    require(bitsPerBand <= MaxBitsPerBand, s"bitsPerBand $bitsPerBand > $MaxBitsPerBand")
    // same plane geometry as randomHyperplanePairs: dim must match the
    // embedding column's length or the sign projections are meaningless
    val planes = signPlanes(bands * MaxBitsPerBand, dim)
    val base = spreadSmallInput(embeddings).select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    val masks  = (0 until bands).map(bd => s"b$bd")
    val packed = base.select(col("vec_id") +: col("v") +:
      signBandMasks(planes, bands, bitsPerBand).zip(masks).map { case (m, b) => m.as(b) }: _*).persist()
    val banded = packed.select(
      col("vec_id"), posexplode(array(masks.map(col): _*)).as(Seq("band", "bucket")))
    val candidates = Dedup.sampleCandidates(Dedup.bandCollisions(banded, "vec_id", "bucket"))
    val perPair = Dedup.attachMembers(candidates, packed, "vec_id", "v" +: masks)
      .select(
        (lit(bands.toLong * bitsPerBand) -
          masks.map(m => expr(s"CAST(bit_count(${m}_a ^ ${m}_b) AS BIGINT)")).reduce(_ + _))
          .as("n_match"),
        round(round(cosine(col("v_a"), col("v_b")), 6) * lit(1000000), 0)
          .cast("long").as("cos_micro"))
      .localCheckpoint(true)
    packed.unpersist()
    perPair
      .groupBy(col("n_match"))
      .agg(
        count(lit(1)).as("n_pairs"),
        expr("CAST(sum(cos_micro) div count(1) AS BIGINT)").as("avg_cosine_micro"))
  }

  /** Approximate k-NN graph over an embedding column: RP-LSH banded
    * candidate pairs (randomHyperplanePairs) symmetrized in a single pass
    * (explode to both edge directions — no self-union, so candidate
    * generation runs once), then each node keeps its k best neighbors via
    * the bounded-heap TopKBy aggregate: k·nodes rows cross the final
    * shuffle, never the full candidate edge set. Rank order is
    * (cosine desc, neighbor id asc) — deterministic under score ties.
    *
    * Returns (vec_id, nbr_rank, nbr_id, cosine), rank 1 = best neighbor.
    */
  def knnGraph(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      tau: Double,
      bitsPerBand: Int = 8
  ): DataFrame =
    randomHyperplanePairs(embeddings, idCol, vecCol, tau, bitsPerBand = bitsPerBand)
      .select(
        explode(
          array(
            struct(col("id_a").as("src"), col("id_b").as("nbr"), col("cosine")),
            struct(col("id_b").as("src"), col("id_a").as("nbr"), col("cosine"))
          )
        ).as("e")
      )
      .select(col("e.src").as("src"), col("e.nbr").as("nbr"), col("e.cosine").as("cosine"))
      .groupBy("src")
      .agg(graft.functions.TopKBy.topKByLong(col("cosine"), col("nbr"), k).as("top"))
      .select(col("src").as("vec_id"), posexplode(col("top")))
      .select(
        col("vec_id"),
        (col("pos") + 1).cast("long").as("nbr_rank"),
        col("col.id").as("nbr_id"),
        col("col.score").as("cosine")
      )

  /** Deterministic Lloyd's k-means: `iters` refinement rounds over the
    * ivfTopK seed recipe (cluster c = the row with the c-th smallest
    * (md5(id), id)). Each round assigns every vector to its nearest
    * centroid — a codegen'd argmin over literal centroid arrays, the
    * argmin ivfTopK's NearestCell kernel computes — then recomputes centroids as the
    * 6-dp-rounded dim-wise mean. The rounding pins cross-engine parity
    * (double sums associate differently per engine; 1e-6 dwarfs the
    * ~1e-14 noise) and makes every intermediate centroid replayable from
    * this docstring alone, the same contract as ivfTopK's frozen seeds.
    *
    * Scale shape: per round, one codegen scan assigns clusters (distances
    * compare as `round(d2, 6)` with cluster-id tie-break — no shuffle),
    * one posexplode + (cluster, dim) hash-agg (map-side combined)
    * reduces the corpus to a k×dim model, and only that model — 512
    * doubles at k=8, dim=64 — returns to the driver to seed the next
    * round's literals. The corpus itself never shuffles and is scanned
    * 2·iters times; persist the projected (id, vec) columns once if the
    * scan dominates.
    *
    * Returns (vec_id, cluster, dist): final assignment plus
    * round(sqrt(round(d2, 6)), 6) distance.
    */
  def kmeansAssign(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int
  ): DataFrame = {
    // r16: session-shared — three queries (B50 clusters, B176 balanced
    // sampling, B312 purity) run the identical seeded 2-round assignment;
    // the seed/centroid collect jobs and both assignment passes now run
    // once per session, and consumers read the (vec_id, cluster, dist)
    // checkpoint (narrow, corpus-row-sized — the landed cluster map a
    // real pipeline materializes once).
    val proj = embeddings.select(col(idCol), col(vecCol))
    SessionStageCache.getOrCompute(proj, s"kmeansAssign:$idCol:$vecCol:$k:$iters") {
      kmeansAssignBuild(proj, idCol, vecCol, k, iters).localCheckpoint(true)
    }
  }

  private[graft] def kmeansAssignBuild(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int
  ): DataFrame = {
    val e = spreadSmallInput(embeddings)
      .select(col(idCol).cast("long").as("vec_id"), asDouble(col(vecCol)).as("v"))

    def assign(cents: Seq[(Int, Array[Double])]): DataFrame = {
      val structs = cents.map { case (cid, c) =>
        val cl = array(c.map(lit): _*)
        val d2 = round(
          dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), cl) + lit(c.map(x => x * x).sum),
          6
        )
        struct(d2.as("d2"), lit(cid).as("cluster"))
      }
      e.withColumn("best", least(structs: _*))
        .select(
          col("vec_id"),
          col("v"),
          col("best.cluster").as("cluster"),
          col("best.d2").as("d2")
        )
    }

    val seeds: Seq[(Int, Array[Double])] = e
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h").asc, col("vec_id").asc)
      .limit(k)
      .select(col("v"))
      .collect()
      .toSeq
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toArray) }

    var assigned = assign(seeds)
    for (_ <- 2 to iters) {
      val cents = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy("cluster", "dim")
        .agg(round(avg("val"), 6).as("c"))
        .collect()
        .groupBy(_.getInt(0))
        .toSeq
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
        }
        .sortBy(_._1)
      assigned = assign(cents)
    }
    assigned.select(
      col("vec_id"),
      col("cluster").cast("long").as("cluster"),
      round(sqrt(col("d2")), 6).as("dist")
    )
  }
}
