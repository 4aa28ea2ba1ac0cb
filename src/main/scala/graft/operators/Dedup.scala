package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.operators.Parallelism.spreadSmallInput
import graft.operators.TextAnalysis._

/** Deduplication operators for training-data pipelines (SURVEY.md §2 B1–B3):
  * exact, latest-wins CDC compaction, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison by
  * construction — exact dedup is one hash-shuffle; MinHash/SimHash shuffle
  * only (doc, band) pairs and compare within buckets; blocked Jaccard
  * compares within caller-chosen blocks. At 100 TB the expensive part is
  * the candidate-pair explosion, which banding bounds to near-duplicates.
  */
object Dedup {

  /** Session-scoped materialized pair-table cache (r13 verdict task 2).
    *
    * Fourteen audit/curation queries consume the SAME B3 banded-LSH
    * verified-pair table over the documents corpus (chain audit, mixture
    * impact, canonical pick, lang-pair matrix, yield/threshold tables,
    * leakage-safe splits, cluster diagnostics, …). A real pipeline
    * materializes that pair table once per corpus snapshot and fans the
    * audits out over it; re-deriving it per query made the dedup family
    * ~26 queries / ~53 s of the bench suite. `SessionStageCache` (shared
    * with GraphOps' edge list) memoizes the eagerly-checkpointed stage
    * per (session, input plan `sameResult`, params).
    */
  private val PairCache = SessionStageCache

  /** B1 — exact dedup on arbitrary key columns: keeps the row with the
    * minimal tie-break per key. One hash aggregation (map-side partial
    * combine), no window needed.
    */
  def exact(df: DataFrame, keyCols: Seq[String], tieBreak: String): DataFrame = {
    // min_by over the whole row: one hash aggregation with map-side partial
    // combine — at scale this beats the window row_number form, which must
    // shuffle + sort every full row before discarding the losers.
    val cols = df.columns
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(struct(cols.map(col): _*), col(tieBreak)).as("__r"))
      .select(cols.map(c => col(s"__r.$c")): _*)
  }

  /** B2 — latest-wins compaction: per key keep the row with max order
    * columns (e.g. version/ts, then offset). Generalizes the reference's
    * `@Version` counter semantics (SURVEY.md §1.2).
    */
  def latestWins(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    // max_by with a struct ordering key (lexicographic) — same single
    // aggregation shape as `exact`; ties must be broken by a unique final
    // order column, as in the reference's version counter + offset.
    val cols = df.columns
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), struct(orderCols: _*)).as("__r"))
      .select(cols.map(c => col(s"__r.$c")): _*)
  }

  /** Per-document MinHash signature: array of `Hashing.Perms.length` min
    * values of (a*h32(shingle)+b) mod P. Pure expression work — fuses into
    * the scan stage; the only shuffle is whatever the caller does next.
    */
  def minhashSignature(shingles: Column): Column =
    graft.functions.VectorExpressions.minhashSig(
      transform(shingles, s => Hashing.h32(s)),
      Hashing.Perms.map(_._1),
      Hashing.Perms.map(_._2),
      Hashing.MinhashP
    )

  /** The materialized "signature table" a real pipeline checkpoints:
    * (doc_id, shingle_set, set_size, sig) in one scan-fused pass.
    */
  private def signatureTable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int
  ): DataFrame =
    spreadSmallInput(docs)
      .select(col(idCol).as("doc_id"), wordShingles(col(textCol), shingleWords).as("shingles"))
      .withColumn("shingle_set", array_distinct(col("shingles")))
      .withColumn("set_size", size(col("shingle_set")).cast("long"))
      .withColumn("sig", minhashSignature(col("shingles")))
      .drop("shingles")

  private val Bands = 4

  /** (doc_id, band, band_hash) — 4 rows per document; this IS the LSH
    * index a persisted incremental pipeline keeps around.
    */
  private def bandRows(sigs: DataFrame): DataFrame = {
    val rowsPerBand = Hashing.Perms.length / Bands
    sigs.select(
      col("doc_id"),
      posexplode(
        array((0 until Bands).map { b =>
          Hashing.h32(concat_ws(":", (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*))
        }: _*)
      ).as(Seq("band", "band_hash"))
    )
  }

  /** Exact Jaccard from an intersection count and the two distinct-set
    * sizes, rounded to 6 places — the one formula every Jaccard verifier
    * here emits, and the one the oracles replay.
    */
  private def jaccard(nInter: Column, za: Column, zb: Column): Column =
    round(nInter.cast("double") / (za + zb - nInter).cast("double"), 6)

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against a
    * signature table covering every id the candidates mention: each pair
    * gets both members' shingle sets (attachMembers) and counts their
    * overlap as `size(array_intersect(...))` — the sets are already
    * distinct (signatureTable), so that is |A ∩ B|. Pairs with no overlap
    * drop out before the division: they are never near-duplicates, and a
    * NULL-text member (a NULL shingle set) drops out with them.
    */
  private def verifyPairs(candidates: DataFrame, sigs: DataFrame, tau: Double): DataFrame =
    attachMembers(candidates, sigs, "doc_id", Seq("shingle_set", "set_size"))
      .withColumn("n_inter", size(array_intersect(col("shingle_set_a"), col("shingle_set_b"))).cast("long"))
      .filter(col("n_inter") > 0)
      .select(col("id_a"), col("id_b"), jaccard(col("n_inter"), col("set_size_a"), col("set_size_b")).as("jaccard"))
      .filter(col("jaccard") >= tau)

  /** B103 — LSH index-quality calibration: over a fixed-size md5-ranked
    * sample of band-colliding candidate pairs (see CalibrationSampleK),
    * the ESTIMATED similarity (matching signature
    * coordinates out of 16) against the EXACT Jaccard, averaged per
    * estimate level — the calibration curve that tells an operator
    * whether the banding config's recall/precision trade matches theory
    * (E[matches]/16 ≈ J) before trusting it on a corpus. Exact values
    * are integer ppm (sum div count), engine-replayable.
    *
    * Same shuffle budget as minhashPairs: the band join generates the
    * candidates, signature comparison is an array zip on the joined
    * pair rows, and exact Jaccard touches only the SAMPLED pairs'
    * members (attachMembers' semi-join prune). Output
    * is ≤ 17 rows; cost is O(k), not O(candidates).
    */
  /** Calibration-family candidate budget (r12 brief #3). The calibration
    * queries are DIAGNOSTIC tables, not dedup actions: re-verifying EVERY
    * banded candidate pair made their cost track the fixture's candidate
    * densification (~47 s at sf10, ~12×/decade) while the curve they
    * estimate converges long before that. A fixed-size, md5-RANKED sample
    * (ORDER BY md5(id_a:id_b) LIMIT k — a pure function of the pair ids,
    * so the DuckDB oracle replays the identical subset bit-for-bit) caps
    * verification at O(k) regardless of corpus duplication; the action
    * pipeline (minhashPairs/verifyPairs) stays exact.
    */
  private val CalibrationSampleK = 50000

  // private[operators]: Similarity.rpLshCalibration shares the identical
  // md5-ranked bounded-sample discipline (same K, same oracle idiom)
  private[operators] def sampleCandidates(candidates: DataFrame): DataFrame =
    candidates
      // rank BEFORE dedup: callers hand in the raw band self-join output
      // (a pair colliding in 2+ bands appears 2+ times), because a full
      // pre-sample distinct() would shuffle EVERY candidate pair — the
      // sf10 probe measured it as the remaining cost after sampling
      // landed. Duplicates are bit-identical rows with identical rank
      // keys, so TakeOrdered keeps a deterministic multiset and the
      // post-limit distinct dedupes ≤k rows instead of millions. The
      // oracle replays the same order (ORDER BY md5 LIMIT k, then
      // DISTINCT): md5 ties across DIFFERENT pairs cannot happen, so the
      // k-boundary can only fall inside a group of identical rows —
      // same set either way.
      .orderBy(md5(concat_ws(":", col("id_a"), col("id_b"))), col("id_a"), col("id_b"))
      .limit(CalibrationSampleK)
      .distinct()
      // pair-list-sized; materialized once because attachMembers' member
      // count, prune and both side joins would each replay the band
      // self-join + global top-k otherwise.
      // NOTE: localCheckpoint(true) is EAGER — merely constructing a
      // calibration DataFrame runs the band self-join + global top-k at
      // build time, and the truncated lineage is backed by
      // non-replicated executor-local blocks (unrecoverable on executor
      // loss). That is the deliberate trade for this diagnostic family:
      // the sample is consumed immediately by its only caller, and a
      // lost executor in a real cluster re-runs the whole (cheap,
      // deterministic) query rather than paying replicated persist on
      // every build. Library callers wanting lazy construction should
      // persist()+count() instead.
      .localCheckpoint(true)

  /** The band-collision self-join of an LSH band table (`id`, band,
    * `hash`): every (id_a, id_b) with id_a < id_b whose rows agree on some
    * band's hash — once PER agreeing band, so callers dedupe
    * (`distinct()`, or sampleCandidates' post-limit distinct).
    */
  private[operators] def bandCollisions(banded: DataFrame, id: String, hash: String): DataFrame =
    banded.as("x")
      .join(
        banded.as("y"),
        col("x.band") === col("y.band") && col(s"x.$hash") === col(s"y.$hash") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("id_a"), col(s"y.$id").as("id_b"))

  /** Above this many distinct member ids the broadcast fallback kicks in:
    * 20M longs ≈ 160 MB raw (~0.5 GB as a HashedRelation) — past that a
    * forced broadcast risks the driver/executor broadcast ceiling, and on
    * a corpus THAT duplicated the shuffle semi-join is the honest plan.
    */
  private val MaxBroadcastMembers = 20L * 1000 * 1000

  /** Attach both members' rows to each candidate (id_a, id_b) pair: the
    * member table (keyed by `id`) is semi-join-pruned to the ids the
    * candidates mention, then joined once per side, carrying each `carry`
    * column as `<c>_a` / `<c>_b`. Candidate members are a small fraction
    * of the corpus (the sf10 probe measured ~10 %), so the wide member
    * rows never move in full.
    *
    * `candidates` must be materialized (every caller hands in a
    * localCheckpoint()ed pair list): the member count, the prune and both
    * side joins each read it.
    */
  private[operators] def attachMembers(
      candidates: DataFrame,
      members: DataFrame,
      id: String,
      carry: Seq[String]
  ): DataFrame = {
    val ids = candidates.select(explode(array(col("id_a"), col("id_b"))).as(id)).distinct()
    // broadcast the (pair-list-sized) id set: a shuffle semi-join would
    // move the WIDE member rows (shingle-set arrays, vectors) through an
    // exchange just to drop most of them — the pruning must not cost a
    // member shuffle. But the id set is DATA-DEPENDENT (a pathologically
    // duplicated corpus makes it corpus-sized), so gate the forced
    // broadcast on a count — cheap, because the candidates are
    // materialized — and fall back to a shuffle semi-join (AQE may still
    // choose broadcast if it fits) above the cap.
    val idSide = if (ids.count() <= MaxBroadcastMembers) broadcast(ids) else ids
    val pruned = members.join(idSide, Seq(id), "left_semi")
    def side(s: String): DataFrame =
      pruned.select(col(id).as(s"id_$s") +: carry.map(c => col(c).as(s"${c}_$s")): _*)
    candidates.join(side("a"), "id_a").join(side("b"), "id_b")
  }

  /** Shared candidate/verify stage for the B103/B265 calibration family
    * (r12 verdict: the two queries were plan-identical within 2% and
    * differed only in emitted columns — two full banding+verify passes
    * for one diagnostic family). ONE signature scan, ONE band self-join,
    * ONE md5-ranked sample, ONE member join (attachMembers) producing
    * every per-pair statistic either table needs: full-signature
    * agreement, 1-bit (parity) agreement, and exact Jaccard in integer
    * ppm by `array_intersect` on the two (already-distinct) shingle sets —
    * the same kernel as verifyPairs, except that zero-overlap pairs stay
    * in: they are part of the curve. Output is pair-sized, checkpointed
    * once; both public tables are ≤17-row group-bys over it.
    */
  private def calibrationPairStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int
  ): DataFrame = PairCache.getOrCompute(docs, s"calibrationPairStats:$idCol:$textCol:$shingleWords") {
    val sigs       = signatureTable(docs, idCol, textCol, shingleWords).persist()
    val candidates = sampleCandidates(bandCollisions(bandRows(sigs), "doc_id", "band_hash"))
    val perPair = attachMembers(candidates, sigs, "doc_id", Seq("sig", "shingle_set", "set_size"))
      .select(
        expr("CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b)) AS BIGINT)")
          .as("n_match"),
        expr("CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x % 2 = y % 2), b -> b)) AS BIGINT)")
          .as("n_match_1bit"),
        expr("CAST(size(array_intersect(shingle_set_a, shingle_set_b)) AS BIGINT)").as("n_inter"),
        col("set_size_a").as("za"), col("set_size_b").as("zb"))
      .select(
        col("n_match"),
        col("n_match_1bit"),
        expr("CAST(n_inter * 1000000 div (za + zb - n_inter) AS BIGINT)").as("jac_ppm"))
      .localCheckpoint(true)
    sigs.unpersist()
    perPair
  }

  def minhashCalibration(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int
  ): DataFrame =
    calibrationPairStats(docs, idCol, textCol, shingleWords)
      .groupBy("n_match")
      .agg(
        count(lit(1)).as("n_pairs"),
        expr("CAST(sum(jac_ppm) div count(1) AS BIGINT)").as("avg_jaccard_ppm")
      )

  /** B265 — b-bit MinHash (b = 1) calibration against the full 32-bit
    * signatures AND exact Jaccard, on the SAME banded candidate pairs as
    * `minhashCalibration`. Li & König's estimator: a 1-bit minhash (the
    * value's parity) matches with probability (1+J)/2, so Ĵ₁ =
    * max(2·m̂ − 1, 0) — 32× less signature storage for roughly 2× the
    * variance at high J. Output per full-signature agreement level
    * (n_match ∈ 0..16): pair count, the full estimator n_match/16, the
    * mean 1-bit estimate, and the mean exact Jaccard — the table that
    * says what the 32× compression costs on THIS corpus.
    *
    * Scale shape: identical to `minhashCalibration` (the same md5-ranked
    * candidate sample, never all-pairs; per-pair work is 16-element
    * array arithmetic); output is 17-row bounded, cost O(k).
    */
  def bBitCalibration(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int
  ): DataFrame =
    calibrationPairStats(docs, idCol, textCol, shingleWords)
      .select(
        col("n_match"),
        expr("greatest(2 * n_match_1bit - 16, 0L) * 1000000 div 16").as("est_1bit_ppm"),
        col("jac_ppm"))
      .groupBy(col("n_match"))
      .agg(
        count(lit(1)).as("n_pairs"),
        expr("CAST(sum(est_1bit_ppm) div count(1) AS BIGINT)").as("avg_est_1bit_ppm"),
        expr("CAST(sum(jac_ppm) div count(1) AS BIGINT)").as("avg_jaccard_ppm"))
      .withColumn("est_full_ppm", expr("n_match * 1000000 div 16"))

  /** B3 — MinHash+LSH near-duplicate pairs.
    *
    * shingle → 16-wide signature → 4 bands of 4 → band-hash bucket join →
    * exact Jaccard verification on the candidate pairs only. Returns
    * (id_a, id_b, jaccard) with id_a < id_b and jaccard >= tau.
    *
    * The band join shuffles (doc, band) — 4 rows per doc — instead of all
    * pairs; exact verification touches only bucket-colliding pairs. That is
    * the standard web-scale dedup shape (cf. Broder's shingling paper).
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int,
      tau: Double
  ): DataFrame = PairCache.getOrCompute(docs, s"minhashPairs:$idCol:$textCol:$shingleWords:$tau") {
    // Persisted because two downstream branches (banding, and the member
    // rows verifyPairs attaches) would otherwise each recompute the shingling.
    val withShingles = signatureTable(docs, idCol, textCol, shingleWords).persist()

    val candidates = bandCollisions(bandRows(withShingles), "doc_id", "band_hash")
      .distinct()
      // pair-list-sized; materialized once because verifyPairs reads it
      // four times (member count, prune, both side joins) — unmaterialized,
      // the band self-join would replay per consumer
      .localCheckpoint(true)

    // materialize the (small) verified-pairs result eagerly so the big
    // signature table can be released here — localCheckpoint storage is
    // ContextCleaner-managed, so repeated calls in one session don't
    // accumulate cached blocks the way a returned persist() handle would
    val out = verifyPairs(candidates, withShingles, tau).localCheckpoint(true)
    withShingles.unpersist()
    out
  }

  /** B3, incremental form — the daily-increment-vs-standing-corpus shape:
    * near-dup pairs INVOLVING the increment only (fresh-vs-corpus and
    * fresh-vs-fresh), never recomputing corpus-vs-corpus. The corpus band
    * table is the persisted LSH index of a standing pipeline (recomputed
    * here from the corpus frame; at 100 TB it is read, and the fresh
    * side's 4 rows/doc are appended after the run). Corpus shingle sets
    * are read ONLY for documents that actually collide with the
    * increment (semi-join pruning) — the property that keeps a small
    * increment cheap against an arbitrarily large corpus.
    *
    * Result is identical to `minhashPairs(corpus ∪ fresh)` restricted to
    * pairs with at least one fresh member (asserted in DedupSpec and by
    * the DuckDB oracle).
    */
  def minhashPairsIncremental(
      corpus: DataFrame,
      fresh: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int,
      tau: Double
  ): DataFrame = {
    val cS = signatureTable(corpus, idCol, textCol, shingleWords).persist()
    val fS = signatureTable(fresh, idCol, textCol, shingleWords).persist()
    val cB = bandRows(cS)
    val fB = bandRows(fS)

    val freshVsCorpus = fB.as("x")
      .join(cB.as("y"), col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b")
      )
    val freshVsFresh = bandCollisions(fB, "doc_id", "band_hash")
    // candidates feed several consumers (the id set for pruning and the
    // member joins) — materialize the small pair list once instead of
    // re-running both band joins per consumer
    val candidates = freshVsCorpus.unionByName(freshVsFresh).distinct().localCheckpoint(true)

    // member pruning happens INSIDE verifyPairs (attachMembers' broadcast
    // semi-join on the pair-member ids) — an explicit shuffle semi-join
    // here would move the wide signature rows through an exchange a second
    // time
    val out = verifyPairs(candidates, cS.unionByName(fS), tau).localCheckpoint(true)
    cS.unpersist(); fS.unpersist()
    out
  }

  /** 60-bit SimHash of the token multiset: per bit, sum +-1 votes weighted
    * by token occurrences; bit set where the vote is positive.
    * Implemented as explode + two hash aggregations — linear shuffle of
    * (doc, bit) rows, no pairwise work.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokHash = spreadSmallInput(docs)
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .withColumn("h", Hashing.h60(col("tok")))
    // 60 per-bit vote sums as one hash aggregation over (doc, token) rows —
    // no (doc, token, bit) explosion, one shuffle instead of two, and the
    // bit extraction stays inside whole-stage codegen.
    val voteCols = (0 until 60).map(b => sum(expr(s"(shiftright(h, $b) & 1) * 2 - 1")).as(s"v$b"))
    val votes    = tokHash.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
    val packed = (0 until 60)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col("doc_id"), packed.cast("long").as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, found via
    * 4-chunk pigeonhole banding (15 bits per chunk: distance <=3 implies at
    * least one chunk equal). Returns (id_a, id_b, hamming).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding only guarantees recall for hamming <= 3")
    val sh = simhash(docs, idCol, textCol)
    val chunks = sh.select(
      col("doc_id"),
      col("simhash"),
      posexplode(array((0 until 4).map(i => expr(s"shiftright(simhash, ${i * 15}) & 32767")): _*))
        .as(Seq("chunk_idx", "chunk"))
    )
    chunks.as("x")
      .join(chunks.as("y"), col("x.chunk_idx") === col("y.chunk_idx") && col("x.chunk") === col("y.chunk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("id_a"),
        col("y.doc_id").as("id_b"),
        expr("bit_count(x.simhash ^ y.simhash)").cast("long").as("hamming")
      )
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Blocked exact n-gram Jaccard: all pairs *within a blocking key* (e.g.
    * source or length bucket) — the caller picks a block small enough that
    * O(block²) is acceptable; cross-block pairs are by design not compared.
    */
  def blockedJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      shingleWords: Int,
      tau: Double
  ): DataFrame = {
    // Explode-join form: shuffle on (block, shingle) so a pair costs
    // O(|intersection|) instead of O(|block|² · |set|) array intersections.
    // Pairs with zero overlap never materialize — identical output for any
    // tau > 0. The shingle table is persisted so the self-join's two sides
    // read it instead of re-shingling.
    val base = spreadSmallInput(docs)
      .select(
        col(idCol).as("doc_id"),
        col(blockCol).as("block"),
        array_distinct(wordShingles(col(textCol), shingleWords)).as("shingle_set")
      )
      .withColumn("set_size", size(col("shingle_set")).cast("long"))
    val sets = base
      .select(col("doc_id"), col("block"), col("set_size"), explode(col("shingle_set")).as("shingle"))
      .persist()
    val out = sets.as("x")
      .join(
        sets.as("y"),
        col("x.block") === col("y.block") && col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") < col("y.doc_id")
      )
      .groupBy(
        col("x.doc_id").as("id_a"),
        col("y.doc_id").as("id_b"),
        col("x.set_size").as("sza"),
        col("y.set_size").as("szb")
      )
      .agg(count(lit(1)).as("n_inter"))
      .select(col("id_a"), col("id_b"), jaccard(col("n_inter"), col("sza"), col("szb")).as("jaccard"))
      .filter(col("jaccard") >= tau)
      // same release discipline as minhashPairs: small verified result out,
      // big shingle table freed before returning
      .localCheckpoint(true)
    sets.unpersist()
    out
  }

  /** PPJoin-style prefix-filtered Jaccard pairs — identical contract and
    * output to [[blockedJaccardPairs]], different (smaller) candidate
    * generation: tokens get a global total order by document frequency
    * (rarest first), and each doc emits only its PREFIX — the first
    * |s| − ⌈τ·|s|⌉ + 1 ordered tokens. Two sets with Jaccard ≥ τ must
    * share a prefix token under any common total order (the prefix
    * filtering theorem, Chaudhuri/Xiao et&nbsp;al.), so candidates from the
    * prefix self-join are a superset of true pairs; a length filter
    * (τ·|x| ≤ |y| ≤ |x|/τ) prunes further, and exact verification via
    * array_intersect runs only on surviving candidates.
    *
    * At scale this shuffles |prefix| ≈ (1−τ)·|s| rows per doc instead of
    * the full set — at τ=0.8 that is 5× less candidate-join input, and
    * rare-first ordering makes prefix buckets small (frequent tokens
    * never generate candidates). The trade: two extra aggregations (df
    * table, per-doc re-sort), which dominate on small corpora — measured
    * 3.0 s vs 1.2 s for the explode-join at sf0.1/τ=0.5. This is the
    * high-τ/large-corpus path; [[blockedJaccardPairs]] remains the
    * default.
    */
  def ppJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      shingleWords: Int,
      tau: Double
  ): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    val base = spreadSmallInput(docs)
      .select(
        col(idCol).as("doc_id"),
        col(blockCol).as("block"),
        array_distinct(wordShingles(col(textCol), shingleWords)).as("sset")
      )
      .withColumn("set_size", size(col("sset")).cast("long"))
      .persist() // consumed by prefix generation AND verification

    // global document frequency per token: the shared total order
    val dfTab = base
      .select(explode(col("sset")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))

    // order each doc's tokens rarest-first ((df, tok) — deterministic),
    // then keep the prefix
    val prefixLen = (col("set_size") - ceil(col("set_size") * lit(tau)) + 1).cast("int")
    val prefixes = base
      .select(col("doc_id"), col("block"), col("set_size"), explode(col("sset")).as("tok"))
      .join(dfTab, "tok")
      .groupBy(col("doc_id"), col("block"), col("set_size"))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ordered"))
      .select(
        col("doc_id"),
        col("block"),
        col("set_size"),
        explode(slice(transform(col("ordered"), x => x.getField("tok")), lit(1), prefixLen)).as("tok")
      )

    val candidates = prefixes.as("x")
      .join(
        prefixes.as("y"),
        col("x.block") === col("y.block") && col("x.tok") === col("y.tok") &&
          col("x.doc_id") < col("y.doc_id") &&
          // length filter: Jaccard >= tau bounds the size ratio
          col("y.set_size") * lit(tau) <= col("x.set_size") &&
          col("x.set_size") * lit(tau) <= col("y.set_size")
      )
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()

    val out = candidates
      .join(base.select(col("doc_id"), col("sset").as("sa"), col("set_size").as("sza")), col("id_a") === col("doc_id"))
      .drop("doc_id")
      .join(base.select(col("doc_id"), col("sset").as("sb"), col("set_size").as("szb")), col("id_b") === col("doc_id"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .select(col("id_a"), col("id_b"), jaccard(col("n_inter"), col("sza"), col("szb")).as("jaccard"))
      .filter(col("jaccard") >= tau)
      .localCheckpoint(true)
    base.unpersist()
    out
  }

  /** Connected components over near-dup pairs: assigns every node the
    * minimum doc id reachable through the pair graph — the "collapse
    * candidate pairs into clusters, keep one canonical doc" step that
    * finishes a dedup pipeline.
    *
    * Iterative min-label propagation (the Pregel shape): each round every
    * node takes the min label among itself and its neighbors; converges in
    * O(cluster diameter) rounds. The driver loop is control flow only —
    * per-round work is two shuffles on the edge list, all data stays
    * distributed. Near-dup clusters are shallow in practice (most are
    * pairs/triangles), so rounds stay in single digits; `maxIter` bounds
    * pathological chains.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // localCheckpoint (not persist): each iteration references the previous
    // labels DataFrame twice, so without lineage truncation the logical plan
    // doubles per round and Catalyst analysis time grows exponentially —
    // the classic iterative-algorithm trap. Checkpointed storage is
    // ContextCleaner-managed, so repeated calls don't leak cached blocks.
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint(true)
    var changed  = 1L
    var iter     = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(col("src"))
        .agg(min(col("cluster_id")).as("nmin"))
      // carry the previous label alongside so convergence is checked on the
      // checkpointed result itself — no extra join-back job per round
      val next = labels
        .join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(
          col("id"),
          col("cluster_id").as("prev_cluster_id"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id")
        )
        .localCheckpoint(true)
      changed = next.filter(col("cluster_id") =!= col("prev_cluster_id")).count()
      labels = next.select(col("id"), col("cluster_id"))
      iter += 1
    }
    labels
  }

  /** Embedding-cosine near-dup pairs within a bucket column (label / IVF
    * cell): cosine >= tau. Double-precision sequential dot product so an
    * independent engine reproduces the value.
    */
  def embeddingCosinePairs(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      bucketCol: String,
      tau: Double
  ): DataFrame = {
    val base = spreadSmallInput(embeddings).select(
      col(idCol).as("vec_id"),
      col(bucketCol).as("bucket"),
      transform(col(vecCol), x => x.cast("double")).as("v")
    )
    val joined = base.as("x")
      .join(base.as("y"), col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
    joined
      .select(
        col("x.vec_id").as("id_a"),
        col("y.vec_id").as("id_b"),
        round(Similarity.cosine(col("x.v"), col("y.v")), 6).as("cosine")
      )
      .filter(col("cosine") >= tau)
  }
}
