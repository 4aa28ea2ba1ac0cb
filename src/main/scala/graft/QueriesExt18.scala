package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-7 additions, batch 8: sample-ratio-mismatch guardrail (B91),
  * null-safe join semantics (B92), and id-gap detection (B93) —
  * experiment hygiene, SQL-surface completion, and completeness auditing.
  */
object QueriesExt18 {

  // --------------------------- sample-ratio mismatch check (B91)

  /** Experiment guardrail: before reading any metric, verify the
    * bucketing itself — per-user assignment counts against the expected
    * 50/50 split, with the χ² statistic in milli-units and the standard
    * p<0.05 trip-wire (χ² > 3.841) — the Sample Ratio Mismatch check
    * that invalidates an experiment whose randomization is broken.
    * χ²·1000 = `(n_a−n_b)²·1000 div (n_a+n_b)` — pure integers, exact
    * in both engines (the denominator is the expected-count form for a
    * two-cell equal-split test).
    *
    * Scale shape: one distinct-user hash-agg, a two-row bucket count,
    * and scalar arithmetic — the guardrail costs one scan.
    */
  private def eventsSrmCheck(s: SparkSession, dir: String): DataFrame = {
    val b = events(s, dir)
      .select(col("user_id"))
      .distinct()
      .select((graft.functions.Hashing.h32(col("user_id").cast("string")) % 2).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
    val a  = b.where(col("bucket") === 0).select(col("n").as("n_a"))
    val bb = b.where(col("bucket") === 1).select(col("n").as("n_b"))
    a.crossJoin(bb)
      .select(
        col("n_a"),
        col("n_b"),
        expr("CAST((n_a - n_b) * (n_a - n_b) * 1000 div (n_a + n_b) AS BIGINT)").as("chi2_milli")
      )
      .withColumn("srm_flag", col("chi2_milli") > 3841L)
  }

  private val eventsSrmCheckSql =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |b AS (SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS bucket,
      |    count(*) AS n
      |  FROM u GROUP BY 1),
      |a AS (SELECT n AS n_a FROM b WHERE bucket = 0),
      |c AS (SELECT n AS n_b FROM b WHERE bucket = 1)
      |SELECT n_a, n_b,
      |  CAST((n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) AS BIGINT) AS chi2_milli,
      |  (n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) > 3841 AS srm_flag
      |FROM a CROSS JOIN c""".stripMargin

  // --------------------------- null-safe join semantics (B92)

  /** The `<=>` corner of the join surface: keys staged to NULL on both
    * sides (every 10th order's priority), joined null-safely — NULL keys
    * MATCH each other under `<=>` / IS NOT DISTINCT FROM, where plain
    * `=` drops them — and summarized per join-key class. Pipelines that
    * join on nullable business keys (promo code, referrer, priority) hit
    * exactly this semantic fork; pinning it here keeps the engine's
    * answer deliberate rather than accidental.
    *
    * Scale shape: a null-safe equi-join IS an equi-join for the shuffle
    * planner (null hashes like any key value); the count summary is one
    * hash-agg. The only scale caveat — all-NULL keys land in ONE
    * partition — is the standard skew case B9's salting handles.
    */
  private def qNullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val keyed = orders(s, dir).select(
      col("o_orderkey"),
      when(col("o_orderkey") % 10 === 0, lit(null).cast("string")).otherwise(col("o_orderpriority")).as("k")
    )
    val dim = orders(s, dir)
      .select(
        when(col("o_orderkey") % 10 === 0, lit(null).cast("string")).otherwise(col("o_orderpriority")).as("k")
      )
      .distinct()
      .withColumn("dim_tag", coalesce(col("k"), lit("<null>")))
    keyed
      .join(dim, keyed("k") <=> dim("k"))
      .groupBy(col("dim_tag"))
      .agg(count(lit(1)).as("n_orders"))
  }

  private val qNullSafeJoinSql =
    """WITH keyed AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderpriority END AS k
      |  FROM orders),
      |dim AS (SELECT DISTINCT CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderpriority END AS k
      |  FROM orders)
      |SELECT coalesce(dim.k, '<null>') AS dim_tag, count(*) AS n_orders
      |FROM keyed JOIN dim ON keyed.k IS NOT DISTINCT FROM dim.k
      |GROUP BY 1""".stripMargin

  // --------------------------- id-gap detection (B93)

  /** Completeness audit over an id sequence: runs of MISSING event_ids
    * (gap start, gap end, width) — the "did we drop records?" check an
    * ingest pipeline runs against a supposedly-dense sequence. Gaps are
    * staged by filtering out two id ranges, so both engines replay
    * hole-punching and detection.
    *
    * Scale shape: one lead() window over the ordered id PROJECTION
    * (single column, sorted once); gap rows are emitted only where
    * `lead − id > 1`, so output is gaps-sized. No joins, no spine
    * materialization across the id domain.
    */
  private def qIdGaps(s: SparkSession, dir: String): DataFrame = {
    val ids = events(s, dir)
      .select(col("event_id"))
      .where(!(col("event_id") % 1000).between(150, 199) && !(col("event_id") % 1000).between(700, 704))
    val w = Window.partitionBy(expr("event_id % 1")).orderBy("event_id")
    ids
      .withColumn("nxt", lead(col("event_id"), 1).over(w))
      .where(col("nxt") - col("event_id") > 1)
      .select(
        (col("event_id") + 1).as("gap_start"),
        (col("nxt") - 1).as("gap_end"),
        (col("nxt") - col("event_id") - 1).as("gap_width")
      )
  }

  private val qIdGapsSql =
    """WITH ids AS (SELECT event_id FROM events
      |  WHERE NOT (event_id % 1000 BETWEEN 150 AND 199)
      |    AND NOT (event_id % 1000 BETWEEN 700 AND 704)),
      |l AS (SELECT event_id, lead(event_id) OVER (ORDER BY event_id) AS nxt FROM ids)
      |SELECT event_id + 1 AS gap_start, nxt - 1 AS gap_end, nxt - event_id - 1 AS gap_width
      |FROM l WHERE nxt - event_id > 1""".stripMargin

  // --------------------------- association-rule metrics (B94)

  /** Association-rule mining on top of the co-purchase pairs (B66):
    * support, both directional CONFIDENCEs, and LIFT for every part pair
    * sharing ≥ 3 orders, top-20 by lift — the full
    * "support/confidence/lift" triple a recommender's rule miner emits,
    * not just the raw pair counts. All three metrics are integer ppm
    * (lift's big cross-product in DECIMAL(38,0)), exact in both engines.
    *
    * Scale shape: B66's basket-bounded self-equi-join for pairs, two
    * vocab-sized count lookups joined on the part key, the 1-row basket
    * total broadcast (B27), TakeOrdered top-20 — nothing quadratic in
    * parts, nothing sorted but the 20-row result.
    */
  private def qAssocRules(s: SparkSession, dir: String): DataFrame = {
    // r10: ONE basket aggregation feeds all three inputs — pair support
    // (array-form row-side pair gen), per-part basket counts, and the
    // basket total. The previous form aggregated the fact table twice
    // (distinct + self-join pairs AND a distinct for counts); at sf10
    // the second pass dominated the query (15.2× for 10× data; sharing
    // cut it 76.6 s → 39.0 s). The persist is STATS-GATED: cache
    // materialization costs more than recomputing the basket agg below
    // ~0.5 GB of fact scan (measured +3 s at sf0.1), and saves half the
    // query above it — cache when recompute is expensive, not always.
    val raw       = lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    val scanBytes = raw.queryExecution.optimizedPlan.stats.sizeInBytes
    val baskets0  = operators.GraphOps.basketArrays(raw)
    val baskets   = if (scanBytes >= BigInt(512L * 1024 * 1024)) baskets0.persist() else baskets0
    val nOrders = baskets.agg(count(lit(1)).as("n_baskets"))
    val cA = baskets
      .select(explode(col("pks")).as("pk"))
      .groupBy("pk")
      .agg(count(lit(1)).as("c"))
    // r16: the pair-support table is the session-shared stage (built
    // once for B66/B94/the graph edge list — see
    // GraphOps.copurchasePairCounts); only cA and the basket total still
    // read the basket table here
    // pass the unprojected fact table so the stage key normalizes to the
    // same entry the edge list and B66 use
    val pairs = operators.GraphOps
      .copurchasePairCounts(lineitem(s, dir))
      .select(col("u").as("p1"), col("v").as("p2"), col("n_orders").as("c_ab"))
      .where(col("c_ab") >= 3)
    pairs
      .join(cA.select(col("pk").as("p1"), col("c").as("c_1")), "p1")
      .join(cA.select(col("pk").as("p2"), col("c").as("c_2")), "p2")
      .crossJoin(nOrders)
      .select(
        col("p1"),
        col("p2"),
        col("c_ab").as("support"),
        expr("CAST(c_ab * 1000000 div c_1 AS BIGINT)").as("conf_1_to_2_ppm"),
        expr("CAST(c_ab * 1000000 div c_2 AS BIGINT)").as("conf_2_to_1_ppm"),
        expr(
          """CAST((CAST(c_ab AS DECIMAL(38,0)) * n_baskets * 1000000)
            |  div (CAST(c_1 AS DECIMAL(38,0)) * c_2) AS BIGINT)""".stripMargin
        ).as("lift_ppm")
      )
      .orderBy(desc("lift_ppm"), col("p1"), col("p2"))
      .limit(20)
  }

  private val qAssocRulesSql =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |tot AS (SELECT count(DISTINCT ok) AS n_baskets FROM li),
      |ca AS (SELECT pk, count(*) AS c FROM li GROUP BY 1),
      |pairs AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS c_ab
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT p1, p2, c_ab AS support,
      |  CAST(c_ab * 1000000 // x.c AS BIGINT) AS conf_1_to_2_ppm,
      |  CAST(c_ab * 1000000 // y.c AS BIGINT) AS conf_2_to_1_ppm,
      |  CAST(c_ab * n_baskets * 1000000 // (x.c * y.c) AS BIGINT) AS lift_ppm
      |FROM pairs JOIN ca x ON pairs.p1 = x.pk JOIN ca y ON pairs.p2 = y.pk CROSS JOIN tot
      |ORDER BY lift_ppm DESC, p1, p2 LIMIT 20""".stripMargin

  // --------------------------- FIFO lot allocation (B95)

  /** FIFO matching: each part's demand (lineitems in ship order) is
    * filled from its supply lots (staged, 3 per part) strictly
    * first-in-first-out, emitting (demand row, lot, allocated qty) — the
    * inventory/cost-allocation kernel (FIFO COGS, lot traceability)
    * that looks sequential but is pure relational algebra: map demand
    * and supply onto CUMULATIVE-QUANTITY intervals, and an allocation is
    * simply the OVERLAP of a demand interval with a lot interval.
    * Quantities are exact integers throughout.
    *
    * Scale shape: two per-part cumsum windows (bounded per part) + one
    * equi-join ON THE PART KEY with tiny per-part multiplicity (lots per
    * part), overlap computed scan-side and zero-overlap pairs dropped —
    * no sequential state, no recursion, nothing quadratic; exactly the
    * sweep idea of B89 applied to quantity space.
    */
  private def qFifoAllocation(s: SparkSession, dir: String): DataFrame = {
    val dw = Window.partitionBy("l_partkey").orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val demand = lineitem(s, dir)
      .where(col("l_partkey") % 50 === 0) // audit slice: full FIFO per sampled part
      .select(
        col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity").cast("long").as("qty")
      )
      .withColumn("d_hi", sum("qty").over(dw))
      .withColumn("d_lo", col("d_hi") - col("qty"))
    val lots = demand
      .select(col("l_partkey")).distinct()
      .select(col("l_partkey"), explode(expr("sequence(0, 2)")).as("lot"))
      .withColumn("s_qty", expr("400 + (l_partkey * 7 + lot * 13) % 300"))
    val sw = Window.partitionBy("l_partkey").orderBy("lot")
    val supply = lots
      .withColumn("s_hi", sum("s_qty").over(sw))
      .withColumn("s_lo", col("s_hi") - col("s_qty"))
    demand
      .join(supply, Seq("l_partkey"))
      .select(
        col("l_partkey"), col("l_orderkey"), col("l_linenumber"), col("lot"),
        (least(col("d_hi"), col("s_hi")) - greatest(col("d_lo"), col("s_lo"))).as("alloc_qty")
      )
      .where(col("alloc_qty") > 0)
  }

  private val qFifoAllocationSql =
    """WITH demand AS (SELECT l_partkey, l_orderkey, l_linenumber,
      |    CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey
      |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS BIGINT) AS d_hi
      |  FROM lineitem WHERE l_partkey % 50 = 0),
      |d2 AS (SELECT *, d_hi - qty AS d_lo FROM demand),
      |lots AS (SELECT l_partkey, unnest([0, 1, 2]) AS lot
      |  FROM (SELECT DISTINCT l_partkey FROM d2)),
      |l2 AS (SELECT l_partkey, lot, 400 + (l_partkey * 7 + lot * 13) % 300 AS s_qty FROM lots),
      |supply AS (SELECT *,
      |    CAST(sum(s_qty) OVER (PARTITION BY l_partkey ORDER BY lot) AS BIGINT) AS s_hi
      |  FROM l2),
      |s2 AS (SELECT *, s_hi - s_qty AS s_lo FROM supply)
      |SELECT d2.l_partkey, l_orderkey, l_linenumber, lot,
      |  least(d_hi, s_hi) - greatest(d_lo, s_lo) AS alloc_qty
      |FROM d2 JOIN s2 ON d2.l_partkey = s2.l_partkey
      |WHERE least(d_hi, s_hi) - greatest(d_lo, s_lo) > 0""".stripMargin

  // --------------------------- binary header parsing (B96)

  /** Fixed-layout binary header parsing: each document's payload is
    * staged as `magic(4) ‖ width(4, ASCII decimal) ‖ height(4) ‖ body`
    * (a BMP/RIFF-style layout; every 9th doc gets a corrupt magic), then
    * PARSED BACK from the binary column — magic validated, dimensions
    * extracted as integers, corrupt rows routed with null dims — the
    * header-sniff step a media pipeline runs before ever invoking a
    * codec (B6's decode kernel), over the same opaque-binary plumbing.
    *
    * Scale shape: pure codegen binary substring/decode/cast chain fused
    * into the scan; no UDF, no shuffle — the reject route is a flag
    * column, not a branch (B33's cache-once contract not even needed).
    */
  private def mmHeaderParse(s: SparkSession, dir: String): DataFrame = {
    val magic = when(col("doc_id") % 9 === 0, lit("ZZZZ")).otherwise(lit("IMG0"))
    val payload = encode(
      concat(
        magic,
        lpad((col("doc_id") % 64 + 16).cast("string"), 4, "0"),
        lpad(((col("doc_id") * 7) % 64 + 16).cast("string"), 4, "0"),
        col("text")
      ),
      "UTF-8"
    )
    documents(s, dir)
      .select(col("doc_id"), payload.as("payload"))
      .select(
        col("doc_id"),
        decode(expr("substring(payload, 1, 4)"), "UTF-8").as("magic"),
        length(col("payload")).cast("long").as("n_bytes"),
        decode(expr("substring(payload, 5, 4)"), "UTF-8").as("w_raw"),
        decode(expr("substring(payload, 9, 4)"), "UTF-8").as("h_raw")
      )
      .select(
        col("doc_id"),
        (col("magic") === "IMG0").as("magic_ok"),
        col("n_bytes"),
        when(col("magic") === "IMG0", col("w_raw").cast("long")).as("width"),
        when(col("magic") === "IMG0", col("h_raw").cast("long")).as("height")
      )
  }

  // The oracle parses the pre-encode STRING layout (the header chars are
  // ASCII, so byte offsets and char offsets agree) while Spark parses the
  // BINARY column — independent routes to the same header fields, the
  // B88-style cross-check
  private val mmHeaderParseSql =
    """WITH staged AS (SELECT doc_id,
      |    (CASE WHEN doc_id % 9 = 0 THEN 'ZZZZ' ELSE 'IMG0' END)
      |      || lpad(CAST(doc_id % 64 + 16 AS VARCHAR), 4, '0')
      |      || lpad(CAST((doc_id * 7) % 64 + 16 AS VARCHAR), 4, '0')
      |      || text AS s
      |  FROM documents),
      |p AS (SELECT doc_id,
      |    substr(s, 1, 4) AS magic,
      |    CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
      |    substr(s, 5, 4) AS w_raw,
      |    substr(s, 9, 4) AS h_raw
      |  FROM staged)
      |SELECT doc_id, magic = 'IMG0' AS magic_ok, n_bytes,
      |  CASE WHEN magic = 'IMG0' THEN CAST(w_raw AS BIGINT) END AS width,
      |  CASE WHEN magic = 'IMG0' THEN CAST(h_raw AS BIGINT) END AS height
      |FROM p""".stripMargin

  // --------------------------- triangle counting (B97)

  /** Per-node triangle counts over the staged host link graph (B64's
    * edges, undirected) — the clustering/community-density metric next
    * to PageRank (authority) and connected components (reach). The
    * ordered-wedge method: every triangle is generated exactly once as
    * a < b < c, then credited to all three corners.
    *
    * Scale shape: the canonical distributed formulation — wedge
    * generation is an edge⋈edge EQUI-join on the middle node, closure is
    * a SEMI-join against the edge set, corner credit is an explode +
    * hash-agg. Node ordering (a<b<c) both dedups triangles and caps
    * wedge fan-out by out-degree; at web scale the standard refinement
    * (order by degree) bounds skew the same way.
    */
  private def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    // two deterministic edge families make the 20-node graph dense enough
    // to actually contain triangles (one family alone is triangle-free)
    val d = documents(s, dir)
    val er = d.select(
      col("source").as("x"),
      concat(lit("src"), ((col("doc_id") * 7 + col("n_chars")) % 20).cast("string")).as("y")
    ).unionByName(
      d.select(
        col("source").as("x"),
        concat(lit("src"), ((col("doc_id") * 3 + col("n_chars") * 5 + 1) % 20).cast("string")).as("y")
      )
    )
    val und = er
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
    val wedges = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    val tris = wedges.join(
      und.select(col("a").as("ta"), col("b").as("tc")),
      col("a") === col("ta") && col("c") === col("tc"),
      "left_semi"
    )
    tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_tri"))
  }

  private val graphTrianglesSql =
    """WITH er AS (SELECT source AS x, 'src' || CAST((doc_id * 7 + n_chars) % 20 AS VARCHAR) AS y
      |  FROM documents
      |  UNION ALL
      |  SELECT source AS x, 'src' || CAST((doc_id * 3 + n_chars * 5 + 1) % 20 AS VARCHAR) AS y
      |  FROM documents),
      |und AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM er WHERE x != y),
      |tris AS (SELECT e1.a, e1.b, e2.b AS c
      |  FROM und e1 JOIN und e2 ON e1.b = e2.a
      |  WHERE EXISTS (SELECT 1 FROM und u WHERE u.a = e1.a AND u.b = e2.b))
      |SELECT node, count(*) AS n_tri FROM (
      |  SELECT unnest([a, b, c]) AS node FROM tris)
      |GROUP BY 1""".stripMargin

  // --------------------------- distribution drift, TV distance (B98)

  /** Per-source distribution drift: total-variation distance between
    * each source's document-length histogram (100-char buckets) and the
    * corpus-wide histogram, in ppm — the "which provider changed shape"
    * detector behind re-weighting and ingest alerts. TV = Σ|oN − cn| /
    * (2nN): the numerator is an EXACT integer sum (one floor at the very
    * end, in DECIMAL(38,0)), so both engines agree bucket-free of float
    * error.
    *
    * Scale shape: two bounded histograms (source×buckets, buckets) from
    * map-side-combined hash-aggs, broadcast-joined; per-source totals and
    * the 1-row corpus total broadcast (B27); the absolute-difference sum
    * runs over the tiny source×buckets table. One corpus scan.
    */
  private def qSourceDrift(s: SparkSession, dir: String): DataFrame = {
    val bucket = expr("CAST(n_chars div 100 AS BIGINT)").as("bucket")
    val o  = documents(s, dir).groupBy(col("source"), bucket).agg(count(lit(1)).as("o"))
    val c  = documents(s, dir).groupBy(bucket).agg(count(lit(1)).as("c"))
    val ns = documents(s, dir).groupBy("source").agg(count(lit(1)).as("n_s"))
    val nTot = documents(s, dir).agg(count(lit(1)).as("n_tot"))
    // every corpus bucket must appear for every source (a source missing a
    // bucket still contributes |0·N − c·n| to its distance)
    val grid = ns.crossJoin(c)
    grid
      .join(o, Seq("source", "bucket"), "left")
      .crossJoin(nTot)
      .select(
        col("source"),
        col("n_s"),
        abs(coalesce(col("o"), lit(0L)) * col("n_tot") - col("c") * col("n_s")).as("num")
      )
      .groupBy("source", "n_s")
      .agg(sum("num").as("num_sum"))
      .crossJoin(nTot)
      .select(
        col("source"),
        expr(
          """CAST((CAST(num_sum AS DECIMAL(38,0)) * 1000000)
            |  div (CAST(2 AS DECIMAL(38,0)) * n_s * n_tot) AS BIGINT)""".stripMargin
        ).as("tv_ppm")
      )
  }

  private val qSourceDriftSql =
    """WITH o AS (SELECT source, n_chars // 100 AS bucket, count(*) AS o
      |  FROM documents GROUP BY 1, 2),
      |c AS (SELECT n_chars // 100 AS bucket, count(*) AS c FROM documents GROUP BY 1),
      |ns AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
      |nt AS (SELECT count(*) AS n_tot FROM documents),
      |grid AS (SELECT ns.source, ns.n_s, c.bucket, c.c FROM ns CROSS JOIN c),
      |d AS (SELECT grid.source, grid.n_s,
      |    abs(coalesce(o.o, 0) * n_tot - grid.c * grid.n_s) AS num
      |  FROM grid LEFT JOIN o ON grid.source = o.source AND grid.bucket = o.bucket
      |  CROSS JOIN nt)
      |SELECT source,
      |  CAST(sum(num) * 1000000 // (2 * any_value(n_s) * (SELECT n_tot FROM nt)) AS BIGINT) AS tv_ppm
      |FROM d GROUP BY source""".stripMargin

  // --------------------------- partition-skew report (B99)

  /** Pre-shuffle layout diagnostic: simulate hash-partitioning the order
    * keys across 32 partitions (md5-derived, engine-replayable) and
    * report each partition's row count plus its deviation from the mean
    * in ppm — the partition-level complement of B38's per-KEY skew
    * profile, and the number you check before committing to a bucketing
    * column. A healthy key hashes to ±few-percent deviation; a
    * pathological one shows up as one hot partition.
    *
    * Scale shape: one map-side-combined hash-agg to 32 rows; the mean
    * arrives by 1-row broadcast; deviation is integer arithmetic. Cost
    * is one scan regardless of fact size.
    */
  private def qPartitionSkew(s: SparkSession, dir: String): DataFrame = {
    val part = (graft.functions.Hashing.h32(col("l_orderkey").cast("string")) % 32).as("partition_id")
    val counts = lineitem(s, dir).groupBy(part).agg(count(lit(1)).as("n_rows"))
    val tot    = counts.agg(sum("n_rows").as("total"), count(lit(1)).as("n_parts"))
    counts
      .crossJoin(tot)
      .select(
        col("partition_id"),
        col("n_rows"),
        expr("CAST(abs(n_rows * n_parts * 1000000 div total - 1000000) AS BIGINT)").as("dev_ppm")
      )
  }

  private val qPartitionSkewSql =
    """WITH counts AS (SELECT
      |    CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 32 AS partition_id,
      |    count(*) AS n_rows
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total, count(*) AS n_parts FROM counts)
      |SELECT partition_id, n_rows,
      |  CAST(abs(n_rows * n_parts * 1000000 // total - 1000000) AS BIGINT) AS dev_ppm
      |FROM counts CROSS JOIN tot""".stripMargin

  // --------------------------- cold-start fallback recos (B100)

  /** Cold-start serving table: top-3 parts by revenue per cohort
    * (market segment × order priority), but a cohort whose line-item
    * support is below threshold serves the GLOBAL top-3 instead, tagged
    * `reco_src = 'global'` — the fallback chain a recommender uses when
    * a cohort is too thin to trust its own signal. Revenue is exact
    * integer cents; ranking replays TopKBy's (score desc, id asc) order.
    *
    * Scale shape: revenue per (cohort, part) is one broadcast-dim
    * hash-agg; both top-3s are bounded-heap TopKBy aggregates (3 rows
    * per partition cross the shuffle, B11's primitive — no rank
    * windows); thin-cohort detection and the fallback stitch run on
    * cohort-sized tables with the 3-row global list broadcast.
    */
  private def qRecoFallback(s: SparkSession, dir: String): DataFrame = {
    val minSupport = 2500L
    val dims = customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
    val base = orders(s, dir)
      .join(lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .select(
        concat(col("c_mktsegment"), lit("|"), col("o_orderpriority")).as("cohort"),
        col("l_partkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents")
      )
    val cohortPart = base
      .groupBy("cohort", "l_partkey")
      .agg(sum("cents").as("rev"), count(lit(1)).as("n"))
    // r16 (§2.4): support and the per-cohort top-3 used to be SEPARATE
    // aggregates over cohortPart, stitched back with a semi-join — three
    // evaluations of the cohortPart subtree and an extra join. One
    // cohort-keyed aggregate now carries BOTH (support = Σn rides the
    // TopKBy pass), the healthy/thin split is a filter on it, and the
    // semi-join disappears. cohortPart feeds two consumers (this and the
    // global top-3), deduped by exchange reuse.
    val perCohort = cohortPart
      .groupBy("cohort")
      .agg(
        sum("n").as("support"),
        graft.functions.TopKBy.topKByLong(col("rev").cast("double"), col("l_partkey"), 3).as("top"))
    val topGlobal = cohortPart
      .groupBy("l_partkey")
      .agg(sum("rev").as("rev"))
      .agg(graft.functions.TopKBy.topKByLong(col("rev").cast("double"), col("l_partkey"), 3).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("long").as("reco_rank"), col("col.id").as("reco_part"))
    val topOwn = perCohort
      .where(col("support") >= minSupport)
      .select(col("cohort"), posexplode(col("top")))
      .select(col("cohort"), (col("pos") + 1).cast("long").as("reco_rank"), col("col.id").as("reco_part"))
    val thin = perCohort.where(col("support") < minSupport).select("cohort")
    topOwn
      .withColumn("reco_src", lit("segment"))
      .unionByName(
        thin.crossJoin(broadcast(topGlobal)).withColumn("reco_src", lit("global"))
      )
  }

  private val qRecoFallbackSql =
    """WITH base AS (SELECT c_mktsegment || '|' || o_orderpriority AS cohort, l_partkey,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN customer ON o_custkey = c_custkey),
      |cp AS (SELECT cohort, l_partkey, CAST(sum(cents) AS BIGINT) AS rev, count(*) AS n
      |  FROM base GROUP BY 1, 2),
      |support AS (SELECT cohort, CAST(sum(n) AS BIGINT) AS support FROM cp GROUP BY 1),
      |topown AS (SELECT cohort, reco_rank, l_partkey AS reco_part FROM (
      |    SELECT cohort, l_partkey,
      |      CAST(row_number() OVER (PARTITION BY cohort ORDER BY rev DESC, l_partkey) AS BIGINT) AS reco_rank
      |    FROM cp) WHERE reco_rank <= 3),
      |topglobal AS (SELECT reco_rank, l_partkey AS reco_part FROM (
      |    SELECT l_partkey,
      |      CAST(row_number() OVER (ORDER BY sum(rev) DESC, l_partkey) AS BIGINT) AS reco_rank
      |    FROM cp GROUP BY l_partkey) WHERE reco_rank <= 3)
      |SELECT t.cohort, reco_rank, reco_part, 'segment' AS reco_src
      |FROM topown t JOIN support s ON t.cohort = s.cohort WHERE s.support >= 2500
      |UNION ALL
      |SELECT s.cohort, reco_rank, reco_part, 'global' AS reco_src
      |FROM support s CROSS JOIN topglobal WHERE s.support < 2500""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_srm_check", Seq("B91"), eventsSrmCheck, eventsSrmCheckSql),
    QuerySpec("q_null_safe_join", Seq("B92"), qNullSafeJoin, qNullSafeJoinSql),
    QuerySpec("q_id_gaps", Seq("B93"), qIdGaps, qIdGapsSql),
    QuerySpec("q_assoc_rules", Seq("B94"), qAssocRules, qAssocRulesSql),
    QuerySpec("q_fifo_allocation", Seq("B95"), qFifoAllocation, qFifoAllocationSql),
    QuerySpec("mm_header_parse", Seq("B96"), mmHeaderParse, mmHeaderParseSql),
    QuerySpec("graph_triangles", Seq("B97"), graphTriangles, graphTrianglesSql),
    QuerySpec("q_source_drift", Seq("B98"), qSourceDrift, qSourceDriftSql),
    QuerySpec("q_partition_skew", Seq("B99"), qPartitionSkew, qPartitionSkewSql),
    QuerySpec("q_reco_fallback", Seq("B100"), qRecoFallback, qRecoFallbackSql)
  )
}
