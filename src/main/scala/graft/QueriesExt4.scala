package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Layout

/** Fifth query batch: storage-layout operators — int8 embedding
  * quantization (the 4× storage cut a 100 TB embedding corpus takes
  * before anything else) and z-order layout values. Both use only
  * engine-portable math (floor/abs/bitwise — no round-on-double).
  */
object QueriesExt4 {

  // ------------------------------------------------- int8 quantization

  /** Per-vector symmetric int8 quantization: scale = 127/max|x|,
    * q = clamp(floor(x·scale + 0.5)); reports saturation count and max
    * reconstruction error. floor() is bit-deterministic in both engines
    * (unlike round-on-double).
    */
  private def qEmbedQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = transform(col("embedding"), x => x.cast("double"))
    embeddings(s, dir)
      .withColumn("e", e)
      .withColumn("max_abs", greatest(array_max(transform(col("e"), x => abs(x))), lit(1e-12)))
      .withColumn(
        "qv",
        transform(col("e"), x => greatest(lit(-127.0), least(lit(127.0), floor(x * lit(127.0) / col("max_abs") + lit(0.5)))))
      )
      .withColumn(
        "errs",
        zip_with(col("e"), col("qv"), (x, q) => abs(x - q * col("max_abs") / lit(127.0)))
      )
      .select(
        col("vec_id"),
        round(col("max_abs"), 6).as("max_abs"),
        size(filter(col("qv"), q => abs(q) === 127.0)).cast("long").as("n_saturated"),
        round(array_max(col("errs")), 6).as("max_err")
      )
  }

  private val qEmbedQuantizeSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |m AS (SELECT vec_id, e, greatest(list_max([abs(x) for x in e]), 1e-12) AS max_abs FROM v),
      |q AS (SELECT vec_id, e, max_abs,
      |  [greatest(-127.0, least(127.0, floor(x * 127.0 / max_abs + 0.5))) for x in e] AS qv FROM m)
      |SELECT vec_id, round(max_abs, 6) AS max_abs,
      |  CAST(len(list_filter(qv, x -> abs(x) = 127.0)) AS BIGINT) AS n_saturated,
      |  round(list_max([abs(e[i] - qv[i] * max_abs / 127.0) for i in range(1, len(e)+1)]), 6) AS max_err
      |FROM q""".stripMargin

  // ------------------------------------------------------------ z-order

  /** Z-order bucket profile over (user_id, value-cents): rows sorted by
    * this value cluster in both dimensions at once — the write-time
    * layout for two-column predicate pruning. The oracle reproduces the
    * bit interleave formula verbatim.
    */
  private def qZorderLayout(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("a", col("user_id").bitwiseAND(lit(65535L)))
      // explicit floor(x+0.5): DuckDB's double->BIGINT cast rounds while
      // Spark's truncates — never cast a fractional double directly
      .withColumn("b", floor(col("value") * 100 + lit(0.5)).cast("long").bitwiseAND(lit(65535L)))
      .withColumn("z", Layout.zValue(col("a"), col("b"), 16))
      .groupBy(expr("z div 16384").as("z_bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("user_id")).as("min_user"),
        max(col("user_id")).as("max_user")
      )

  private val qZorderLayoutSql = {
    val z = Layout.zValueSql("a", "b", 16)
    s"""WITH t AS (SELECT user_id, (user_id & 65535) AS a,
       |    (CAST(floor(value * 100 + 0.5) AS BIGINT) & 65535) AS b FROM events),
       |z AS (SELECT user_id, ($z) AS z FROM t)
       |SELECT z // 16384 AS z_bucket, count(*) AS n_events,
       |  min(user_id) AS min_user, max(user_id) AS max_user
       |FROM z GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------- session windows (B7)

  /** Native session_window sessionization; the oracle rebuilds sessions
    * with a lag/cumulative-sum window — a different algorithm that must
    * find identical boundaries (new session when gap >= 30 min).
    */
  private def eventsSessionWindows(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.sessionWindows(events(s, dir), "30 minutes")

  private val eventsSessionWindowsSql =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
      |l AS (SELECT user_id, event_id, ms, v,
      |    lag(ms) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) AS prev_ms FROM e),
      |sflag AS (SELECT user_id, event_id, ms, v,
      |    CASE WHEN prev_ms IS NULL OR ms - prev_ms >= 1800000 THEN 1 ELSE 0 END AS new_s FROM l),
      |sid AS (SELECT user_id, ms, v,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
      |      ROWS UNBOUNDED PRECEDING) AS s FROM sflag)
      |SELECT user_id, min(ms) AS session_start_ms, count(*) AS n_events,
      |  CAST(round(sum(v), 2) AS DOUBLE) AS sum_value
      |FROM sid GROUP BY user_id, s""".stripMargin

  // ------------------------------------------- end-to-end streaming (A1-A11)

  /** The full CDC topology as one oracle-checked query: synthesize
    * Debezium envelopes → parquet-backed stream → the real streaming
    * pipeline (tombstone/delete/id filters, per-batch broadcast
    * enrichment against customer, DLQ branch, idempotent batch sinks) →
    * read the success sink back, flattened. The driver's hash compare
    * covers the entire streaming path, not a batch twin; Bench times the
    * pipeline end to end including checkpointing and sink I/O.
    */
  private def cdcPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    // cluster-placeable scratch space: local tmp by default, a DFS prefix
    // via spark.graft.stream.workdir (see WorkDirs)
    val srcDir = graft.streaming.WorkDirs.fresh(s, "e2e-src")
    val okDir  = graft.streaming.WorkDirs.fresh(s, "e2e-ok")
    val dlqDir = graft.streaming.WorkDirs.fresh(s, "e2e-dlq")
    val ckpt   = graft.streaming.WorkDirs.fresh(s, "e2e-ckpt")

    graft.cdc.Envelope
      .synthesizeFromEvents(events(s, dir))
      .write.mode("overwrite").parquet(srcDir)

    val srcSchema = s.read.parquet(srcDir).schema
    val q = graft.streaming.Pipelines.startEnrichPipeline(
      "cdc-e2e",
      s.readStream.schema(srcSchema).parquet(srcDir),
      () => customer(s, dir),
      "c_custkey",
      Seq("c_name", "c_mktsegment"),
      okDir,
      dlqDir,
      ckpt
    )
    q.awaitTermination()

    s.read
      .parquet(okDir)
      .select(col("id"), col("user_id"), col("event_type"), col("value"), col("ts_ms"), col("c_name"), col("c_mktsegment"))
  }

  private val cdcPipelineE2eSql =
    """SELECT event_id AS id, user_id, event_type, value, epoch_ms(ts) AS ts_ms,
      |  c_name, c_mktsegment
      |FROM events JOIN customer ON event_id = c_custkey
      |WHERE event_id % 97 != 0 AND event_id % 89 != 0 AND event_id % 83 != 0""".stripMargin

  // ------------------------------------------------------------ registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_embed_quantize", Seq("B6"), qEmbedQuantize, qEmbedQuantizeSql),
    QuerySpec("q_zorder_layout", Seq("B15"), qZorderLayout, qZorderLayoutSql),
    QuerySpec("events_session_windows", Seq("B7"), eventsSessionWindows, eventsSessionWindowsSql),
    QuerySpec("cdc_pipeline_e2e", Seq("A1", "A11", "A8", "A9"), cdcPipelineE2e, cdcPipelineE2eSql)
  )
}
