package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Filters/projections applied by callers push down to the parquet scan —
  * loaders deliberately do nothing beyond `spark.read.parquet` so Catalyst
  * sees the raw relation.
  */
object Tables {
  // r16 (§6 / the r15 verdict's tail-attribution item): one shared base-
  // relation REGISTRATION per (session, dir, table). `spark.read.parquet`
  // re-runs schema inference (a footer-read job, "parquet at
  // Tables.scala" in the logs) and re-derives the file index on EVERY
  // call — measured at 30–45 % of the ~300-query 0.2–0.6 s tail's cost
  // (plans/r16/plancost_tail.txt). The memo holds the LAZY DataFrame
  // (a logical plan — no rows are cached; every action still scans
  // parquet), exactly what registering the table once in a catalog would
  // do. Entries of stopped sessions are evicted on each lookup. Bonus:
  // all consumers of one table now share the identical plan object, so
  // plan-keyed stage caches (`sameResult`) can never miss on projection
  // shape.
  //
  // Condition: fixture dirs are READ-ONLY for a session's lifetime. The
  // memo pins the file listing and inferred schema at first use; a fixture
  // regenerated or appended to mid-session would keep serving the stale
  // listing with no error. Anything that rewrites a fixture dir must be
  // read back from a new session or under a new dir.
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  private def memoized(spark: SparkSession, dir: String, key: String)(build: => DataFrame): DataFrame = {
    memo.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    memo.getOrElseUpdate((spark, dir, key), build)
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    memoized(spark, dir, name)(spark.read.parquet(s"$dir/$name.parquet"))

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  /** events.ts has shipped as TIMESTAMP(NANOS) (readable only as a raw
    * long via spark.sql.legacy.parquet.nanosAsLong) in some fixture
    * generations and TIMESTAMP(MICROS) in others — adapt on the observed
    * schema so both load identically:
    *  - long  → epoch-nanos: integer-divide to micros (`div`, not `/`,
    *    since epoch-nanos exceed double's 2^53 exact-integer range);
    *  - timestamp/timestamp_ntz → already micros; cast unifies NTZ to
    *    TimestampType under the UTC session (a no-op re-interpretation);
    *  - anything else throws: a malformed fixture must fail loudly, not
    *    load as nulls.
    * The one owner of this rule: the batch loader below and the in-stream
    * adaptation over raw staged bytes (events_stream_join) both call it.
    */
  def adaptEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected LongType (nanos " +
            "fixture generation) or Timestamp[NTZ]Type (micros generation); " +
            "a malformed fixture must fail loudly, not load as nulls")
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "events@adapted")(adaptEventsTs(table(spark, dir, "events")))
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
