package graft


import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.GraftSpecBase.tmpDir

/** Fixture-generation compatibility for `Tables.events`.
  *
  * The driver has shipped `events.parquet` in two encodings across rounds:
  * TIMESTAMP(NANOS) (which the session reads as a raw epoch-nanos long via
  * spark.sql.legacy.parquet.nanosAsLong=true) and TIMESTAMP(MICROS) (read
  * as TimestampType under the UTC session). The loader must produce
  * identical rows from either — CORRECTNESS_r07's stale events_debounce row
  * came from a mid-round switch between the two. This spec pins both paths
  * plus the fail-loudly branch for malformed schemas.
  */
class TablesSpec extends GraftSpecBase {

  private def writeEvents(rows: Seq[Row], schema: StructType): String = {
    val dir = tmpDir("graft-tables-spec")
    spark
      .createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write
      .mode("overwrite")
      .parquet(s"$dir/events.parquet")
    dir
  }

  private val baseCols = Seq(
    ("event_id", LongType),
    ("user_id", LongType),
    ("event_type", StringType),
    ("value", DoubleType),
    ("props", StringType)
  )

  private def schemaWithTs(tsType: DataType): StructType =
    StructType(
      StructField("event_id", LongType) ::
        StructField("ts", tsType) ::
        baseCols.drop(1).map { case (n, t) => StructField(n, t) }.toList
    )

  // Three instants that straddle a microsecond boundary and a day boundary.
  private val microsInstants = Seq(0L, 1700000000123456L, 1700086400999999L)

  test("events loader yields identical rows for nanos-long and micros-timestamp fixtures") {
    val nanosRows = microsInstants.zipWithIndex.map { case (us, i) =>
      // nanos generation: raw epoch-nanos long (sub-micro digits get floored by `div 1000`)
      Row(i.toLong, us * 1000L + 789L, i.toLong % 2, s"type$i", i.toDouble, "{}")
    }
    val microsRows = microsInstants.zipWithIndex.map { case (us, i) =>
      Row(i.toLong, java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)),
        i.toLong % 2, s"type$i", i.toDouble, "{}")
    }
    val nanosDir  = writeEvents(nanosRows, schemaWithTs(LongType))
    val microsDir = writeEvents(microsRows, schemaWithTs(TimestampType))

    val proj = Seq(col("event_id"), unix_micros(col("ts")).as("us"))
    val a = Tables.events(spark, nanosDir).select(proj: _*).orderBy("event_id").collect().toSeq
    val b = Tables.events(spark, microsDir).select(proj: _*).orderBy("event_id").collect().toSeq
    assert(a == b, s"nanos-generation rows $a != micros-generation rows $b")
    assert(a.map(_.getLong(1)) == microsInstants)
    assert(Tables.events(spark, nanosDir).schema("ts").dataType == TimestampType)
    assert(Tables.events(spark, microsDir).schema("ts").dataType == TimestampType)
  }

  test("events loader fails loudly on an unexpected ts type instead of yielding nulls") {
    val rows = Seq(Row(1L, "2024-01-01 00:00:00", 1L, "t", 1.0, "{}"))
    val dir  = writeEvents(rows, schemaWithTs(StringType))
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("unsupported type"))
  }

  test("in-stream events ts adaptation fails loudly on an unexpected ts type, like the loader") {
    // events_stream_join stages the raw fixture bytes and adapts ts inside
    // the stream; it must throw where Tables.events throws, not stream nulls
    val rows = Seq(Row(1L, "2024-01-01 00:00:00", 1L, "t", 1.0, "{}"))
    val dir  = writeEvents(rows, schemaWithTs(StringType))
    val e = intercept[IllegalStateException](SparkEntry.queries("events_stream_join")(spark, dir))
    assert(e.getMessage.contains("unsupported type"))
  }
}
