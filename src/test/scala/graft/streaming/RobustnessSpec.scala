package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir
import graft.cdc.Envelope

/** Regression tests for failure-path semantics:
  *  - a replayed micro-batch must WIPE its stale DLQ partition when the
  *    retry succeeds (crash between sink write and checkpoint commit);
  *  - streaming latest-wins output must not depend on same-key arrival
  *    order within a micro-batch;
  *  - as-of join must refuse colliding column names instead of silently
  *    nulling probe data;
  *  - StreamRegistry teardown must survive queries that already died.
  */
class RobustnessSpec extends GraftSpecBase {

  private val payload = StructType(Seq(
    StructField("id", LongType, nullable = true),
    StructField("name", StringType, nullable = true)
  ))
  private val recordSchema = StructType(Seq(
    StructField("key", StructType(Seq(StructField("id", LongType))), nullable = true),
    StructField("value", Envelope.envelopeSchema(payload), nullable = true)
  ))

  private def envRow(id: Long, name: String): Row =
    Row(Row(id), Row(null, Row(id, name), "c", 1000L))

  private def dim(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"breed-$i")).toDF("dim_id", "breed")
  }


  private def rmrf(dir: String): Unit =
    Files.walk(Paths.get(dir)).sorted(Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.deleteIfExists(p))

  test("replayed batch wipes its stale DLQ partition when the retry succeeds") {
    val srcDir  = tmpDir("rsrc")
    val okPath  = tmpDir("rok")
    val dlqPath = tmpDir("rdlq")
    val ckpt    = tmpDir("rckpt")
    spark
      .createDataFrame(
        spark.sparkContext.parallelize(Seq(envRow(1, "a"), envRow(3, "c"))),
        recordSchema
      )
      .write.mode("overwrite").parquet(srcDir)

    def runOnce(d: DataFrame): Unit = {
      val source = spark.readStream.schema(recordSchema).parquet(srcDir)
      val q = Pipelines.startEnrichPipeline(
        "replayTest", source, () => d, "dim_id", Seq("breed"), okPath, dlqPath, ckpt
      )
      q.processAllAvailable(); q.stop()
    }

    // first attempt: id 3 misses the dimension -> lands in DLQ batch=0
    runOnce(dim(1))
    val dlqSchema = spark.read.parquet(dlqPath).schema
    assert(spark.read.parquet(dlqPath).count() === 1)

    // simulate a crash between sink write and checkpoint commit: the
    // checkpoint is gone, the sinks are not -> batch 0 replays from scratch,
    // this time against a dimension that knows id 3
    rmrf(ckpt)
    runOnce(dim(1, 3))

    assert(spark.read.parquet(okPath).select("id").collect().map(_.getLong(0)).sorted
      === Array(1L, 3L))
    // the stale DLQ record must be gone — otherwise id 3 exists in BOTH
    // sinks and a later DLQ replay would duplicate it in the success sink
    assert(spark.read.schema(dlqSchema).parquet(dlqPath).count() === 0)
  }

  test("streaming latest-wins is independent of same-key order within a batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ascending arrival: the old filter-as-you-go emitted BOTH v1 and v2
    val input = MemoryStream[CdcRec]
    val out = StatefulDedup.latestWins[Long, CdcRec](input.toDS(), _.user_id, _.version)
    val q = out.writeStream.format("memory").queryName("lwasc").outputMode("append").start()
    input.addData(CdcRec(1, 1, "v1"), CdcRec(1, 2, "v2"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("lwasc").as[CdcRec].collect()
    assert(rows.toSeq === Seq(CdcRec(1, 2, "v2")))
  }

  test("asOf refuses probe columns that collide with build value columns") {
    import spark.implicits._
    val probe = Seq((1L, 10L, "x")).toDF("k", "ts", "dim_value") // dim_value collides
    val build = Seq((1L, 5L, "y")).toDF("k", "bts", "dim_value")
    val e = intercept[IllegalArgumentException] {
      graft.operators.AsOfJoin.asOf(probe, build, "k", "ts", "bts", Seq("dim_value"))
    }
    assert(e.getMessage.contains("dim_value"))
  }

  test("registry stop/stopAll survive a query that already failed") {
    val srcDir = tmpDir("fsrc")
    spark
      .createDataFrame(spark.sparkContext.parallelize(Seq(envRow(1, "a"))), recordSchema)
      .write.mode("overwrite").parquet(srcDir)

    val registry = new StreamRegistry(spark)
    registry.register(
      "doomed",
      _ => spark.readStream.schema(recordSchema).parquet(srcDir)
        .writeStream
        .option("checkpointLocation", tmpDir("fckpt"))
        .foreachBatch { (_: DataFrame, _: Long) =>
          throw new RuntimeException("boom")
        }
        .start()
    )
    // wait for the async failure to land
    val deadline = System.currentTimeMillis() + 30000
    while (registry.isRunning("doomed") && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(!registry.isRunning("doomed"))

    // the dead query rethrows its StreamingQueryException from stop(); the
    // registry must swallow it and keep tearing down. It reports TRUE:
    // terminated-with-error still means terminated (nothing can commit),
    // which is what the reset sequencing guard needs to know
    assert(registry.stop("doomed"))
    registry.stopAll() // must not throw
  }
}
