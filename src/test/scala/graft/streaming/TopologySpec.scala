package graft.streaming


import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir
import graft.cdc.Envelope

/** Full-topology assembly: the reference's three-function wiring
  * (eventTransform;animalTransform;animalDlqTransform) from one config,
  * with DLQ replay auto-start=false and on-demand start via the registry —
  * the DlqPipelineIT end-to-end scenario at topology level.
  */
class TopologySpec extends GraftSpecBase {

  private val payload = StructType(Seq(
    StructField("id", LongType, nullable = true),
    StructField("name", StringType, nullable = true)
  ))
  private val recordSchema = StructType(Seq(
    StructField("key", StructType(Seq(StructField("id", LongType))), nullable = true),
    StructField("value", Envelope.envelopeSchema(payload), nullable = true)
  ))


  test("topology: auto-started pipeline + on-demand DLQ replay") {
    import spark.implicits._
    val srcDir = tmpDir("tsrc"); val ok = tmpDir("tok"); val dlq = tmpDir("tdlq")
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(Row(1L), Row(null, Row(1L, "a"), "c", 1L)),
        Row(Row(9L), Row(null, Row(9L, "miss"), "c", 1L))
      )),
      recordSchema
    ).write.mode("overwrite").parquet(srcDir)

    def dim(ids: Long*) = ids.map(i => (i, s"d$i")).toDF("dim_id", "breed")
    val dlqSchema = recordSchema

    val registry = Topology.start(spark, Seq(
      Topology.PipelineDef(
        name = "animalTransform",
        source = () => spark.readStream.schema(recordSchema).parquet(srcDir),
        dimension = () => dim(1),
        dimKey = "dim_id",
        dimCols = Seq("breed"),
        successPath = ok,
        dlqPath = dlq,
        checkpointRoot = tmpDir("tckpt"),
        dlqReplay = Some(Topology.DlqReplayDef(repairDimension = () => dim(1, 9), dlqSchema = dlqSchema))
      )
    ))

    assert(registry.isRunning("animalTransform"))
    assert(!registry.isRunning("animalTransform-dlq"))   // auto-startup: false
    // drain the main pipeline
    spark.streams.active.foreach(_.processAllAvailable())
    assert(spark.read.parquet(ok).select("id").as[Long].collect().toSeq === Seq(1L))
    assert(spark.read.parquet(dlq).count() === 1)

    // operator starts the replay on demand (POST /api/dlq/animal/start)
    registry.start("animalTransform-dlq")
    spark.streams.active.foreach(_.processAllAvailable())
    registry.stopAll()
    assert(spark.read.parquet(ok).select("id").as[Long].collect().sorted === Array(1L, 9L))
  }

  test("topology control plane: sourceDir enables lag probes and reset-to-latest") {
    import spark.implicits._
    val srcDir = tmpDir("t2src"); val ok = tmpDir("t2ok"); val dlq = tmpDir("t2dlq")
    def writeEnv(ids: Long*): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(i => Row(Row(i), Row(null, Row(i, s"n$i"), "c", 1L))), 1),
        recordSchema
      ).write.mode("append").parquet(srcDir)
    writeEnv(1L)

    val registry = Topology.start(spark, Seq(
      Topology.PipelineDef(
        name = "ctl2",
        source = () => spark.readStream.schema(recordSchema).parquet(srcDir),
        dimension = () => Seq((1L, "d1"), (2L, "d2")).toDF("dim_id", "breed"),
        dimKey = "dim_id",
        dimCols = Seq("breed"),
        successPath = ok,
        dlqPath = dlq,
        checkpointRoot = tmpDir("t2ckpt"),
        sourceDir = Some(srcDir)
      )
    ))
    spark.streams.active.foreach(_.processAllAvailable())
    assert(spark.read.parquet(ok).select("id").as[Long].collect().toSeq === Seq(1L))
    assert(registry.lag("ctl2") === Some(0L))

    // a file arriving while the stream is stopped shows as lag (A17:
    // committed-vs-end, no active query required)
    registry.stop("ctl2")
    writeEnv(2L)
    assert(registry.lag("ctl2") === Some(1L))

    // reset-to-latest skips the backlog (A18 seek-to-end over the
    // config-driven topology), and lag returns to zero
    registry.reset("ctl2", ResetSpec.Latest)
    spark.streams.active.foreach(_.processAllAvailable())
    assert(spark.read.parquet(ok).select("id").as[Long].collect().toSeq === Seq(1L))
    assert(registry.lag("ctl2") === Some(0L))
    registry.stopAll()
  }
}
