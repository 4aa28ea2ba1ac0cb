package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.types._

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir

/** REST control-plane round trip (the reference's
  * AnimalStreamControlIT scenarios over HTTP): status/stop/start, offsets
  * with lag, reset-to-latest skipping the backlog, specific-offset reset
  * body plumbed through to the factory, and the manual-export 202/422
  * contract.
  */
class ControlServerSpec extends GraftSpecBase {
  import spark.implicits._


  private val http = HttpClient.newHttpClient()
  private def get(url: String): (Int, String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString()
    )
    (r.statusCode(), r.body())
  }
  private def post(url: String, body: String = ""): (Int, String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()
    )
    (r.statusCode(), r.body())
  }

  test("REST control plane drives lifecycle, offsets, reset and export") {
    val srcDir = tmpDir("cs-src"); val ckptRoot = tmpDir("cs-ckpt"); val okRoot = tmpDir("cs-ok")
    Seq(1L, 2L).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)

    val registry = new StreamRegistry(spark)
    @volatile var curCkpt   = ""
    @volatile var seenSpecs = List.empty[ResetSpec]
    registry.registerResettable(
      "animals",
      (epoch, spec) => {
        seenSpecs ::= spec
        val ckpt = s"$ckptRoot/e$epoch"
        curCkpt = ckpt
        if (spec == ResetSpec.Latest) {
          FileSourceReset.seedLatest(spark, ckpt, srcDir)
          FileSourceReset.seedSinkLog(s"$okRoot/e$epoch")
        }
        spark.readStream.schema("id LONG").parquet(srcDir)
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt)
          .option("path", s"$okRoot/e$epoch")
          .start()
      },
      lagProbe = Some(() => FileSourceLag.unprocessedFiles(curCkpt, srcDir))
    )
    spark.streams.active.foreach(_.processAllAvailable())

    val exportPath = tmpDir("cs-export")
    val payload = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)
    ))
    val server = new ControlServer(
      registry,
      exporters = Map("animal" -> (json => Pipelines.manualExport(spark, json, payload, exportPath)))
    ).start()
    val base = s"http://127.0.0.1:${server.boundPort}/api"

    try {
      // A19 status
      val (200, statusBody) = get(s"$base/stream/animals/status")
      assert(statusBody.contains("\"running\":true"))
      assert(get(s"$base/stream/ghost/status")._2.contains("NOT_RUNNING"))

      // A17 offsets + lag
      val (200, offBody) = get(s"$base/stream/animals/offsets")
      assert(offBody.contains("\"lag\":0") && offBody.contains("FileStreamSource"))

      // A16 stop/start
      assert(post(s"$base/stream/animals/stop")._2.contains("\"running\":false"))
      assert(post(s"$base/stream/animals/start")._2.contains("\"running\":true"))

      // A18 reset to latest over HTTP: backlog skipped, new file flows
      val (200, resetBody) = post(s"$base/stream/animals/offsets/reset/latest")
      assert(resetBody.contains("\"resetTo\":\"latest\"") && resetBody.contains("\"running\":true"))
      Seq(9L).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)
      spark.streams.active.foreach(_.processAllAvailable())
      assert(spark.read.schema("id LONG").parquet(s"$okRoot/e1").as[Long].collect().toSeq === Seq(9L))

      // A18 specific offsets: body reaches the factory as ResetSpec.Offsets
      val (200, _) = post(
        s"$base/stream/animals/offsets/reset",
        """{"partitionOffsets":{"0":7,"1":42}}"""
      )
      assert(seenSpecs.head === ResetSpec.Offsets(Map(0 -> 7L, 1 -> 42L)))
      assert(post(s"$base/stream/animals/offsets/reset", "not json")._1 === 400)

      // A15 manual export: 202 on parse, 422 on garbage
      val (202, expBody) = post(s"$base/export/animal", """{"id": 7, "name": "Buddy"}""")
      assert(expBody.contains("\"rows\":1"))
      assert(post(s"$base/export/animal", """{"name":"no-id"}""")._1 === 422)
      assert(post(s"$base/export/ghost", "{}")._1 === 404)
      assert(spark.read.parquet(exportPath).select("id").as[Long].collect().toSeq === Seq(7L))
    } finally {
      server.stop()
      registry.stopAll()
    }
  }
}
