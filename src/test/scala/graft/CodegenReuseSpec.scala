package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSpecBase.tmpDir
import graft.cdc.Envelope
import graft.streaming.Pipelines
import graft.tools.Profile

/** Pins that a generated class is compiled once per JVM, not once per
  * session: after a warm run, the same batch query in a fresh
  * `spark.newSession()` and the same enrich drain restarted on a fresh
  * checkpoint (a stream runs in a cloned session) compile no new class.
  * The count is Spark's own: every Janino compile adds one sample to
  * `CodegenMetrics.METRIC_COMPILATION_TIME`, driver and executor threads
  * alike.
  */
class CodegenReuseSpec extends GraftSpecBase {

  /** `body`'s result and the number of classes compiled while it ran. */
  private def compiledBy[A](body: => A): (A, Long) = {
    val c0 = Profile.compileCount
    val a  = body
    (a, Profile.compileCount - c0)
  }

  private def joinAggregate(s: SparkSession): Array[Row] = {
    val facts = s.range(0, 20000).select((col("id") % 97).as("k"), col("id").as("v"))
    val dims  = s.range(0, 97).select(col("id").as("k"), (col("id") % 7).as("g"))
    facts.join(dims, "k").groupBy("g").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("g").collect()
  }

  test("a warm join + aggregate compiles no new class in a fresh session") {
    val warm       = joinAggregate(spark.newSession())
    val (again, n) = compiledBy(joinAggregate(spark.newSession()))
    assert(again.toSeq === warm.toSeq)
    assert(n === 0, s"$n classes compiled again in a fresh session")
  }

  test("a warm enrich drain compiles no new class when started again on a fresh checkpoint") {
    val payload = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val schema = StructType(Seq(
      StructField("key", StructType(Seq(StructField("id", LongType)))),
      StructField("value", Envelope.envelopeSchema(payload))))
    val src = tmpDir("reuse-src")
    val rows = (1L to 40L).map(i => Row(Row(i), Row(null, Row(i, s"n$i"), "c", 1000L)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(src)
    def dim(): DataFrame = {
      import spark.implicits._
      (1L to 30L).map(i => (i, s"breed-$i")).toDF("dim_id", "breed")
    }
    def drain(): Unit = {
      val q = Pipelines.startEnrichPipeline("codegen-reuse", spark.readStream.schema(schema).parquet(src),
        () => dim(), "dim_id", Seq("breed"),
        tmpDir("reuse-ok"), tmpDir("reuse-dlq"), tmpDir("reuse-ckpt"))
      q.awaitTermination()
      assert(q.exception.isEmpty, q.exception)
    }
    drain()
    val (_, n) = compiledBy(drain())
    assert(n === 0, s"$n classes compiled again by a restarted drain")
  }
}
