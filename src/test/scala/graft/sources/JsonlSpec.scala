package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir

/** JSONL ingestion: clean lines parse against the explicit schema,
  * malformed lines route to the corrupt branch with the raw line intact
  * (the A13 deserialization-DLQ contract over the text wire format).
  */
class JsonlSpec extends GraftSpecBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType)
  ))

  test("clean rows parse, malformed lines land in the corrupt branch raw") {
    val dir = tmpDir("jsonl")
    val lines = Seq(
      """{"doc_id": 1, "text": "hello world", "source": "src1"}""",
      """{"doc_id": 2, "text": "second doc", "source": "src2"}""",
      """{"doc_id": 3 "text": "missing comma"}""",          // malformed
      """not json at all"""
    )
    Files.write(java.nio.file.Paths.get(dir, "part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))

    val (clean, corrupt) = Jsonl.branch(Jsonl.read(spark, dir, schema))
    val ok = clean.as[(Long, String, String)].collect().sortBy(_._1)
    assert(ok.toSeq === Seq((1L, "hello world", "src1"), (2L, "second doc", "src2")))

    val bad = corrupt.as[String].collect().sorted
    assert(bad.length === 2)
    assert(bad.exists(_.contains("missing comma")))
    assert(bad.contains("not json at all"))
  }

  test("partial rows with missing fields are clean (nulls), not corrupt") {
    val dir = tmpDir("jsonl2")
    Files.write(java.nio.file.Paths.get(dir, "p.jsonl"),
      """{"doc_id": 9}""".getBytes("UTF-8"))
    val (clean, corrupt) = Jsonl.branch(Jsonl.read(spark, dir, schema))
    assert(corrupt.count() === 0)
    val row = clean.collect().head
    assert(row.getLong(0) === 9L)
    assert(row.isNullAt(1) && row.isNullAt(2))
  }
}
