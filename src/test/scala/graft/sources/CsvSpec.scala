package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir

/** CSV manifest ingestion: typed lines parse against the explicit schema
  * (quoted fields with embedded commas/quotes round-trip), lines whose
  * fields fail their type land in the corrupt branch with the raw line
  * intact — A13's deserialization-DLQ contract over the CSV wire.
  */
class CsvSpec extends GraftSpecBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", LongType)
  ))

  test("typed rows parse incl. quoted commas/quotes; type failures route raw") {
    val dir = tmpDir("csv")
    val lines = Seq(
      """1,alpha,10""",
      """2,"beta, with comma",20""",
      """3,"say \"hi\"",30""",
      """{bad 4}""",          // first field fails the long parse
      """oops,plain,not-a-number"""
    )
    Files.write(java.nio.file.Paths.get(dir, "m.csv"), lines.mkString("\n").getBytes("UTF-8"))

    val (clean, corrupt) = Csv.branch(Csv.read(spark, dir, schema))
    val ok = clean.as[(Long, String, Long)].collect().sortBy(_._1)
    assert(ok.toSeq === Seq(
      (1L, "alpha", 10L), (2L, "beta, with comma", 20L), (3L, "say \"hi\"", 30L)))

    val bad = corrupt.as[String].collect().sorted
    assert(bad.length === 2)
    assert(bad.contains("{bad 4}"))
    assert(bad.contains("oops,plain,not-a-number"))
  }

  test("short rows are corrupt (strict arity), unlike JSONL's missing-field nulls") {
    // from_csv marks a wrong token count malformed — for a TYPED manifest
    // that is the contract you want (a missing column is a broken row, not
    // an optional field); JSONL keeps the lenient missing-key = null rule
    val dir = tmpDir("csv2")
    Files.write(java.nio.file.Paths.get(dir, "m.csv"), "7,solo".getBytes("UTF-8"))
    val (clean, corrupt) = Csv.branch(Csv.read(spark, dir, schema))
    assert(clean.count() === 0)
    assert(corrupt.as[String].collect().toSeq === Seq("7,solo"))
  }
}
