package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.Tables._

/** Round-7 additions: the JSONL ingestion oracle (B36 — the one §2 entry
  * that was unit-tested only through round 6).
  */
object QueriesExt12 {

  // --------------------------------------------- JSONL ingest (B36)

  /** End-to-end JSONL corpus ingestion over the REAL wire format: the
    * `documents` table is serialized to line-delimited JSON (with a
    * deterministic fraction of lines corrupted — `doc_id % 17 == 0`
    * becomes a malformed `{corrupt N}` line), written to local files,
    * then ingested back through `sources.Jsonl.read`/`branch` — the text
    * scan + explicit-schema `from_json` + corrupt-line DLQ path a 100 TB
    * corpus load uses (schema inference over the full corpus would be an
    * extra scan; `Jsonl` never infers). The query returns the clean rows
    * (round-tripped through JSON escaping — embedded quotes/newlines in
    * `text` must survive serialize→parse) plus one summary row per
    * corrupt line carrying the raw-line md5, the replayable DLQ payload.
    *
    * The oracle replays the deterministic corruption rule in SQL: clean
    * rows are `documents` where `doc_id % 17 <> 0` (JSON round-trip is
    * identity on the payload), corrupt rows rebuild the exact
    * `{corrupt N}` line text. Parity therefore proves the parse restored
    * every byte of `text` and that the DLQ caught exactly the corrupted
    * lines with their raw payload intact.
    *
    * Scale shape: serialize and ingest are both single-pass, per-row
    * codegen projections over splittable line-delimited text; the only
    * exchange is the final sort injected by the harness. The staging dir
    * comes from [[graft.streaming.WorkDirs]] — local tmp by default, a DFS
    * prefix via spark.graft.stream.workdir on a cluster.
    */
  private def jsonlIngest(s: SparkSession, dir: String): DataFrame = {
    val path = graft.streaming.WorkDirs.fresh(s, "graft-jsonl") + "/docs.jsonl"

    documents(s, dir)
      .select(
        when(
          col("doc_id") % 17 === 0,
          concat(lit("{corrupt "), col("doc_id").cast("string"), lit("}"))
        ).otherwise(
          to_json(struct(col("doc_id"), col("source"), col("text")))
        ).as("value")
      )
      .write.mode("overwrite").text(path)

    val schema = new StructType()
      .add("doc_id", LongType)
      .add("source", StringType)
      .add("text", StringType)
    val (clean, corrupt) = sources.Jsonl.branch(sources.Jsonl.read(s, path, schema))

    clean
      .select(
        lit("clean").as("kind"),
        col("doc_id"),
        col("source"),
        length(col("text")).cast("long").as("text_len"),
        md5(col("text")).as("text_md5")
      )
      .unionAll(
        corrupt.select(
          lit("corrupt").as("kind"),
          lit(null).cast("long").as("doc_id"),
          lit(null).cast("string").as("source"),
          length(col("raw")).cast("long").as("text_len"),
          md5(col("raw")).as("text_md5")
        )
      )
  }

  private val jsonlIngestSql =
    """SELECT 'clean' AS kind, doc_id, source,
      |  CAST(length(text) AS BIGINT) AS text_len, md5(text) AS text_md5
      |FROM documents WHERE doc_id % 17 <> 0
      |UNION ALL
      |SELECT 'corrupt', NULL, NULL,
      |  CAST(length('{corrupt ' || doc_id || '}') AS BIGINT),
      |  md5('{corrupt ' || doc_id || '}')
      |FROM documents WHERE doc_id % 17 = 0""".stripMargin

  // ------------------------------------------------------------ registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("jsonl_ingest", Seq("A13", "B36"), jsonlIngest, jsonlIngestSql)
  )
}
