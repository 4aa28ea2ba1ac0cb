package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Envelope

/** Seeded input generators. Every value is a pure function of (seed, row
  * position), so the benchmark can recompute what the program should
  * output without running the program.
  */
object Gen {
  /** Uniform integer in [0, mod) from (seed, c, salt). */
  def u(seed: Long, c: Column, salt: Int, mod: Long): Column =
    pmod(xxhash64(lit(seed), c, lit(salt)), lit(mod))

  private val T0 = 1700000000000L

  // ---- CDC envelopes (cdc_backlog) ----
  // Row position p carries ts_ms = T0 + p, which identifies the envelope;
  // its entity id is uniform over 1..keys. Per mille of envelope rows:
  // tombstones [0,20), deletes [20,40), id=0 rows [40,55); the rest are
  // valid. 7 % of entity ids miss the dimension and go to the DLQ.
  val DimCols: Seq[String] = Seq("name", "category")

  val sourceSchema: StructType = StructType(Seq(
    StructField("key", StructType(Seq(StructField("id", LongType))), nullable = true),
    StructField("value", Envelope.envelopeSchema(Envelope.payloadSchema), nullable = true)
  ))

  private def envelope(pos: Column, tombstone: Column, delete: Column, payload: StructType, after: Column): Column = {
    val env = Envelope.envelopeSchema(payload)
    when(tombstone, lit(null).cast(env)).otherwise(struct(
      lit(null).cast(payload).as("before"),
      when(delete, lit(null).cast(payload)).otherwise(after).as("after"),
      when(delete, lit("d")).when(pmod(pos, lit(2L)) === 0, lit("u")).otherwise(lit("c")).as("op"),
      (lit(T0) + pos).as("ts_ms")))
  }

  private def entity(seed: Long, pos: Column, keys: Long): Column = u(seed, pos, 4, keys) + 1

  /** Envelope rows for positions [first, first + n) in `parts` equal
    * contiguous slices.
    */
  def envelopes(spark: SparkSession, seed: Long, first: Long, n: Long, parts: Int, keys: Long): DataFrame = {
    val pos = col("id")
    val id  = entity(seed, pos, keys)
    val cls = u(seed, pos, 1, 1000)
    val after = struct(
      when(cls < 55, lit(0L)).otherwise(id).as("id"),
      pmod(pos * 7919L, lit(10007L)).as("user_id"),
      element_at(array(Seq("view", "click", "cart", "buy").map(lit): _*), (pmod(pos, lit(4L)) + 1).cast("int")).as("event_type"),
      (u(seed, pos, 3, 100000).cast("double") / 100.0).as("value"),
      (lit(T0) + pos).as("ts_ms"))
    spark.range(first, first + n, 1, parts)
      .select(struct(id.as("id")).as("key"), envelope(pos, cls < 20, cls < 40, Envelope.payloadSchema, after).as("value"))
  }

  private def dimHit(seed: Long, id: Column): Column = u(seed, id, 2, 100) >= 7

  /** The lookup dimension: entity ids 1..keys except the 7 % misses. */
  def dimension(spark: SparkSession, seed: Long, keys: Long): DataFrame =
    spark.range(1, keys + 1, 1, 1)
      .filter(dimHit(seed, col("id")))
      .select(col("id"), concat(lit("animal-"), col("id").cast("string")).as("name"), pmod(col("id"), lit(17L)).as("category"))

  /** Expected sink membership per valid envelope: (ts_ms, id, sink) with
    * sink 1 = success, 2 = DLQ. Tombstones, deletes and id=0 rows appear
    * in neither.
    */
  def expectedSinks(spark: SparkSession, seed: Long, first: Long, n: Long, keys: Long): DataFrame = {
    val pos = col("id")
    val id  = entity(seed, pos, keys)
    spark.range(first, first + n)
      .filter(u(seed, pos, 1, 1000) >= 55)
      .select((lit(T0) + pos).as("ts_ms"), id.as("id"), when(dimHit(seed, id), lit(1)).otherwise(lit(2)).as("sink"))
  }

  // ---- documents and embeddings (llm_curate) ----
  private val Syllables = Seq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su",
    "bra", "dem", "fil", "gor", "hun", "jas", "kel", "mor", "nip", "quo")
  private val EnStop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val DeStop = Seq("der", "und", "die", "ist")
  val Dim = 16

  private def pick(words: Seq[String], h: Column): Column =
    element_at(array(words.map(lit): _*), (h + 1).cast("int"))

  /** A 6+-letter pseudo-word from three hashed syllables. */
  private def word(seed: Long, k: Column, j: Column, salt: Int): Column =
    concat(
      pick(Syllables, pmod(xxhash64(lit(seed), k, j, lit(salt)), lit(20L))),
      pick(Syllables, pmod(xxhash64(lit(seed), k, j, lit(salt + 1)), lit(20L))),
      pick(Syllables, pmod(xxhash64(lit(seed), k, j, lit(salt + 2)), lit(20L))))

  /** Documents 1..n with the bench-private columns `kind` (0 good English,
    * 1 junk, 2 German) and `text_key` (docs sharing a key and kind 0
    * carry identical text). Docs above n/2 copy an earlier doc's text
    * with probability 20 %.
    */
  def docs(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id   = col("id")
    val r    = u(seed, id, 11, 100)
    val kind = when(r < 10, lit(1)).when(r < 15, lit(2)).otherwise(lit(0))
    val copy = id > n / 2 && u(seed, id, 12, 100) < 20
    val textKey = when(copy, u(seed, id, 13, n / 2) + 1).otherwise(id)
    val tokens = sequence(lit(0), lit(59))
    val good = array_join(transform(tokens, j =>
      when(pmod(j, lit(3)) === 1, pick(EnStop, pmod(xxhash64(lit(seed), col("text_key"), j, lit(7)), lit(8L))))
        .otherwise(concat(word(seed, col("text_key"), j, 20), when(pmod(j, lit(12)) === 11, lit(".")).otherwise(lit(""))))), " ")
    val german = array_join(transform(tokens, j =>
      when(pmod(j, lit(3)) === 1, pick(DeStop, pmod(xxhash64(lit(seed), col("doc_id"), j, lit(8)), lit(4L))))
        .otherwise(word(seed, col("doc_id"), j, 30))), " ")
    val junk = array_join(transform(sequence(lit(0), lit(6)), j => concat(word(seed, col("doc_id"), j, 40), lit("!?;"))), " ")
    spark.range(1, n + 1, 1, 4)
      .select(id.as("doc_id"), kind.as("kind"), textKey.as("text_key"))
      .withColumn("text", when(col("kind") === 0, good).when(col("kind") === 1, junk).otherwise(german))
  }

  private def vector(seed: Long, id: Column): Column =
    array((0 until Dim).map(d => (u(seed, id, 100 + d, 20001) - 10000).cast("double") / 10000.0): _*)

  /** One 16-d embedding per document id. */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(1, n + 1, 1, 4).select(col("id").as("doc_id"), vector(seed, col("id")).as("vec"))

  val QueryIdBase = 10000000L

  /** Queries: near-copies of the embeddings of `twins` (doc ids), with
    * id QueryIdBase + twin.
    */
  def queries(spark: SparkSession, seed: Long, twins: Seq[Long]): DataFrame = {
    import spark.implicits._
    val v = vector(seed, col("twin"))
    twins.toDF("twin").select(
      (lit(QueryIdBase) + col("twin")).as("doc_id"),
      transform(v, (x, i) => when(i === 0, x + 1e-6).otherwise(x)).as("vec"))
  }
}
