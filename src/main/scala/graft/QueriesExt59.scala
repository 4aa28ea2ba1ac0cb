package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 52: distributed BPE tokenizer TRAINING —
  * B26 counts pair frequencies for one round and B172 measures an
  * already-trained tokenizer's fertility; this learns the merge table
  * itself, the step between them that an LLM data pipeline actually
  * runs over its corpus.
  */
object QueriesExt59 {

  // --------------------------- BPE merge training (B243)

  /** Four rounds of byte-pair-encoding merge learning over the corpus
    * vocabulary (`text_bpe_train`): words (lowercase [a-z]+ runs) are
    * weighted by corpus frequency and start as space-delimited character
    * sequences; each round counts adjacent-token pairs (weighted,
    * overlap-inclusive — the standard BPE count), picks the most
    * frequent pair (ties → lexicographic), and merges it corpus-wide.
    * Emits one row per learned merge: the pair, the merged token, its
    * count at selection time, and the total corpus token count after the
    * merge — the compression curve that says when to stop training.
    *
    * The merge applies as TWO passes of non-overlapping string
    * `replace` on space-padded sequences (" a b " → " ab "): one pass
    * misses every second occurrence in an odd run because the shared
    * boundary space is consumed; two passes restore strict greedy-BPE
    * output for runs of the same pair up to length 5, beyond which this
    * deviates from reference BPE (runs that long do not occur in [a-z]
    * words at these vocabulary sizes — and both engines run the
    * identical operation either way, so parity never depends on it).
    *
    * Scale shape: the corpus is scanned ONCE to build (word, count) —
    * everything after runs on the VOCABULARY, which grows sublinearly
    * with corpus size (Heaps' law); each round is a pair explode of the
    * vocab (≤ word-length tokens per word) into a pair-keyed
    * map-side-combined agg, a 1-row TakeOrdered for the winner, and a
    * broadcast-1-row merge projection. localCheckpoint per round keeps
    * the 4-round lineage flat (B237's discipline). No driver-side data
    * pull — the winning pair stays a broadcast column.
    */
  private def textBpeTrain(s: SparkSession, dir: String): DataFrame = {
    val vocab0 = documents(s, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("c"))
      .select(col("c"), concat(lit(" "), expr("regexp_replace(word, '(.)', '$1 ')")).as("seq"))
      .localCheckpoint(true)

    def pairCounts(vocab: DataFrame): DataFrame = vocab
      .select(col("c"), split(trim(col("seq")), " ").as("a"))
      // guard single-token sequences: Spark's sequence(1, 0) is DESCENDING
      // ([1, 0]), not empty, and element_at(a, 0) throws
      .select(col("c"), explode(expr(
        "CASE WHEN size(a) < 2 THEN array() " +
          "ELSE transform(sequence(1, size(a) - 1), i -> concat(element_at(a, i), ' ', element_at(a, i + 1))) END"
      )).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("c")).as("n_pair"))

    var vocab = vocab0
    val rounds = (1 to 4).map { r =>
      val top = pairCounts(vocab)
        .orderBy(col("n_pair").desc, col("pair").asc)
        .limit(1)
        .select(col("pair"), expr("replace(pair, ' ', '')").as("merged"), col("n_pair"))
        .localCheckpoint(true)
      vocab = vocab
        .crossJoin(broadcast(top))
        .select(col("c"), expr(
          "replace(replace(seq, concat(' ', pair, ' '), concat(' ', merged, ' ')), " +
            "concat(' ', pair, ' '), concat(' ', merged, ' '))").as("seq"))
        .localCheckpoint(true)
      val tokensAfter = vocab
        .agg(sum(col("c") * size(split(trim(col("seq")), " "))).as("total_tokens_after"))
      top
        .crossJoin(broadcast(tokensAfter))
        .select(
          lit(r.toLong).as("round"),
          col("pair"), col("merged"), col("n_pair"),
          col("total_tokens_after").cast("long").as("total_tokens_after"))
    }
    rounds.reduce(_ unionByName _)
  }

  private val textBpeTrainSql = {
    def round(r: Int): String =
      s"""pc$r AS MATERIALIZED (
         |  SELECT pair, CAST(sum(c) AS BIGINT) AS n_pair FROM (
         |    SELECT c, unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i + 1])) AS pair
         |    FROM (SELECT c, string_split(trim(seq), ' ') AS a FROM v${r - 1}))
         |  GROUP BY 1),
         |top$r AS MATERIALIZED (
         |  SELECT pair, replace(pair, ' ', '') AS merged, n_pair
         |  FROM pc$r ORDER BY n_pair DESC, pair ASC LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT c,
         |    replace(replace(seq, ' ' || t.pair || ' ', ' ' || t.merged || ' '),
         |            ' ' || t.pair || ' ', ' ' || t.merged || ' ') AS seq
         |  FROM v${r - 1}, top$r t),
         |tok$r AS (
         |  SELECT CAST(sum(c * len(string_split(trim(seq), ' '))) AS BIGINT)
         |    AS total_tokens_after FROM v$r)""".stripMargin
    s"""WITH w AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents),
       |v0 AS MATERIALIZED (
       |  SELECT count(*) AS c, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
       |  FROM w GROUP BY word),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |${round(4)}
       |SELECT CAST(1 AS BIGINT) AS round, pair, merged, n_pair,
       |  (SELECT total_tokens_after FROM tok1) AS total_tokens_after FROM top1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), pair, merged, n_pair,
       |  (SELECT total_tokens_after FROM tok2) FROM top2
       |UNION ALL
       |SELECT CAST(3 AS BIGINT), pair, merged, n_pair,
       |  (SELECT total_tokens_after FROM tok3) FROM top3
       |UNION ALL
       |SELECT CAST(4 AS BIGINT), pair, merged, n_pair,
       |  (SELECT total_tokens_after FROM tok4) FROM top4""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_bpe_train", Seq("B243"), textBpeTrain, textBpeTrainSql)
  )
}
