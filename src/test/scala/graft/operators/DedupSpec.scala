package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftSpecBase

class DedupSpec extends GraftSpecBase {

  test("ppJaccardPairs (prefix-filtered) equals blockedJaccardPairs") {
    val docs = graft.Tables.documents(spark, sf())
    val blocked = Dedup.blockedJaccardPairs(docs, "doc_id", "text", "source", 3, 0.5)
    val pp      = Dedup.ppJaccardPairs(docs, "doc_id", "text", "source", 3, 0.5)
    assert(pp.exceptAll(blocked).isEmpty && blocked.exceptAll(pp).isEmpty)
    // and at a higher tau, where prefix filtering prunes hardest
    val blocked8 = Dedup.blockedJaccardPairs(docs, "doc_id", "text", "source", 3, 0.8)
    val pp8      = Dedup.ppJaccardPairs(docs, "doc_id", "text", "source", 3, 0.8)
    assert(pp8.exceptAll(blocked8).isEmpty && blocked8.exceptAll(pp8).isEmpty)
  }
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again", "a"),
    (2L, "the quick brown fox jumps over the lazy dog again and again", "a"),  // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again", "a"),  // near dup of 1
    (4L, "completely unrelated text about spark query planning internals", "b"),
    (5L, "short text", "b")
  ).toDF("doc_id", "text", "source")

  test("exact dedup keeps min tie-break per key") {
    val kept = Dedup
      .exact(docs.withColumn("fp", graft.operators.TextAnalysis.fingerprint(col("text"))), Seq("fp"), "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 3L, 4L, 5L))
  }

  test("latestWins keeps max-order row per key") {
    val df = Seq((1L, 1L, "a"), (1L, 3L, "c"), (1L, 2L, "b"), (2L, 1L, "x")).toDF("id", "version", "name")
    val out = Dedup.latestWins(df, Seq("id"), Seq(col("version")))
      .select("id", "name").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "c", 2L -> "x"))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", shingleWords = 3, tau = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))          // exact dup always collides
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // jaccard of the (1,3) pair is high; banding should catch it
    assert(pairs.contains((1L, 3L)))
  }

  test("minhash verification: exact Jaccard on short, repeated-shingle and NULL-text docs") {
    val edge = Seq[(Long, String)](
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
      (4L, "short text"),   // fewer tokens than shingleWords: one whole-text shingle
      (5L, "Short   TEXT"), // normalizes to 4's text
      (6L, "a b c a b c a b c"), // 7 shingles, 3 distinct
      (7L, "a b c a b c"),       // 4 shingles, the same 3 distinct
      (8L, null),
      (9L, null),
      (10L, "completely unrelated text about spark query planning internals")
    ).toDF("doc_id", "text")
    val sets = edge
      .select(col("doc_id"), TextAnalysis.wordShingles(col("text"), 3).as("sh"))
      .as[(Long, Option[Seq[String]])].collect()
      .collect { case (id, Some(sh)) => id -> sh.toSet }.toMap
    def bruteJaccard(a: Long, b: Long): Double = {
      val inter = (sets(a) intersect sets(b)).size.toDouble
      BigDecimal(inter / (sets(a).size + sets(b).size - inter)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val pairs = Dedup.minhashPairs(edge, "doc_id", "text", shingleWords = 3, tau = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(!pairs.exists(p => Set(8L, 9L)(p._1) || Set(8L, 9L)(p._2)), pairs.mkString(", "))
    pairs.foreach { case (a, b, j) => assert(j === bruteJaccard(a, b), s"pair ($a, $b)") }
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(Set((1L, 2L), (4L, 5L), (6L, 7L)).subsetOf(ids), pairs.mkString(", "))
  }

  test("incremental minhash equals the full recompute restricted to fresh pairs") {
    val all       = graft.Tables.documents(spark, sf())
    val threshold = all.agg(org.apache.spark.sql.functions.max(col("doc_id"))).head.getLong(0) * 4 / 5
    val corpus = all.filter(col("doc_id") < threshold)
    val fresh  = all.filter(col("doc_id") >= threshold)
    val incremental = Dedup
      .minhashPairsIncremental(corpus, fresh, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    // fresh ids are the high range, so "involves a fresh doc" == id_b >= threshold
    val full = Dedup.minhashPairs(all, "doc_id", "text", 3, 0.5)
      .filter(col("id_b") >= threshold)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(incremental === full)
    assert(incremental.nonEmpty) // the fixture must actually exercise the path
  }

  test("simhash pairs: exact dup at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("blocked jaccard compares only within blocks") {
    val pairs = Dedup.blockedJaccardPairs(docs, "doc_id", "text", "source", 3, tau = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 5L)) // cross-block or low-jaccard
  }

  test("connected components: min label propagates across chains") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .select("id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("embedding cosine pairs within bucket") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0),
      (4L, Array(1.0f, 0.0f, 0.0f), 1)  // same direction as 1 but other bucket
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", "label", tau = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }
}
