package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSpecBase
import graft.tools.Profile

class SimilaritySpec extends GraftSpecBase {
  import spark.implicits._

  private lazy val emb = Seq(
    (0L, Array(1.0f, 0.0f), 0),
    (1L, Array(0.8f, 0.6f), 0),
    (2L, Array(0.0f, 1.0f), 1),
    (3L, Array(-1.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("brute-force top-k ranks by cosine desc with id tie-break") {
    val out = Similarity
      .bruteForceTopK(emb, emb.filter($"vec_id" === 0L), "vec_id", "embedding", k = 3)
      .select("corpus_id", "cosine", "rank").as[(Long, Double, Long)].collect()
      .sortBy(_._3)
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L))     // 0.8, 0.0, -1.0
    assert(out.head._2 === 0.8)
    assert(out.last._2 === -1.0)
  }

  test("bucketed top-k only scans the query's bucket") {
    val out = Similarity
      .bucketedTopK(emb, emb.filter($"vec_id" === 2L), "vec_id", "embedding", "label", k = 3)
      .select("corpus_id").as[Long].collect()
    assert(out.toSeq === Seq(3L))   // only label-1 candidates
  }

  test("IVF top-k achieves high recall vs exact brute force on the fixture") {
    val emb = graft.Tables.embeddings(spark, sf())
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low (ivf=${ivf.size}, exact=${exact.size})")
  }

  test("sign bucket sketch is deterministic") {
    val b = emb.select(Similarity.signBucket($"embedding", 2).as("b"))
      .as[Long].collect()
    assert(b.toSeq === Seq(1L, 3L, 2L, 0L))
  }

  test("random-hyperplane LSH pairs identical vectors and honors tau") {
    // identical vectors share every sign bucket → always candidates, cosine 1;
    // an antipodal vector flips every sign → never in the same bucket
    val vs = Seq(
      (0L, Array.fill(64)(1.0f)),
      (1L, Array.fill(64)(1.0f)),
      (2L, Array.fill(64)(-1.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity
      .randomHyperplanePairs(vs, "vec_id", "embedding", tau = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("random-hyperplane LSH finds a usable fraction of true near pairs on the fixture") {
    val emb64 = graft.Tables.embeddings(spark, sf())
    val lsh = Similarity.randomHyperplanePairs(emb64, "vec_id", "embedding", tau = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every reported pair is a verified true positive (cosine >= tau by
    // construction); check the banding yields non-trivial recall against
    // candidates the bucketed-exact path finds within labels
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (a, b) => a < b })
  }

  test("knn graph keeps at most k ranked neighbors per node, no self-edges") {
    val emb64 = graft.Tables.embeddings(spark, sf())
    val g = Similarity.knnGraph(emb64, "vec_id", "embedding", k = 3, tau = 0.0)
      .select("vec_id", "nbr_rank", "nbr_id", "cosine")
      .as[(Long, Long, Long, Double)].collect()
    assert(g.nonEmpty)
    assert(g.forall { case (v, _, n, _) => v != n })
    val byNode = g.groupBy(_._1)
    byNode.values.foreach { edges =>
      assert(edges.length <= 3)
      val sorted = edges.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to edges.length).toSeq) // contiguous ranks
      // rank order follows (cosine desc, nbr asc)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3))
        case _ => ()
      }
    }
  }

  test("kmeans assignment is deterministic across runs and bounded by k") {
    val emb = graft.Tables.embeddings(spark, sf())
    def run() = Similarity
      .kmeansAssign(emb, "vec_id", "embedding", k = 4, iters = 2)
      .select("vec_id", "cluster", "dist")
      .as[(Long, Long, Double)]
      .collect()
      .sortBy(_._1)
      .toSeq
    val a = run()
    // repartitioning the input must not change seeds, centroids, or the
    // final assignment — the md5 seed order and 6-dp-rounded centroids
    // are partitioning-independent by construction
    val b = Similarity
      .kmeansAssign(emb.repartition(7), "vec_id", "embedding", k = 4, iters = 2)
      .select("vec_id", "cluster", "dist")
      .as[(Long, Long, Double)]
      .collect()
      .sortBy(_._1)
      .toSeq
    assert(a === b)
    assert(a.map(_._1).distinct.length === a.length) // one row per vector
    assert(a.forall { case (_, c, d) => c >= 0 && c < 4 && d >= 0.0 })
    assert(a.map(_._2).distinct.length > 1, "degenerate single-cluster result")
  }

  test("default-geometry IVF assignment is built once per session: a rebuild starts no Spark job") {
    // a corpus plan no other suite uses, so the first build is a cold miss
    val corpus = graft.Tables.embeddings(spark, sf()).filter($"vec_id" % 3 =!= 1)
    val (first, coldJobs) = Profile.jobsStartedBy(spark)(Similarity.ivfAssign(corpus, "vec_id", "embedding", nCells = 3))
    assert(coldJobs > 0, "the cold build must run the seed pick and the assignment checkpoint")
    val (second, warmJobs) = Profile.jobsStartedBy(spark)(Similarity.ivfAssign(corpus, "vec_id", "embedding", nCells = 3))
    assert(second eq first, "the rebuild must be a stage-cache hit")
    assert(warmJobs === 0, "a stage-cache hit must not re-run the seed pick or the assignment")
  }

  /** The assignment form the NearestCell kernel replaced: crossJoin the
    * centroid table, then min(struct(d, cell)) per vector.
    */
  private def composedAssign(corpus: DataFrame, cents: Seq[(Long, Seq[Double], Double)]): DataFrame = {
    val table = cents.toDF("cell", "ce", "ce2")
    val v = col("cv")
    val d = Similarity.dot(v, v) - lit(2.0) * Similarity.dot(v, col("ce")) + col("ce2")
    corpus.crossJoin(broadcast(table))
      .groupBy(col("corpus_id"))
      .agg(min(struct(d.as("d"), col("cell").as("cell"))).as("m"))
      .select(col("corpus_id"), col("m.cell").as("cell"))
  }

  private def kernelAssign(corpus: DataFrame, cents: Seq[(Long, Seq[Double], Double)]): DataFrame =
    corpus.select(col("corpus_id"),
      graft.functions.VectorExpressions.nearestCell(col("cv"), cents.map(_._1), cents.map(_._2), cents.map(_._3)).as("cell"))

  private def centroids(vs: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double], Double)] =
    vs.map { case (id, v) => (id, v, v.map(x => x * x).sum) }

  test("NearestCell equals the crossJoin + min(struct(d, cell)) assignment, ties and NULL vectors included") {
    val fixture = graft.Tables.embeddings(spark, sf())
      .select(col("vec_id").as("corpus_id"), transform(col("embedding"), _.cast("double")).as("cv"))
    val seeds = centroids(fixture.filter($"corpus_id" % 97 === 0).limit(6).as[(Long, Seq[Double])].collect().toSeq)
    val a = kernelAssign(fixture, seeds).as[(Long, Long)].collect().toMap
    assert(a === composedAssign(fixture, seeds).as[(Long, Long)].collect().toMap)
    assert(a.values.toSet.size > 1, "degenerate single-cell assignment")
    // (1,1) is equidistant from cells 9 and 4, the NULL vector's distances
    // are all NULL: both go to the smallest cell id, as the struct min does
    val cells = centroids(Seq(9L -> Seq(1.0, 0.0), 4L -> Seq(0.0, 1.0), 7L -> Seq(5.0, 5.0)))
    val crafted = Seq((1L, Some(Seq(1.0, 1.0))), (2L, None), (3L, Some(Seq(4.0, 6.0))), (4L, Some(Seq(0.9))))
      .toDF("corpus_id", "cv")
    val k = kernelAssign(crafted, cells).as[(Long, Long)].collect().toMap
    assert(k === composedAssign(crafted, cells).as[(Long, Long)].collect().toMap)
    assert(k === Map(1L -> 4L, 2L -> 4L, 3L -> 7L, 4L -> 9L))
  }

  test("brute-force and IVF top-k equal the row_number() window ranking they replaced") {
    val emb     = graft.Tables.embeddings(spark, sf())
    val queries = emb.filter($"vec_id" < 8)
    val scored = emb.select(col("vec_id").as("corpus_id"), transform(col("embedding"), _.cast("double")).as("cv"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"), transform(col("embedding"), _.cast("double")).as("qv"))),
        col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", round(Similarity.cosine(col("qv"), col("cv")), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    val viaWindow = scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 7)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank").cast("long"))
      .as[(Long, Long, Double, Long)].collect().toSet
    val viaHeap = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 7)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaHeap === viaWindow)
    // with one cell every corpus row is probed: IVF is brute force
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 7, nCells = 1, nProbe = 1)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(ivf === viaWindow)
  }
}
