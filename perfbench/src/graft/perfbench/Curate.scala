package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SessionStageCache, Similarity, TextAnalysis}

/** llm_curate: a batch curation job over a seeded documents/embeddings
  * corpus: TextAnalysis.withQuality + withLangId gate -> Dedup.minhashPairs
  * -> Dedup.connectedComponents -> keep one doc per cluster ->
  * Similarity.ivfTopK for near-copy queries. Shuffle- and operator-heavy;
  * never touches the streaming layer. Every job runs in a fresh session,
  * so it starts with a cold SessionStageCache.
  */
object LlmCurate {
  val Docs     = 20000L
  val NQueries = 64
  val K        = 10
  val NCells   = 16
  val NProbe   = 2
  val Tau      = 0.7
  val Shingle  = 3
  val WarmJobs = 1

  final case class Output(gated: Set[Long], pairs: Set[(Long, Long)], clusters: Map[Long, Long], topk: Seq[(Long, Long, Double, Long)]) {
    def digest: String = {
      val md = MessageDigest.getInstance("SHA-256")
      def add(s: String): Unit = md.update(s.getBytes(StandardCharsets.UTF_8))
      gated.toSeq.sorted.foreach(g => add(s"g$g;"))
      pairs.toSeq.sorted.foreach { case (a, b) => add(s"p$a,$b;") }
      clusters.toSeq.sorted.foreach { case (a, b) => add(s"c$a,$b;") }
      topk.sorted.foreach { case (q, c, cos, r) => add(s"t$q,$c,${"%.6f".formatLocal(java.util.Locale.ROOT, cos)},$r;") }
      md.digest().map(b => f"$b%02x").mkString
    }
  }

  /** What a correct job must return, derived from the generator alone. */
  final case class Truth(gated: Set[Long], pairs: Set[(Long, Long)], clusters: Map[Long, Long], kept: Set[Long], twins: Seq[Long], vecs: Map[Long, Array[Double]])

  def stage(ctx: Ctx, d: Path): Unit = {
    val spark = ctx.spark
    val docs = Gen.docs(spark, ctx.seed, Docs)
    docs.select("doc_id", "text").write.parquet(Files2.uri(d.resolve("docs")))
    docs.select("doc_id", "kind", "text_key").write.parquet(Files2.uri(d.resolve("truth")))
    Gen.embeddings(spark, ctx.seed, Docs).write.parquet(Files2.uri(d.resolve("emb")))
    val twins = spark.read.parquet(Files2.uri(d.resolve("truth")))
      .filter(col("kind") === 0 && col("text_key") === col("doc_id"))
      .orderBy(xxhash64(lit(ctx.seed), col("doc_id"), lit(99))).limit(NQueries)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    Gen.queries(spark, ctx.seed, twins).write.parquet(Files2.uri(d.resolve("queries")))
  }

  def truth(spark: SparkSession, d: Path): Truth = {
    val t = spark.read.parquet(Files2.uri(d.resolve("truth"))).filter(col("kind") === 0)
      .select("doc_id", "text_key").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val groups   = t.groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
    val pairs    = groups.flatMap(g => g.combinations(2).map(p => (p(0), p(1)))).toSet
    val clusters = groups.filter(_.size > 1).flatMap(g => g.map(_ -> g.head)).toMap
    val kept     = groups.map(_.head).toSet
    val twins = spark.read.parquet(Files2.uri(d.resolve("queries"))).select("doc_id").collect()
      .map(_.getLong(0) - Gen.QueryIdBase).toSeq
    val vecs = spark.read.parquet(Files2.uri(d.resolve("emb"))).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    Truth(t.map(_._1).toSet, pairs, clusters, kept, twins, vecs)
  }

  def check(o: Output, tr: Truth): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    if (o.gated != tr.gated) p += s"quality/language gate kept ${o.gated.size} docs, expected ${tr.gated.size} (${(o.gated diff tr.gated).size} unexpected)"
    if (o.pairs != tr.pairs) p += s"near-dup pairs: ${(tr.pairs diff o.pairs).size} missing, ${(o.pairs diff tr.pairs).size} unexpected"
    if (o.clusters != tr.clusters) p += s"connected components: ${o.clusters.count { case (k, v) => !tr.clusters.get(k).contains(v) }} docs mislabelled of ${tr.clusters.size}"
    def cos(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val byQ = o.topk.groupBy(_._1)
    tr.twins.foreach { twin =>
      val q  = Gen.QueryIdBase + twin
      val rs = byQ.getOrElse(q, Nil).sortBy(_._4)
      val qv = tr.vecs(twin).clone(); qv(0) += 1e-6
      if (rs.map(_._4) != (1L to K)) p += s"query $q: ranks ${rs.map(_._4).mkString(",")}, expected 1..$K"
      else if (rs.head._2 != twin) p += s"query $q: top-1 ${rs.head._2}, expected its near-copy $twin"
      rs.foreach { case (_, c, cs, _) =>
        if (!tr.kept(c)) p += s"query $q: result $c is not a kept document"
        else if (math.abs(cos(qv, tr.vecs(c)) - cs) > 2e-6) p += s"query $q: cosine of $c is $cs, expected ${cos(qv, tr.vecs(c))}"
      }
      if (rs.map(_._3).sliding(2).exists(w => w.size == 2 && w(0) < w(1))) p += s"query $q: cosines not descending"
    }
    p.toSeq.take(20)
  }

  /** A session for one job: SessionStageCache keys its entries on session
    * identity, so a fresh session starts with a cold stage cache. The
    * cached and checkpointed blocks of earlier jobs live in the shared
    * context and are unpersisted.
    */
  def coldSession(spark: SparkSession): SparkSession = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    SessionStageCache.drainBuildNanos()
    spark.newSession()
  }

  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  final case class Job(wallMs: Double, stageMs: Map[String, Double], buildMs: Double, cached: Long, out: Output)

  def job(ctx: Ctx, d: Path, t: Option[Tracer]): Job = {
    val spark = coldSession(ctx.spark)
    t.fold(runJob(spark, d, None))(tr => tr.inSession(spark)(runJob(spark, d, t)))
  }

  private def runJob(spark: SparkSession, d: Path, t: Option[Tracer]): Job = {
    def span[T](name: String)(body: => T): (T, Double) =
      Stats.timeMs(t.fold(body)(_.span("operators", name)(body)))
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(Files2.uri(d.resolve("docs")))
    val emb  = spark.read.parquet(Files2.uri(d.resolve("emb")))
    val qs   = spark.read.parquet(Files2.uri(d.resolve("queries")))
    val (gated, qualityMs) = span("quality") {
      TextAnalysis.withLangId(TextAnalysis.withQuality(docs, "text"), "text")
        .filter(col("quality_score") >= 0.5 && col("lang_pred") === "en")
        .select("doc_id", "text").localCheckpoint(true)
    }
    val (pairDf, minhashMs) = span("minhash") {
      val p = Dedup.minhashPairs(gated, "doc_id", "text", Shingle, Tau).select("id_a", "id_b")
      p.count()
      p
    }
    val (compDf, componentsMs) = span("components") {
      val c = Dedup.connectedComponents(pairDf)
      c.count()
      c
    }
    val (topk, ivfMs) = span("ivf") {
      val kept = gated.select("doc_id").join(compDf, col("doc_id") === col("id"), "left")
        .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id")).select("doc_id")
      Similarity.ivfTopK(emb.join(kept, "doc_id"), qs, "doc_id", "vec", K, NCells, NProbe).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    }
    val pairs = pairDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val comps = compDf.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val gatedIds = gated.select("doc_id").collect().map(_.getLong(0)).toSet
    val wall = (System.nanoTime() - t0) / 1e6
    val cached = cachedBytes(spark)
    Job(wall, Map("quality" -> qualityMs, "minhash" -> minhashMs, "components" -> componentsMs, "ivf" -> ivfMs),
      SessionStageCache.drainBuildNanos() / 1e6, cached, Output(gatedIds, pairs, comps, topk))
  }

  def run(ctx: Ctx, o: Outcome, sessionS: Double): Unit = {
    val spark = ctx.spark
    val (root, genS) = CdcCommon.stageRepeated(ctx, "corpus", 3)(d => stage(ctx, d))
    val tr = truth(spark, root)
    val pinned = Pinned.digest(ctx.seed)
    var digest: Option[String] = None
    def verify(j: Job): Unit = {
      val dg = j.out.digest
      val problems = check(j.out, tr) ++
        pinned.filter(_ != dg).map(p => s"output digest $dg differs from the digest pinned for seed ${ctx.seed} ($p)") ++
        digest.filter(_ != dg).map(p => s"output digest $dg differs from this run's first job ($p)")
      if (digest.isEmpty) {
        digest = Some(dg)
        System.err.println(s"[llm_curate] seed ${ctx.seed} output digest $dg" + (if (pinned.isEmpty) " (no pinned digest for this seed)" else " (matches pinned)"))
      }
      o.op(problems)
    }
    // checked warm-up job: the first job in a fresh JVM takes about twice
    // as long as later ones; the faster-half mean of the timed jobs absorbs
    // a first timed job that is still slower than the rest
    val warmMs = Stats.timeMs((1 to WarmJobs).foreach(_ => verify(job(ctx, root, None))))._2
    o.setup(ctx.workload, sessionS, genS, warmMs / 1000.0)

    val t = if (ctx.trace) Some(new Tracer(spark, s"llm_curate-${ctx.seed}")) else None
    val ops = Loop.timed(ctx.seconds, t, (j: Job) => j.wallMs) { traced =>
      val tt = t.filter(_ => traced)
      val j = tt.fold(job(ctx, root, None))(x => x.span("operators", "curate_job")(job(ctx, root, tt)))
      verify(j)
      j
    }
    val js = ops.map(_._1)
    System.err.println(s"[llm_curate] timed jobs (ms): ${js.map(j => f"${j.wallMs}%.0f").mkString(", ")}")
    if (t.isEmpty) {
      o.e2e("rows_per_s") = Stats.upperHalfMean(js.map(j => Docs / (j.wallMs / 1000.0)))
      return
    }

    val tc = t.get
    val traced = ops.collect { case (j, true) => j }
    def med(f: Job => Double) = Stats.median(traced.map(f))
    val last = traced.last.out
    o.layer ++= tc.sessionMetrics(traced.map(_.wallMs).sum, ctx.cores) ++ Seq(
      "operators.self_ms"         -> med(_.stageMs.values.sum),
      "operators.quality_ms"      -> med(_.stageMs("quality")),
      "operators.minhash_ms"      -> med(_.stageMs("minhash")),
      "operators.components_ms"   -> med(_.stageMs("components")),
      "operators.ivf_ms"          -> med(_.stageMs("ivf")),
      "operators.stage_build_ms"  -> med(_.buildMs),
      "operators.cached_bytes"    -> med(_.cached.toDouble),
      "operators.gate_pass_frac"  -> last.gated.size.toDouble / Docs,
      "operators.near_dup_pairs"  -> last.pairs.size.toDouble,
      "operators.dup_clusters"    -> last.clusters.values.toSet.size.toDouble,
      "operators.ivf_results"     -> last.topk.size.toDouble,
      "sources.scan_bytes"        -> tc.c.inputBytes.toDouble / traced.size,
      "bench.cached_mb"           -> med(_.cached.toDouble) / 1e6,
      "bench.trace_overhead_frac" -> Loop.overhead(ops, (j: Job) => j.wallMs)
    )
    tc.write(ctx.out.resolve(s"trace-llm_curate-${ctx.seed}.json"), "llm_curate", ctx.seed, o.layer.toSeq)
  }
}

/** Output digests of llm_curate pinned per seed (perfbench/digests.tsv,
  * located through the perfbench.digests system property).
  */
object Pinned {
  def digest(seed: Long): Option[String] =
    sys.props.get("perfbench.digests").map(java.nio.file.Paths.get(_)).filter(Files.exists(_)).flatMap { p =>
      Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+")).collectFirst { case Array(s, d) if s == seed.toString => d }
    }
}
