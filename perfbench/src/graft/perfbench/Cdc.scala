package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Envelope
import graft.streaming.Pipelines

/** Staging, checking and probing helpers of the CDC workload. */
object CdcCommon {
  /** Run an envelope staging step `reps` times into fresh directories and
    * keep the last; returns (kept dir, median seconds).
    */
  def stageRepeated(ctx: Ctx, label: String, reps: Int)(write: Path => Unit): (Path, Double) = {
    val runs = (1 to reps).map { _ =>
      val d = ctx.dir(label)
      val (_, ms) = Stats.timeMs(write(d))
      (d, ms / 1000.0)
    }
    runs.init.foreach(r => Files2.deleteTree(r._1))
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  /** Sink check for the enrich pipelines: every valid generated envelope
    * (identified by its ts_ms) is in exactly one sink (success if the
    * dimension has its id, else DLQ) under its own id, with the
    * dimension's name on success rows; nothing else is in either.
    * `exp` is Gen.expectedSinks with `sink` renamed `want`, `ok` has
    * (ts_ms, id, name), `dlq` has (ts_ms, id).
    */
  def checkSinks(exp: DataFrame, ok: DataFrame, dlq: DataFrame): Seq[String] = {
    val got = ok.select(col("ts_ms"), col("id"), lit(1).as("sink"),
        (col("name") === concat(lit("animal-"), col("id").cast("string"))).cast("int").as("good"))
      .union(dlq.select(col("ts_ms"), col("id"), lit(2).as("sink"), lit(1).as("good")))
      .groupBy("ts_ms")
      .agg(count(lit(1)).as("n"), min("sink").as("s_lo"), max("sink").as("s_hi"), min("good").as("good"),
        min("id").as("id_lo"), max("id").as("id_hi"))
    def flag(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val r = got.join(exp, Seq("ts_ms"), "full_outer").agg(
      flag(col("want").isNull), flag(col("n").isNull), flag(col("n") > 1),
      flag(col("s_lo") =!= col("want") || col("s_hi") =!= col("want")),
      flag(col("id_lo") =!= col("id") || col("id_hi") =!= col("id") || col("good") === 0)
    ).head()
    Seq("envelopes that must not be in any sink (tombstone/delete/id=0/unknown)", "valid envelopes missing from both sinks",
      "envelopes written more than once", "envelopes in the wrong sink (success vs DLQ)", "rows with a wrong id or enrichment")
      .zipWithIndex.flatMap { case (what, i) =>
        val k = Option(r.get(i)).map(_.asInstanceOf[Long]).getOrElse(0L)
        if (k > 0) Some(s"$k $what") else None
      }
  }

  /** A landing zone holding hard links to the first `n` files of `from`:
    * the warm-up drains over it, so JIT and plan caches are warm before
    * timing without paying for a whole extra drain.
    */
  def warmLanding(ctx: Ctx, from: Path, n: Int): Path = {
    val d = ctx.dir("warm")
    Files2.list(from, ".parquet").take(n).foreach(f => Files.createLink(d.resolve(f.getFileName), f))
    d
  }

  def dimFrame(spark: SparkSession, dimPath: Path): () => DataFrame =
    () => spark.read.parquet(Files2.uri(dimPath))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The micro-batch body run as batch work on a slice of the landing
    * zone the size of a median batch (traced run only).
    *
    * `streaming.batch_equiv_ms` is the body exactly as the pipeline runs
    * it (cache the slice, Pipelines.enrichBatch, write both branches).
    * The per-layer figures come from a staged run, one layer at a time
    * with each layer's input cached: scan (cache the slice), filter
    * (Envelope.extractAfter), enrich (enrichBatch, both branches cached;
    * it filters on its own, so enrich.ms is its time minus the filter's)
    * and sink (write the cached branches as parquet).
    */
  def batchEquivalent(ctx: Ctx, t: Tracer, files: Seq[Path], dimPath: Path): Seq[(String, Double)] = {
    val spark = ctx.spark
    val dim   = dimFrame(spark, dimPath)
    val slice = spark.read.schema(Gen.sourceSchema).parquet(files.map(Files2.uri): _*)
    def write(ok: DataFrame, failed: DataFrame, okDir: Path, dlqDir: Path): Unit = {
      ok.write.mode("overwrite").parquet(Files2.uri(okDir))
      failed.write.mode("overwrite").parquet(Files2.uri(dlqDir))
    }
    def once(): Seq[Double] = {
      val dirs = Seq("probe-ok", "probe-dlq", "probe-ok2", "probe-dlq2").map(ctx.dir)
      try {
        val body = Stats.timeMs(t.span("streaming", "batch_equiv") {
          slice.persist()
          try {
            val (ok, failed) = Pipelines.enrichBatch(slice, dim(), "id", Gen.DimCols)
            write(ok, failed, dirs(0), dirs(1))
          } finally slice.unpersist(blocking = true)
        })._2
        val (ok, failed) = Pipelines.enrichBatch(slice, dim(), "id", Gen.DimCols)
        try {
          val scan   = Stats.timeMs(t.span("sources", "scan")(slice.persist().count()))._2
          val filter = Stats.timeMs(t.span("cdc", "filter")(noop(Envelope.extractAfter(slice))))._2
          val enr    = Stats.timeMs(t.span("enrich", "enrich_batch") { ok.persist().count(); failed.persist().count() })._2
          val sink   = Stats.timeMs(t.span("sources", "sink_write")(write(ok, failed, dirs(2), dirs(3))))._2
          Seq(body, scan, filter, math.max(0.0, enr - filter), sink)
        } finally Seq(ok, failed, slice).foreach(_.unpersist(blocking = true))
      } finally dirs.foreach(Files2.deleteTree)
    }
    once() // warm the probe plans
    val runs = (1 to 3).map(_ => once())
    val Seq(body, scan, filter, enr, sink) = (0 until 5).map(i => Stats.median(runs.map(_(i))))
    Seq(
      "streaming.batch_equiv_ms" -> body,
      "sources.scan_ms"          -> scan,
      "cdc.filter_ms"            -> filter,
      "enrich.ms"                -> enr,
      "sources.sink_write_ms"    -> sink
    )
  }

  /** Per-batch breakdown of the median trigger into layer self times:
    * the staged layer figures scaled to sum to the batch-equivalent body,
    * source listing, and the rest (`streaming.overhead_ms` minus listing:
    * planning, offset/commit logs, scheduling) as the streaming layer's.
    */
  def layerShares(m: Map[String, Double]): Seq[(String, Double)] = {
    def g(k: String) = m.getOrElse(k, 0.0)
    val trigger  = g("streaming.trigger_ms_p50")
    val body     = g("streaming.batch_equiv_ms")
    val overhead = trigger - body
    val write    = g("sources.sink_write_ms")
    val staged   = g("sources.scan_ms") + g("cdc.filter_ms") + g("enrich.ms") + write
    val scale    = if (staged > 0) body / staged else 0.0
    Seq(
      "streaming.overhead_ms"   -> overhead,
      "streaming.overhead_frac" -> (if (trigger > 0) overhead / trigger else 0.0),
      "sources.self_ms"         -> (g("sources.list_ms") + scale * (g("sources.scan_ms") + write)),
      "cdc.self_ms"             -> scale * g("cdc.filter_ms"),
      "enrich.self_ms"          -> scale * g("enrich.ms"),
      "streaming.self_ms"       -> (overhead - g("sources.list_ms"))
    )
  }

  /** Row accounting of a generated envelope range (cdc/enrich layers). */
  def rowAccounting(spark: SparkSession, seed: Long, n: Long, keys: Long): Seq[(String, Double)] = {
    val exp  = Gen.expectedSinks(spark, seed, 0, n, keys)
    val kept = exp.count().toDouble
    val dlq  = exp.filter(col("sink") === 2).count().toDouble
    Seq(
      "cdc.rows_in"     -> n.toDouble,
      "cdc.keep_frac"   -> kept / n,
      "enrich.hit_frac" -> (if (kept > 0) (kept - dlq) / kept else 0.0),
      "enrich.dlq_rows" -> dlq
    )
  }
}

/** cdc_backlog: a pre-landed envelope backlog drained with AvailableNow
  * through Pipelines.startEnrichPipeline (parquet batch=<id> sinks),
  * admission-limited into large micro-batches. Per-row work dominates.
  */
object CdcBacklog {
  val Rows        = 180000L
  val Keys        = 20000L
  val RowsPerFile = 5000
  val BatchFiles  = 12 // 60 k rows per micro-batch, 3 batches
  val WarmDrains  = 3

  /** One drain; its sinks stay on disk until `verify` checks them. */
  final case class Drain(wallMs: Double, batches: Seq[BatchProgress], ok: Path, dlq: Path, ckpt: Path,
      sinkFiles: Long, sinkBytes: Long) {
    def rowsIn: Long = batches.map(_.rows).sum
    def rowsPerS: Double = rowsIn / (wallMs / 1000.0)
  }

  def drain(ctx: Ctx, landing: Path, dimPath: Path, name: String): Drain = {
    val spark = ctx.spark
    val ok = ctx.dir("ok"); val dlq = ctx.dir("dlq"); val ck = ctx.dir("ckpt")
    val src = spark.readStream.schema(Gen.sourceSchema).option("maxFilesPerTrigger", BatchFiles.toLong).parquet(Files2.uri(landing))
    val t0 = System.nanoTime()
    val q = Pipelines.startEnrichPipeline(name, src, CdcCommon.dimFrame(spark, dimPath), "id", Gen.DimCols,
      Files2.uri(ok), Files2.uri(dlq), Files2.uri(ck))
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e6
    val bs = q.recentProgress.toSeq.map(BatchProgress.of)
    val (okFiles, okBytes) = Files2.treeBytes(ok); val (dlqFiles, dlqBytes) = Files2.treeBytes(dlq)
    Drain(wall, bs, ok, dlq, ck, okFiles + dlqFiles, okBytes + dlqBytes)
  }

  /** Check a full drain's sinks against the cached expectation, then
    * delete them.
    */
  def verify(ctx: Ctx, exp: DataFrame, d: Drain): Seq[String] = {
    val spark = ctx.spark
    val problems = (if (d.rowsIn != Rows) Seq(s"drain read ${d.rowsIn} envelope rows, generated $Rows") else Nil) ++
      CdcCommon.checkSinks(exp,
        spark.read.parquet(Files2.uri(d.ok)).select(col("ts_ms"), col("key.id").as("id"), col("name")),
        spark.read.parquet(Files2.uri(d.dlq)).select(col("value.after.ts_ms").as("ts_ms"), col("key.id").as("id")))
    discard(d)
    problems
  }

  def discard(d: Drain): Unit = Seq(d.ok, d.dlq, d.ckpt).foreach(Files2.deleteTree)

  def run(ctx: Ctx, o: Outcome, sessionS: Double): Unit = {
    val spark = ctx.spark
    val (landing, genS) = CdcCommon.stageRepeated(ctx, "backlog", 3) { d =>
      Gen.envelopes(spark, ctx.seed, 0, Rows, 4, Keys).write.option("maxRecordsPerFile", RowsPerFile.toLong).parquet(Files2.uri(d.resolve("landing")))
      Gen.dimension(spark, ctx.seed, Keys).write.parquet(Files2.uri(d.resolve("dim")))
    }
    val dimPath = landing.resolve("dim")
    val land    = landing.resolve("landing")
    // warm-up: full drains; drains keep getting faster for several more,
    // which the faster-half mean of the timed drains absorbs
    val warmMs = Stats.timeMs((1 to WarmDrains).foreach(_ => discard(drain(ctx, land, dimPath, "cdc_backlog_warm"))))._2
    o.setup(ctx.workload, sessionS, genS, warmMs / 1000.0)

    // timed drains back to back; their outputs are checked after the loop
    val t = if (ctx.trace) Some(new Tracer(spark, s"cdc_backlog-${ctx.seed}")) else None
    val ops = Loop.timed(ctx.seconds, t, (d: Drain) => d.wallMs) { traced =>
      val d = drain(ctx, land, dimPath, s"cdc_backlog_timed")
      t.filter(_ => traced).foreach(tr => BatchProgress.toSpans(tr, d.batches))
      d
    }
    val ds = ops.map(_._1)
    val exp = Gen.expectedSinks(spark, ctx.seed, 0, Rows, Keys).withColumnRenamed("sink", "want").persist()
    try ds.foreach(d => o.op(verify(ctx, exp, d))) finally exp.unpersist(blocking = true)
    System.err.println(s"[cdc_backlog] timed drains (ms): ${ds.map(d => f"${d.wallMs}%.0f").mkString(", ")}")
    if (t.isEmpty) {
      o.e2e("rows_per_s") = Stats.upperHalfMean(ds.map(_.rowsPerS))
      return
    }

    val tr = t.get
    val traced = ops.collect { case (d, true) => d }
    val stream = BatchProgress.metrics(traced.flatMap(_.batches))
    val probeFiles = Files2.list(land, ".parquet").take(BatchFiles)
    val probe = CdcCommon.batchEquivalent(ctx, tr, probeFiles, dimPath)
    val m = (stream ++ probe).toMap
    val accounting = CdcCommon.rowAccounting(spark, ctx.seed, Rows, Keys)
    // stops the session: nothing below may use `spark`
    val oneCore = Main.oneCoreReference(ctx, CdcCommon.warmLanding(ctx, land, 2 * BatchFiles), dimPath)
    o.layer ++= stream ++ probe ++ CdcCommon.layerShares(m) ++
      tr.sessionMetrics(traced.map(_.wallMs).sum, ctx.cores) ++ accounting ++ Seq(
        "sources.scan_bytes"         -> tr.c.inputBytes.toDouble / traced.size,
        "sources.sink_files"         -> traced.last.sinkFiles.toDouble,
        "sources.sink_bytes"         -> traced.last.sinkBytes.toDouble,
        "bench.trace_overhead_frac"  -> Loop.overhead(ops, (d: Drain) => d.wallMs),
        "bench.rows_per_s_1core"     -> oneCore
      )
    tr.write(ctx.out.resolve(s"trace-cdc_backlog-${ctx.seed}.json"), "cdc_backlog", ctx.seed, o.layer.toSeq)
  }
}
