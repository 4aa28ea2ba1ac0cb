package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder.
  *
  * Spans are taken by the benchmark around its own calls into each layer
  * (name, layer, start, end, parent, run id, batch id), kept in memory
  * and written once at the end. Engine counters come from a
  * SparkListener, a QueryExecutionListener and a StreamingQueryListener
  * that exist only while a traced window is open; untraced runs register
  * none of them.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer.Span

  private val spans  = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(0)
  private val stack  = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](layer: String, name: String, batch: Long = -1L)(body: => T): T = {
    val id     = nextId.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0)
    stack.set(id :: stack.get())
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      spans.synchronized(spans += Span(id, name, layer, parent, batch, t0, t1))
    }
  }

  /** Record an engine-reported interval (e.g. a micro-batch phase). */
  def addSpan(layer: String, name: String, parent: Int, batch: Long, startNs: Long, endNs: Long): Int = {
    val id = nextId.incrementAndGet()
    spans.synchronized(spans += Span(id, name, layer, parent, batch, startNs, endNs))
    id
  }

  // ---- engine counters (only while installed) ----
  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, gcMs, shuffleW, shuffleR, spill, inputBytes = 0L
    var planMs, execMs = 0.0
    val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    val stageWall  = mutable.HashMap.empty[Int, Long]
    val progress   = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  }
  val c = new Counters

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized(c.jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.synchronized {
      c.stages += 1
      val i = e.stageInfo
      for (s <- i.submissionTime; f <- i.completionTime) c.stageWall(i.stageId) = f - s
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.synchronized {
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleW += m.shuffleWriteMetrics.bytesWritten
        c.shuffleR += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
      c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, ns: Long): Unit = c.synchronized {
      c.planMs += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      c.execMs += ns / 1e6
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      c.synchronized(c.progress += e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var installed = false

  /** Open a traced window: listeners registered; counters accumulate
    * over every window of this tracer.
    */
  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    installed = true
  }

  /** Close the window: deliver pending events, then unregister. */
  def remove(): Unit = if (installed) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    installed = false
  }

  /** Also count the query executions of `s`, another session of the same
    * context, while `body` runs (listeners on the context are shared, the
    * query-execution listener is per session).
    */
  def inSession[T](s: SparkSession)(body: => T): T = {
    s.listenerManager.register(qeListener)
    try body
    finally {
      org.apache.spark.PerfbenchBus.drain(s.sparkContext)
      s.listenerManager.unregister(qeListener)
    }
  }

  /** Session-layer metrics of the window just closed. */
  def sessionMetrics(wallMs: Double, cores: Int): Seq[(String, Double)] = c.synchronized {
    val longest = c.stageWall.toSeq.sortBy(-_._2).headOption.map(_._1)
    val skew = longest.flatMap(c.stageTasks.get).filter(_.nonEmpty).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    }.getOrElse(0.0)
    Seq(
      "session.plan_ms"             -> c.planMs,
      "session.exec_ms"             -> c.execMs,
      "session.plan_frac"           -> (if (c.execMs > 0) c.planMs / c.execMs else 0.0),
      "session.jobs"                -> c.jobs.toDouble,
      "session.stages"              -> c.stages.toDouble,
      "session.tasks"               -> c.tasks.toDouble,
      "session.task_busy_frac"      -> c.runMs / math.max(1.0, wallMs * cores),
      "session.shuffle_write_bytes" -> c.shuffleW.toDouble,
      "session.shuffle_read_bytes"  -> c.shuffleR.toDouble,
      "session.spill_bytes"         -> c.spill.toDouble,
      "session.gc_ms"               -> c.gcMs.toDouble,
      "session.failed_tasks"        -> c.failedTasks.toDouble,
      "session.task_skew"           -> skew
    )
  }

  /** Self time per layer: a span's duration minus the part its children
    * cover, summed by layer.
    */
  def selfMs: Map[String, Double] = spans.synchronized {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => math.min(k.endNs, s.endNs) - math.max(k.startNs, s.startNs)).filter(_ > 0).sum
      s.layer -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(path: Path, workload: String, seed: Long, metrics: Seq[(String, Double)]): Unit = {
    val t0 = spans.synchronized(if (spans.isEmpty) 0L else spans.map(_.startNs).min)
    val spanJson = spans.synchronized(spans.toSeq.sortBy(_.startNs)).map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "run" -> Json.str(runId), "batch" -> s.batch.toString,
        "start_ms" -> Json.num((s.startNs - t0) / 1e6), "end_ms" -> Json.num((s.endNs - t0) / 1e6)))
    }
    val body = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed"     -> seed.toString,
      "run"      -> Json.str(runId),
      "self_ms"  -> Json.obj(selfMs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "metrics"  -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "batches"  -> c.synchronized(c.progress.map(_.json).mkString("[\n", ",\n", "\n]")),
      "spans"    -> spanJson.mkString("[\n", ",\n", "\n]")
    ))
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, layer: String, parent: Int, batch: Long, startNs: Long, endNs: Long)
}

/** Per-batch streaming figures from a query's progress reports. */
final case class BatchProgress(
    batchId: Long,
    startMs: Double,
    rows: Long,
    durations: Map[String, Long]
) {
  def triggerMs: Double = durations.getOrElse("triggerExecution", 0L).toDouble
  def endMs: Double     = startMs + triggerMs
  def d(k: String): Double = durations.getOrElse(k, 0L).toDouble
}

object BatchProgress {
  def of(p: StreamingQueryProgress): BatchProgress =
    BatchProgress(
      p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)

  /** Streaming-layer metrics over the batches that read input. */
  def metrics(all: Seq[BatchProgress]): Seq[(String, Double)] = {
    val bs = all.filter(_.rows > 0)
    if (bs.isEmpty) return Nil
    def p50(f: BatchProgress => Double) = Stats.median(bs.map(f))
    Seq(
      "streaming.batches"              -> bs.size.toDouble,
      "streaming.rows_per_batch_p50"   -> p50(_.rows.toDouble),
      "streaming.trigger_ms_p50"       -> p50(_.triggerMs),
      "streaming.trigger_ms_p99"       -> Stats.quantile(bs.map(_.triggerMs), 0.99),
      "streaming.add_batch_ms_p50"     -> p50(_.d("addBatch")),
      "streaming.planning_ms_p50"      -> p50(_.d("queryPlanning")),
      "streaming.wal_commit_ms_p50"    -> p50(_.d("walCommit")),
      "streaming.offset_commit_ms_p50" -> p50(_.d("commitOffsets")),
      "sources.list_ms"                -> p50(b => b.d("latestOffset") + b.d("getBatch"))
    )
  }

  /** Turn batches into spans: one `streaming` span per batch, with its
    * source-listing and planning phases as children.
    */
  def toSpans(t: Tracer, bs: Seq[BatchProgress]): Unit = {
    val ms2ns = (ms: Double) => (ms * 1e6).toLong
    // progress timestamps are wall-clock; spans are on the nanoTime axis
    val shift = System.nanoTime() / 1e6 - System.currentTimeMillis()
    bs.foreach { b =>
      val s = b.startMs + shift
      val id = t.addSpan("streaming", "micro_batch", 0, b.batchId, ms2ns(s), ms2ns(s + b.triggerMs))
      val list = b.d("latestOffset") + b.d("getBatch")
      t.addSpan("sources", "list", id, b.batchId, ms2ns(s), ms2ns(s + list))
      t.addSpan("session", "query_planning", id, b.batchId, ms2ns(s + list), ms2ns(s + list + b.d("queryPlanning")))
    }
  }
}
