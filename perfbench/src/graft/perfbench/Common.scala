package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything one benchmark run knows about its invocation. */
final case class Ctx(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: Path,
    out: Path,
    cores: Int
) {
  /** A fresh directory under the run's scratch root. */
  def dir(label: String): Path = {
    val d = work.resolve("data").resolve(f"${Ctx.dirs.incrementAndGet()}%03d-$label")
    Files.createDirectories(d)
    d
  }
}

object Ctx {
  private val dirs = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Outcome of one run: the contract's result line plus metric values. */
final class Outcome {
  var attempted = 0L
  var failed    = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  val e2e   = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Record one timed operation; `problem` non-empty marks it failed. */
  def op(problem: Seq[String]): Unit = {
    attempted += 1
    if (problem.nonEmpty) {
      failed += 1
      problems ++= problem
      problem.foreach(p => System.err.println(s"[check] FAILED: $p"))
    }
  }
  def correct: Boolean = problems.isEmpty

  /** setup_s = JVM and session start + median input staging + warm-up. */
  def setup(workload: String, sessionS: Double, stageS: Double, warmS: Double): Unit = {
    e2e("setup_s") = sessionS + stageS + warmS
    System.err.println(f"[$workload] setup: session $sessionS%.2f s, staging (median) $stageS%.2f s, warm-up $warmS%.2f s")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (same convention as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Mean of the larger half of `xs`: over per-operation throughputs, the
    * faster half of the operations, so a run's figure is not set by
    * operations still slowed by JIT warm-up or by a transiently busy host.
    */
  def upperHalfMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of an empty sample")
    val top = xs.sorted.takeRight((xs.size + 1) / 2)
    top.sum / top.size
  }

  def nowMs: Double = System.nanoTime() / 1e6

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r  = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Loop {
  /** Whether a timed loop starts another operation: always the first,
    * then only if a typical one (the median so far) would end no later
    * than half an operation past the deadline.
    */
  def more(doneMs: Seq[Double], endMs: Double): Boolean =
    doneMs.isEmpty || Stats.nowMs + Stats.median(doneMs) / 2 < endMs

  /** Timed operations back to back for `seconds`. With a tracer every
    * second operation runs traced (listeners installed), so traced and
    * untraced operations interleave and the overhead comparison is not
    * skewed by warm-up drift. Returns (result, traced) pairs.
    */
  def timed[T](seconds: Double, tracer: Option[Tracer], wallMs: T => Double)(op: Boolean => T): Seq[(T, Boolean)] = {
    val end = Stats.nowMs + seconds * 1000
    val out = mutable.ArrayBuffer.empty[(T, Boolean)]
    while (more(out.map(r => wallMs(r._1)).toSeq, end)) {
      val traced = tracer.isDefined && out.size % 2 == 1
      if (traced) tracer.get.install()
      val r = try op(traced) finally if (traced) tracer.get.remove()
      out += r -> traced
    }
    out.toSeq
  }

  /** Traced-vs-untraced difference of the median operation time. */
  def overhead[T](ops: Seq[(T, Boolean)], wallMs: T => Double): Double = {
    val (tr, plain) = ops.partition(_._2)
    if (tr.isEmpty || plain.isEmpty) 0.0
    else Stats.median(tr.map(r => wallMs(r._1))) / Stats.median(plain.map(r => wallMs(r._1))) - 1.0
  }
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists(_))
    }

  def list(p: Path, suffix: String): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix)).toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }

  def treeBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }

  def uri(p: Path): String = p.toUri.toString
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
