package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Session-scoped cache of eagerly-materialized shared stages (r14).
  *
  * Several query families derive from one expensive intermediate a real
  * pipeline would materialize once per corpus/fact snapshot and fan out
  * over: the B3 banded-LSH verified-pair table (14 dedup/curation
  * audits), the calibration pair statistics (B103/B265), and the
  * support-pruned co-purchase edge list (11 graph queries). Re-deriving
  * those per query is honest for a one-query session but mispriced for
  * a bench/verify session running the whole registry — the
  * materialize-once shape is what the 100 TB deployment does (the edge
  * list / pair table lands in storage; audits read it).
  *
  * Keying: (same SparkSession) ∧ (params string equal) ∧ (analyzed plan
  * `sameResult`). Never a bare hash — two distinct corpora (a filtered
  * subset, a staged union, another sf dir) must never alias. Entries are
  * built by the caller as EAGER localCheckpoints and live for the
  * session; pinned sizes are stage-output-sized (pair lists, edge
  * lists), not corpus-sized.
  *
  * Concurrency + lifetime (r15, per the r14 advice):
  *  - entries of a STOPPED SparkSession are evicted on every lookup, so
  *    a long-lived JVM cycling sessions (parallel test suites, repeated
  *    Verify mains) can't accumulate dead DataFrames;
  *  - so are entries whose checkpoint blocks are gone (an RDD behind the
  *    cached frame left `getPersistentRDDs`): such a frame can never be
  *    served again, and it pins its session. A job that unpersists the
  *    context's blocks and moves to a `newSession()` (perfbench's
  *    llm_curate) leaves exactly these behind;
  *  - the (potentially multi-second) Spark build job runs OUTSIDE the
  *    global lock, under a per-(session, params) latch with a
  *    double-checked lookup — concurrent callers of DIFFERENT stages no
  *    longer serialize on one monitor, while two racers on the SAME
  *    stage still build it exactly once.
  *
  * Bench contract: the per-query storage-isolation sweep
  * (`Bench.releaseStorage`, run by `Bench.runOnce` and `tools.Profile`)
  * consults `protectedIds` and skips these blocks — unpersisting a
  * localCheckpoint is unrecoverable (truncated lineage), so evicting a
  * deliberate cross-query materialization would crash later consumers,
  * not just slow them. Build wall-time is metered into `drainBuildNanos`
  * so the bench can attribute the one-off stage build to whichever timed
  * query triggered it (`stage build` tagging — keeps drift history
  * comparable under a reordered run). PairCacheSpec pins the
  * hit/alias/sweep semantics.
  */
private[graft] object SessionStageCache {
  private final case class Entry(
      session: SparkSession,
      params: String,
      plan: LogicalPlan,
      df: DataFrame,
      rddIds: Set[Int],
      backing: Seq[Int])

  private val entries    = scala.collection.mutable.ArrayBuffer.empty[Entry]
  private val latches    = scala.collection.mutable.HashMap.empty[(SparkSession, String), AnyRef]
  private val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  def protectedIds: Set[Int] = synchronized {
    evictDead()
    entries.iterator.flatMap(_.rddIds).toSet
  }

  /** Nanoseconds spent inside cache-miss stage builds since the last
    * drain. The bench drains this after every timed trial and records it
    * as that query's `build` cost, subtracted in history comparison so
    * the figure a query ships is its MARGINAL cost regardless of which
    * consumer ran first.
    */
  def drainBuildNanos(): Long = buildNanos.getAndSet(0L)

  // caller must hold the global lock
  private def evictDead(): Unit = {
    val persistent = scala.collection.mutable.HashMap.empty[SparkContext, collection.Set[Int]]
    var i = entries.size - 1
    while (i >= 0) {
      val e  = entries(i)
      val sc = e.session.sparkContext
      if (sc.isStopped || !e.backing.forall(persistent.getOrElseUpdate(sc, sc.getPersistentRDDs.keySet))) {
        entries.remove(i)
        latches.remove((e.session, e.params))
      }
      i -= 1
    }
    latches.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
  }

  private def lookup(s: SparkSession, params: String, plan: LogicalPlan): Option[DataFrame] =
    synchronized {
      evictDead()
      entries.collectFirst {
        case e if (e.session eq s) && e.params == params && e.plan.sameResult(plan) => e.df
      }
    }

  def getOrCompute(input: DataFrame, params: String)(build: => DataFrame): DataFrame = {
    val s    = input.sparkSession
    val plan = input.queryExecution.analyzed
    lookup(s, params, plan).getOrElse {
      // Per-(session, params) latch: racers on the same stage serialize
      // here and the loser hits the double-checked lookup; different
      // stages build concurrently. (Two distinct input plans under one
      // params string share a latch — they still each get their own
      // entry, the rare collision just serializes their builds.)
      val latch = synchronized(latches.getOrElseUpdate((s, params), new Object))
      latch.synchronized {
        lookup(s, params, plan).getOrElse {
          // snapshot-diff the persistent-RDD ids around the build: the
          // stage's eager localCheckpoints are whatever survives the
          // build's own persist/unpersist pairs
          val before = s.sparkContext.getPersistentRDDs.keySet
          val t0     = System.nanoTime()
          val out    = build
          buildNanos.addAndGet(System.nanoTime() - t0)
          val after  = s.sparkContext.getPersistentRDDs.keySet
          // the persisted (checkpointed) RDDs the frame reads, this
          // build's or an earlier entry's; a LocalRelation frame has none
          val backing = out.queryExecution.logical.collectLeaves().collect {
            case r: LogicalRDD if after(r.rdd.id) => r.rdd.id
          }
          synchronized {
            entries += Entry(s, params, plan, out, (after -- before).toSet, backing)
            System.err.println(s"[stagecache] built $params (${entries.size} entries live)")
          }
          out
        }
      }
    }
  }
}
