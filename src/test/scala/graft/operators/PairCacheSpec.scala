package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftSpecBase

/** Pins the r14 session pair-table cache semantics (Dedup.PairCache):
  * the B3 verified-pair stage is memoized per (session, input plan,
  * params) so the 14-query audit family shares one materialization per
  * bench/verify session — and the keying must be exact enough that
  * distinct corpora or parameters can never alias.
  */
class PairCacheSpec extends GraftSpecBase {

  test("same input plan + params returns the SAME materialized frame") {
    // two SEPARATE reads of the same parquet table: the cache must match
    // them via sameResult on the analyzed plan (reference keying would
    // miss; the whole point is that every query builds its own read)
    val a = Dedup.minhashPairs(graft.Tables.documents(spark, sf()), "doc_id", "text", 3, 0.5)
    val b = Dedup.minhashPairs(graft.Tables.documents(spark, sf()), "doc_id", "text", 3, 0.5)
    assert(a eq b, "second call must be a cache hit (same DataFrame instance)")
    // and the cache's checkpoint blocks are registered for the bench
    // sweep exemption
    assert(SessionStageCache.protectedIds.nonEmpty)
  }

  test("a different input plan gets its own entry (no aliasing)") {
    val full = Dedup.minhashPairs(graft.Tables.documents(spark, sf()), "doc_id", "text", 3, 0.5)
    val half = Dedup.minhashPairs(
      graft.Tables.documents(spark, sf()).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", 3, 0.5)
    assert(!(full eq half))
    // band collision is per-pair (independent of the rest of the corpus),
    // so the filtered corpus's pairs are EXACTLY the full pairs whose
    // both members survive the filter — a cache alias would break this
    val fullPairs = full.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val halfPairs = half.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(halfPairs === fullPairs.filter(p => p._1 % 2 == 0 && p._2 % 2 == 0))
  }

  test("different params get their own entry") {
    val tau5 = Dedup.minhashPairs(graft.Tables.documents(spark, sf()), "doc_id", "text", 3, 0.5)
    val tau8 = Dedup.minhashPairs(graft.Tables.documents(spark, sf()), "doc_id", "text", 3, 0.8)
    assert(!(tau5 eq tau8))
    assert(tau8.count() <= tau5.count())
    // every tau=0.8 pair is a tau=0.5 pair (the filter only tightens)
    assert(tau8.select("id_a", "id_b").exceptAll(tau5.select("id_a", "id_b")).isEmpty)
  }

  test("concurrent callers of the same stage build it exactly once (per-key latch)") {
    // r15: the build runs outside the global lock under a per-(session,
    // params) latch — two racers must still produce ONE materialization
    // (double-checked lookup), and both get the same frame instance.
    val params = (7, 0.55) // geometry unused elsewhere in this suite → guaranteed cold
    val docs   = graft.Tables.documents(spark, sf())
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        val df = Dedup.minhashPairs(docs, "doc_id", "text", params._1, params._2)
        results.add(df)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    import scala.jdk.CollectionConverters._
    val distinct = results.asScala.toSeq.distinct
    assert(results.size === 4)
    assert(distinct.size === 1, "all racers must receive the same cached instance")
  }

  test("build wall-time is metered and drained for bench stage-build attribution") {
    SessionStageCache.drainBuildNanos() // clear residue from earlier tests
    // cold geometry → a real build happens inside this call
    Dedup.minhashPairs(graft.Tables.documents(spark, sf()), "doc_id", "text", 4, 0.45)
    val drained = SessionStageCache.drainBuildNanos()
    assert(drained > 0L, "a cache-miss build must meter its wall time")
    assert(SessionStageCache.drainBuildNanos() === 0L, "drain must reset the meter")
    // a cache HIT must not meter anything
    Dedup.minhashPairs(graft.Tables.documents(spark, sf()), "doc_id", "text", 4, 0.45)
    assert(SessionStageCache.drainBuildNanos() === 0L, "hits are free — no build cost")
  }

  test("cached frame survives a blocking unpersist sweep of UNPROTECTED rdds") {
    // mirror of Bench.runOnce's storage-isolation sweep: everything not
    // in SessionStageCache.protectedIds is unpersisted; the cached pair
    // table must stay consumable afterwards (a localCheckpoint that lost
    // its blocks cannot be recomputed)
    val cached = Dedup.minhashPairs(graft.Tables.documents(spark, sf()), "doc_id", "text", 3, 0.5)
    val before = cached.count()
    val protectedIds = SessionStageCache.protectedIds
    spark.sparkContext.getPersistentRDDs
      .filter(kv => !protectedIds(kv._1))
      .valuesIterator.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    assert(cached.count() === before)
    val again = Dedup.minhashPairs(graft.Tables.documents(spark, sf()), "doc_id", "text", 3, 0.5)
    assert(again.count() === before)
  }

  test("an entry whose checkpoint blocks are gone is evicted, and the next lookup rebuilds it") {
    // perfbench's llm_curate between jobs: unpersist the context's blocks,
    // move on in a new session; the old entry can never be served again
    val s      = spark.newSession()
    val before = SessionStageCache.protectedIds
    val first  = Dedup.minhashPairs(graft.Tables.documents(s, sf()), "doc_id", "text", 6, 0.6) // cold geometry
    val n      = first.count()
    val built  = SessionStageCache.protectedIds -- before
    assert(built.nonEmpty)
    built.foreach(id => s.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
    assert((SessionStageCache.protectedIds intersect built).isEmpty, "the dead entry must be evicted")
    val again = Dedup.minhashPairs(graft.Tables.documents(s, sf()), "doc_id", "text", 6, 0.6)
    assert(!(again eq first), "a dead entry must not be served")
    assert(again.count() === n)
    assert(Dedup.minhashPairs(graft.Tables.documents(s, sf()), "doc_id", "text", 6, 0.6) eq again)
  }
}
