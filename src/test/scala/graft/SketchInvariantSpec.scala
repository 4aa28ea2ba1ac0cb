package graft

import org.apache.spark.sql.functions._

import graft.streaming.{HistQuantiles, KmvSketch}

/** Cross-implementation parity for the round-10 sketch pairs: the BATCH
  * SQL queries and the STREAMING flatMapGroupsWithState operators must
  * implement the same math — proven by replaying each batch result
  * through the streaming operator's own scala kernels over the raw
  * fixture data (a third, independent path beside the DuckDB oracle).
  */
class SketchInvariantSpec extends GraftSpecBase {

  test("events_latency_digest equals HistQuantiles' bucket kernels replayed over raw values") {
    val got = SparkEntry.queries("events_latency_digest")(spark, sf())
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val raw = Tables.events(spark, sf())
      .select(col("event_type"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    raw.foreach { case (tpe, values) =>
      val counts = new Array[Long](1024)
      values.foreach(x => counts(HistQuantiles.bucketOf(math.round(x * 1000000.0))) += 1L)
      val n = counts.sum
      val expected = (n,
        HistQuantiles.quantile(counts, n, 1, 2),
        HistQuantiles.quantile(counts, n, 9, 10),
        HistQuantiles.quantile(counts, n, 99, 100))
      assert(got(tpe) === expected, s"type $tpe")
    }
  }

  test("events_kmv_distinct equals KmvSketch's hash + estimate kernels over distinct users") {
    val got = SparkEntry.queries("events_kmv_distinct")(spark, sf())
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val raw = Tables.events(spark, sf())
      .select(col("event_type"), col("user_id")).distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    raw.foreach { case (tpe, users) =>
      val hashes = users.map(u => KmvSketch.hash52(u.toString)).distinct.sorted.toArray
      val exact = hashes.length.toLong
      val (est, _) = KmvSketch.estimate(64, hashes.take(64), users.size.toLong)
      assert(got(tpe) === ((exact, est)), s"type $tpe")
    }
  }
}
