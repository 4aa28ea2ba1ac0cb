package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSpecBase

/** The bounded-heap aggregate must be row-identical to the window top-k
  * it replaces, across partial/merge paths (scattered input forces
  * map-side heaps + serialization) and at tie boundaries.
  */
class TopKBySpec extends GraftSpecBase {
  import spark.implicits._

  test("heap top-k equals window top-k on fixture data across partitions") {
    val ev = graft.Tables.events(spark, sf())
      .select(col("event_type"), col("value"), col("event_id"))
      .repartition(13) // scatter: every group's rows span many partitions
    val viaHeap = ev
      .groupBy(col("event_type"))
      .agg(TopKBy.topKByLong(col("value"), col("event_id"), 5).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).as("rank"), col("col.score"), col("col.id"))
      .as[(String, Int, Double, Long)].collect().toSet
    val w = Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id").asc)
    val viaWindow = ev
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("event_type"), col("rank"), col("value"), col("event_id"))
      .as[(String, Int, Double, Long)].collect().toSet
    assert(viaHeap === viaWindow)
  }

  test("ties at the k boundary keep the smallest ids") {
    val df = Seq(
      (1L, 10.0, 1L), (1L, 10.0, 2L), (1L, 10.0, 3L), (1L, 10.0, 4L), (1L, 5.0, 5L)
    ).toDF("g", "s", "id").repartition(4)
    val top = df.groupBy(col("g"))
      .agg(TopKBy.topKByLong(col("s"), col("id"), 3).as("top"))
      .select(explode(col("top.id")).as("id")).as[Long].collect().toSet
    assert(top === Set(1L, 2L, 3L)) // id 4 loses the three-way boundary tie
    // SQL orders -0.0 and 0.0 as equal, so the id breaks their tie too
    val signed = Seq((1L, 0.0, 2L), (1L, -0.0, 1L)).toDF("g", "s", "id").repartition(2)
    val viaHeap = signed.groupBy(col("g"))
      .agg(TopKBy.topKByLong(col("s"), col("id"), 1).as("top"))
      .select(explode(col("top.id"))).as[Long].collect().toSeq
    val viaWindow = signed
      .withColumn("rank", row_number().over(Window.partitionBy(col("g")).orderBy(col("s").desc, col("id").asc)))
      .filter(col("rank") === 1).select("id").as[Long].collect().toSeq
    assert(viaWindow === Seq(1L))
    assert(viaHeap === viaWindow)
  }

  test("null scores and ids are skipped; registered SQL function works") {
    val df = Seq(
      (1L, Some(3.0), Some(7L)), (1L, None, Some(8L)), (1L, Some(9.0), None)
    ).toDF("g", "s", "id")
    df.createOrReplaceTempView("topk_in")
    val out = spark
      .sql("SELECT g, graft_topk_by(s, id, 2) AS top FROM topk_in GROUP BY g")
      .select(explode(col("top")).as("e")).select("e.score", "e.id")
      .as[(Double, Long)].collect().toSeq
    assert(out === Seq((3.0, 7L)))
  }
}
