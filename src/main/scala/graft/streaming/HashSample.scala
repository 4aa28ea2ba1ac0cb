package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming bottom-k-by-hash distinct sample on `flatMapGroupsWithState`
  * (SURVEY.md §2 B219): per key, the k distinct ids with the smallest
  * 52-bit md5 hashes ever seen — a uniform-without-replacement sample
  * of the key's full distinct-id history in O(k) state, and, unlike a
  * reservoir sample, a PURE FUNCTION of the distinct-id set: hash
  * ranking makes the sample independent of arrival order, batch
  * boundaries, partitioning, restarts and replays, and two nodes'
  * samples merge losslessly by min-set union (the KMV identity, B211 —
  * same state as `KmvSketch`, read as a sample instead of an
  * estimator). That determinism is what makes downstream jobs
  * reproducible: a batch job over the full history computes the
  * BIT-IDENTICAL sample, which the spec pins exactly rather than
  * statistically.
  *
  * Emission (Update mode, per touched batch): every current member with
  * its hash and rank, plus the inclusion threshold (the k-th smallest
  * hash; ids hashing above it are provably excluded — the certificate a
  * consumer needs to extend the sample consistently).
  */
object HashSample {

  case class SampleMember(key: String, id: String, hash: Long, rank: Int, threshold: Long)

  /** @param ds (key, id) rows — keep the k hash-smallest distinct ids per key */
  def perKey(
      ds: Dataset[(String, String)],
      k: Int = 64
  ): Dataset[SampleMember] = {
    require(k >= 1, s"hash sample needs k >= 1 (got $k)")
    // parallel arrays (hashes ascending, ids) — the bounded min-set
    val fold = new KeyedFold[String, (String, String), (Array[Long], Array[String]), SampleMember](
      Encoders.tuple(KeyedFold.longArrays, KeyedFold.stringArrays),
      (Array.empty[Long], Array.empty[String]))({
      (key, prev, rows) =>
        val (h0, id0) = prev
        // min-set union of (state ∪ batch), dedup by id — a set fold, so
        // arrival order and duplicate arrivals cannot matter
        val byId = scala.collection.mutable.HashMap.empty[String, Long]
        var i = 0
        while (i < id0.length) { byId.put(id0(i), h0(i)); i += 1 }
        rows.foreach { row =>
          val id = row._2
          if (!byId.contains(id)) byId.put(id, KmvSketch.hash52(id))
        }
        val kept = byId.toSeq.sortBy { case (id, h) => (h, id) }.take(k)
        val threshold = if (kept.size >= k) kept.last._2 else Long.MaxValue
        val members = kept.iterator.zipWithIndex.map { case ((id, h), idx) =>
          SampleMember(key, id, h, idx + 1, threshold)
        }
        (Some((kept.map(_._2).toArray, kept.map(_._1).toArray)), members)
    })
    fold.fmgws(ds, _._1, None, OutputMode.Update)(Encoders.STRING, Encoders.product[SampleMember])
  }
}
