package graft.functions

import net.jpountz.xxhash.XXHashFactory

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** MinHash signature as a typed Aggregator (SURVEY §4.3 item 3): one pass
  * over (id, shingle) rows, a k-long mutable min buffer, elementwise-min
  * merge — the TypedImperativeAggregate-style alternative to a k
  * min-column aggregation (`groupBy(id).agg(min(xxhash64(shingle, s))…)`).
  *
  * Hashing: XXH64 of the shingle's UTF-8 bytes, salted by the hash-function
  * index as the seed (same family as Spark's `xxhash64`, via the lz4-java
  * library Spark already ships). Usage (over a typed (id, shingle)
  * Dataset — see MinHashAggSpec's adapter for Row-shaped input):
  * {{{
  *   shingles.groupByKey(_._1)
  *     .agg(new MinHashAggOnPair(16).toColumn)  // input (Long, String)
  * }}}
  */
class MinHashAgg(k: Int) extends Aggregator[String, Array[Long], Seq[Long]] {

  @transient private lazy val factory = XXHashFactory.fastestInstance()

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(buf: Array[Long], shingle: String): Array[Long] = {
    // Encode the shingle and obtain the hasher ONCE per row, not once
    // per hash slot — this loop is the aggregation hot path.
    val bytes = shingle.getBytes("UTF-8")
    val h64 = factory.hash64()
    var i = 0
    while (i < k) {
      val h = h64.hash(bytes, 0, bytes.length, i.toLong)
      if (h < buf(i)) buf(i) = h
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

object MinHashAgg {

  /** MinHash-signature estimate of Jaccard similarity: fraction of
    * matching signature positions. */
  def estimateJaccard(a: Seq[Long], b: Seq[Long]): Double = {
    require(a.length == b.length)
    if (a.isEmpty) 0.0
    else a.iterator.zip(b.iterator).count { case (x, y) => x == y }.toDouble / a.length
  }
}
