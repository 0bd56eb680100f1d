package graft.ops

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Partial/final MinHash aggregator (see [[Dedup.minhashSigs]]): buffer =
  * long[numHashes] running minima, reduce folds one token's `numHashes`
  * universal hashes in a tight primitive loop, merge is elementwise min —
  * commutative and associative, so Spark's partial (map-side) + final
  * split never changes the result.
  *
  * Scale shape vs the explode form: the previous formulation pushed
  * `numHashes · |tokens|` rows through a shuffle to `groupBy(id, j)`; this
  * one shuffles ONE `long[numHashes]` buffer per (doc × partition) — a
  * ~`numHashes`× shuffle-IO cut at corpus scale, the same fix that took
  * SimHash from 15.4 s to 1.4 s in round 2. Hash values are the identical
  * pure-integer formula, so q27's DuckDB oracle is unchanged.
  */
final class MinhashAgg(numHashes: Int) extends Aggregator[Long, Array[Long], Array[Long]] {

  override def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)

  override def reduce(b: Array[Long], vid: Long): Array[Long] = {
    var j = 0
    while (j < numHashes) {
      val h = ((vid + 1L) * (2654435761L + j * 2L) + j * 7919L) % Dedup.MersennePrime
      if (h < b(j)) b(j) = h
      j += 1
    }
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < numHashes) { if (b(j) < a(j)) a(j) = b(j); j += 1 }
    a
  }

  override def finish(b: Array[Long]): Array[Long] = b

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

object MinhashAgg {
  /** Untyped column form for DataFrame `.agg`, cached per hash count. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[Int, Column => Column]()
  def udafCol(numHashes: Int, vid: Column): Column =
    cache.computeIfAbsent(numHashes, n => {
      val u = udaf(new MinhashAgg(n), ExpressionEncoder[Long]())
      (c: Column) => u(c)
    })(vid)
}
