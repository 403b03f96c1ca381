package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed custom aggregators (the UDAF surface, SURVEY.md §2.5 [EXT]).
  * `Aggregator[IN, BUF, OUT]` is the user-facing path; buffers are
  * encoder-serialized and merged map-side, so these scale like built-in
  * aggregates (partial aggregation + shuffle of one buffer per key).
  */
object Aggregators {

  /** Bounded top-k: keeps the k largest values per group in the buffer —
    * a per-group top-k without sorting whole groups (the buffer is the
    * only state that shuffles). NULL inputs are skipped, as a built-in
    * aggregate skips them; the `Option` input is what lets `reduce` see
    * them (a primitive `Double` input decodes NULL as 0.0). An all-NULL
    * group yields an empty list. */
  final case class TopK(k: Int)
      extends Aggregator[Option[Double], Seq[Double], Seq[Double]] {
    override def zero: Seq[Double] = Vector.empty
    override def reduce(buf: Seq[Double], v: Option[Double]): Seq[Double] =
      v.fold(buf)(insert(buf, _))
    override def merge(a: Seq[Double], b: Seq[Double]): Seq[Double] =
      b.foldLeft(a)(insert)
    override def finish(buf: Seq[Double]): Seq[Double] = buf
    private def insert(buf: Seq[Double], v: Double): Seq[Double] = {
      val merged = (buf :+ v).sorted(Ordering[Double].reverse)
      if (merged.size > k) merged.take(k) else merged
    }
    override def bufferEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] = bufferEncoder
  }

  /** Element-wise vector mean: one (sum-vector, count) buffer per group.
    * The kmeans M-step with this aggregator shuffles ONE buffer per cell
    * (map-side combined) instead of posexplode'ing dim rows per member
    * vector and re-assembling with collect_list — ~dim× less Lloyd-round
    * shuffle volume. All vectors in a group must share a dimension. */
  final case class VectorMean()
      extends Aggregator[Seq[Double], (Array[Double], Long), Seq[Double]] {
    override def zero: (Array[Double], Long) = (Array.emptyDoubleArray, 0L)
    override def reduce(b: (Array[Double], Long), v: Seq[Double]): (Array[Double], Long) = {
      if (b._2 == 0L) (v.toArray, 1L)
      else {
        val s = b._1
        require(s.length == v.length,
          s"VectorMean: mixed dimensions ${s.length} vs ${v.length}")
        var i = 0
        while (i < s.length) { s(i) += v(i); i += 1 }
        (s, b._2 + 1L)
      }
    }
    override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
      if (a._2 == 0L) b
      else if (b._2 == 0L) a
      else {
        val s = a._1
        require(s.length == b._1.length,
          s"VectorMean: mixed dimensions ${s.length} vs ${b._1.length}")
        var i = 0
        while (i < s.length) { s(i) += b._1(i); i += 1 }
        (s, a._2 + b._2)
      }
    }
    override def finish(b: (Array[Double], Long)): Seq[Double] =
      if (b._2 == 0L) null
      else {
        val out = new Array[Double](b._1.length)
        var i = 0
        while (i < out.length) { out(i) = b._1(i) / b._2; i += 1 }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
      }
    override def bufferEncoder: Encoder[(Array[Double], Long)] =
      Encoders.tuple(
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]](),
        Encoders.scalaLong)
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Sorted distinct ids per group, bounded: a group with more than
    * `maxIds` distinct ids finishes empty, and no buffer ever holds more
    * than `maxIds + 1` ids. A full buffer (`maxIds + 1` distinct, real
    * ids) is the overflow state: any union with it still overflows, so it
    * absorbs every later id and merge. This is the df-cut of
    * [[TextOps.winnowOverlap]], where plain `collect_set` would let one
    * boilerplate fingerprint build a corpus-sized array. */
  final case class BoundedIdSet(maxIds: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    require(maxIds >= 0 && maxIds < Int.MaxValue,
      s"BoundedIdSet: maxIds must be in [0, ${Int.MaxValue - 1}], got $maxIds")
    private val full = maxIds + 1
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(buf: Array[Long], id: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(buf, id)
      if (i >= 0 || buf.length == full) buf else buf.patch(-i - 1, Array(id), 0)
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.length == full) a
      else if (b.length == full) b
      else (a ++ b).distinct.sorted.take(full)
    override def finish(buf: Array[Long]): Array[Long] =
      if (buf.length > maxIds) Array.emptyLongArray else buf
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = bufferEncoder
  }

  /** Streaming-friendly exact weighted mean: (sum, weight) buffer. */
  final case class WeightedMean() extends Aggregator[(Double, Double), (Double, Double), Double] {
    override def zero: (Double, Double) = (0.0, 0.0)
    override def reduce(b: (Double, Double), in: (Double, Double)): (Double, Double) =
      (b._1 + in._1 * in._2, b._2 + in._2)
    override def merge(a: (Double, Double), b: (Double, Double)): (Double, Double) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(b: (Double, Double)): Double =
      if (b._2 == 0.0) Double.NaN else b._1 / b._2
    override def bufferEncoder: Encoder[(Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }
}
