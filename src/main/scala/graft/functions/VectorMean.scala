package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Element-wise mean over an `array<float>` column — the centroid
  * aggregation (A3; reference `process_records.py:396-400` `np.mean`).
  *
  * Typed `Aggregator` with a mutable double buffer: partial aggregation
  * (map-side combine) comes for free from Spark's agg physical planning,
  * so the shuffle carries one buffer per group per partition, not one row
  * per member — the property that matters at 100 TB.
  */
object VectorMean {

  case class Buf(var sum: Array[Double], var count: Long)

  val aggregator: Aggregator[Array[Float], Buf, Array[Float]] =
    new Aggregator[Array[Float], Buf, Array[Float]] {
      override def zero: Buf = Buf(Array.emptyDoubleArray, 0L)

      override def reduce(b: Buf, v: Array[Float]): Buf = {
        if (v == null) return b
        if (b.sum.length == 0) b.sum = new Array[Double](v.length)
        var i = 0
        val n = math.min(b.sum.length, v.length)
        while (i < n) { b.sum(i) += v(i); i += 1 }
        b.count += 1
        b
      }

      override def merge(a: Buf, b: Buf): Buf = {
        if (b.sum.length == 0) return a
        if (a.sum.length == 0) return b
        var i = 0
        val n = math.min(a.sum.length, b.sum.length)
        while (i < n) { a.sum(i) += b.sum(i); i += 1 }
        a.count += b.count
        a
      }

      override def finish(b: Buf): Array[Float] =
        if (b.count == 0) null
        else b.sum.map(x => (x / b.count).toFloat)

      override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
      override def outputEncoder: Encoder[Array[Float]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]()
    }

  /** The aggregator's mean of `vs` reduced in the given order, for a
    * group that is already on the driver (the clusterer's merge). */
  def mean(vs: Iterable[Array[Float]]): Array[Float] =
    aggregator.finish(vs.foldLeft(aggregator.zero)(aggregator.reduce))

  /** Column form: `VectorMean(col("centroid"))`. */
  def apply(c: Column): Column = udaf(aggregator).apply(c)
}
