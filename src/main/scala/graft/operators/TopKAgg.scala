package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Per-group top-k as a PARTIAL-AGGREGATING typed `Aggregator` — the
  * shuffle-volume alternative to `row_number() OVER (PARTITION BY g ORDER
  * BY v DESC) <= k`: the window form shuffles and SORTS every group's full
  * row set, while this aggregator keeps a k-bounded sorted buffer per group
  * on the MAP side, so only k rows per (partition, group) ever reach the
  * exchange.
  *
  * Trade-off: the codegen'd window SORT is the faster form while groups
  * fit executor sort memory — the udaf boundary pays per-row tuple
  * encode/decode that whole-stage codegen never does. Reach for the
  * aggregator when the SHUFFLE is the binding constraint (per-group volume
  * far beyond executor sort memory, or a network-bound cluster), not as a
  * default top-n.
  *
  * Total order: value DESC, id ASC — identical to the q09 window's
  * (`desc`, key...) ordering, so results are deterministic under any merge
  * order (merging two sorted buffers re-applies the same total order).
  *
  * Usage: `df.groupBy(g).agg(TopKAgg.topK(3)(col(v), col(id)))` yields an
  * ordered `array<struct<value, id>>`; posexplode turns position into the
  * 1-based rank.
  */
object TopKAgg {

  /** k-bounded buffer, ordered by (value desc, id asc). */
  final case class Buf(values: Seq[Double], ids: Seq[Long])

  final case class Entry(value: Double, id: Long)

  private final class TopK(k: Int)
      extends Aggregator[(Double, Long), Buf, Seq[Entry]] {
    require(k > 0, s"k must be positive, got $k")

    override def zero: Buf = Buf(Vector.empty, Vector.empty)

    // insertion keeps the buffer sorted; the scan is over <= k elements
    override def reduce(b: Buf, in: (Double, Long)): Buf = {
      val (v, id) = in
      val n = b.values.length
      if (n == k && lessThanLast(b, v, id)) return b
      var i = 0
      while (i < n && !before(v, id, b.values(i), b.ids(i))) i = i + 1
      Buf((b.values.take(i) :+ v) ++ b.values.drop(i).take(k - i - 1),
          (b.ids.take(i) :+ id) ++ b.ids.drop(i).take(k - i - 1))
    }

    override def merge(a: Buf, b: Buf): Buf = {
      // classic sorted-merge bounded at k
      val vs = Vector.newBuilder[Double]; val ids = Vector.newBuilder[Long]
      var i = 0; var j = 0; var n = 0
      while (n < k && (i < a.values.length || j < b.values.length)) {
        val takeA =
          j >= b.values.length || (i < a.values.length &&
            before(a.values(i), a.ids(i), b.values(j), b.ids(j)))
        if (takeA) { vs += a.values(i); ids += a.ids(i); i += 1 }
        else       { vs += b.values(j); ids += b.ids(j); j += 1 }
        n += 1
      }
      Buf(vs.result(), ids.result())
    }

    override def finish(b: Buf): Seq[Entry] =
      b.values.indices.map(i => Entry(b.values(i), b.ids(i)))

    // java.lang.Double.compare, NOT primitive >: Spark's descending sort
    // ranks NaN above +Infinity and distinguishes -0.0 < 0.0, and a raw
    // `>` comparison is not even a total order under NaN (merge-order
    // nondeterminism). Null VALUES are outside the primitive-encoder
    // contract — coalesce or filter them upstream (the window form's
    // nulls-last has no equivalent here).
    private def before(v1: Double, id1: Long, v2: Double, id2: Long): Boolean = {
      val c = java.lang.Double.compare(v1, v2)
      c > 0 || (c == 0 && id1 < id2)
    }

    private def lessThanLast(b: Buf, v: Double, id: Long): Boolean = {
      val last = b.values.length - 1
      !before(v, id, b.values(last), b.ids(last))
    }

    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[Seq[Entry]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Entry]]()
  }

  /** A two-column UDAF: `topK(k)(valueCol, idCol)`. */
  def topK(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new TopK(k), Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
}
