package graft.functions

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf

/**
 * The reference spellings of the bounded top-k aggregate: typed
 * `Aggregator`s over immutable buffers, kept as the executable
 * specification the native [[TopKByScoreAgg]] is held equal to
 * (`TopKByScoreSpec`, `TopKProps`). No query path runs them. A spec
 * imports `TopKReference._`: the reference class is named `TopKByScore`
 * like the main-scope handle object, and `TopKByScore.referenceUdaf`
 * reaches the udaf spellings through [[ReferenceHandles]].
 */
object TopKReference {

  /** One kNN hit: similarity score + neighbor id. */
  case class Hit(score: Double, id: Long)

  /** Top-k by (score desc, id asc): each reduce inserts into a sorted
    * bounded buffer, each merge is the classic merge step capped at k.
    * NaN scores contribute nothing: under the all-false comparisons of
    * the order a NaN hit would prepend to a non-full buffer and shadow
    * later evictions. */
  class TopKByScore(k: Int) extends Aggregator[(Double, Long), Seq[Hit], Seq[Hit]] {
    require(k > 0, s"k must be positive, got $k")

    private def lt(a: Hit, b: Hit): Boolean =
      a.score > b.score || (a.score == b.score && a.id < b.id)

    private def insert(buf: Seq[Hit], h: Hit): Seq[Hit] =
      if (buf.size == k && !lt(h, buf.last)) buf
      else {
        val (before, after) = buf.span(lt(_, h))
        (before ++ (h +: after)).take(k)
      }

    override def zero: Seq[Hit] = Vector.empty

    override def reduce(buf: Seq[Hit], in: (Double, Long)): Seq[Hit] =
      if (in._1.isNaN) buf else insert(buf, Hit(in._1, in._2))

    override def merge(a: Seq[Hit], b: Seq[Hit]): Seq[Hit] = {
      val out = Vector.newBuilder[Hit]
      var (i, j, n) = (0, 0, 0)
      while (n < k && (i < a.size || j < b.size)) {
        if (j >= b.size || (i < a.size && lt(a(i), b(j)))) { out += a(i); i += 1 }
        else { out += b(j); j += 1 }
        n += 1
      }
      out.result()
    }

    override def finish(r: Seq[Hit]): Seq[Hit] = r
    override def bufferEncoder = ExpressionEncoder[Seq[Hit]]()
    override def outputEncoder = ExpressionEncoder[Seq[Hit]]()
  }

  /** Null-skipping variant: a row whose score is null contributes
    * nothing, where the untyped udaf path would decode it as a 0.0
    * phantom hit. */
  class TopKByScoreNullSkipping(k: Int)
      extends Aggregator[(Option[Double], Long), Seq[Hit], Seq[Hit]] {
    private val inner = new TopKByScore(k)
    override def zero: Seq[Hit] = inner.zero
    override def reduce(buf: Seq[Hit], in: (Option[Double], Long)): Seq[Hit] =
      in._1.fold(buf)(s => inner.reduce(buf, (s, in._2)))
    override def merge(a: Seq[Hit], b: Seq[Hit]): Seq[Hit] = inner.merge(a, b)
    override def finish(r: Seq[Hit]): Seq[Hit] = r
    override def bufferEncoder = ExpressionEncoder[Seq[Hit]]()
    override def outputEncoder = ExpressionEncoder[Seq[Hit]]()
  }

  /** The reference udaf handles beside the native ones:
    * `TopKByScore.referenceUdaf(k)(score, id)`. */
  implicit class ReferenceHandles(o: graft.functions.TopKByScore.type) {
    def referenceUdaf(k: Int): UserDefinedFunction =
      udaf(new TopKByScore(k), ExpressionEncoder[(Double, Long)]())
    def referenceNullSkippingUdaf(k: Int): UserDefinedFunction =
      udaf(new TopKByScoreNullSkipping(k), ExpressionEncoder[(Option[Double], Long)]())
  }
}
