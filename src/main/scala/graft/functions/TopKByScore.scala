package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** One kNN hit: similarity score + neighbor id. */
case class Hit(score: Double, id: Long)

/**
 * Bounded top-k-by-score aggregate for batch kNN joins.
 *
 * Why not `row_number() over (partition by q_id order by score desc)`:
 * the window plan shuffles EVERY scored (query, corpus) pair — |corpus|×|Q|
 * rows — then discards all but k per query. This Aggregator is a typed
 * UDAF, so Spark runs it with partial aggregation: each task reduces its
 * partition to at most k hits per query locally, and only |partitions|×k
 * candidates per query ever cross the shuffle. At a 100 TB corpus that is
 * the difference between shuffling the dataset and shuffling kilobytes.
 *
 * Determinism: hits are totally ordered by (score desc, id asc) — the same
 * tie-break the oracle's ROW_NUMBER uses — and both reduce and merge
 * preserve that order, so the result is partitioning-independent.
 */
class TopKByScore(k: Int) extends Aggregator[(Double, Long), Seq[Hit], Seq[Hit]] {
  require(k > 0, s"k must be positive, got $k")

  /** The bound, readable by [[graft.plans.AnnIndexRule]]'s batch-kNN
    * matcher (the aggregator instance is all the logical plan carries). */
  private[graft] def kValue: Int = k

  private def lt(a: Hit, b: Hit): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)

  /** Insert into a descending-sorted bounded buffer. */
  private def insert(buf: Seq[Hit], h: Hit): Seq[Hit] =
    if (buf.size == k && !lt(h, buf.last)) buf
    else {
      val (before, after) = buf.span(lt(_, h))
      (before ++ (h +: after)).take(k)
    }

  override def zero: Seq[Hit] = Vector.empty

  override def reduce(buf: Seq[Hit], in: (Double, Long)): Seq[Hit] =
    // NaN scores contribute nothing (r18, ADVICE): under the all-false
    // comparisons of the (score desc, id asc) order a NaN hit would
    // PREPEND to a non-full buffer and shadow later buf.last evictions
    // here, while the heap left it at an arbitrary position — two
    // divergent wrong answers. cosineSim of a zero-norm vector is the
    // realistic source; every query path filters those, so this is a
    // robustness pin (spec-pinned in TopKByScoreSpec), not a
    // behavior change for any declared query.
    if (in._1.isNaN) buf else insert(buf, Hit(in._1, in._2))

  override def merge(a: Seq[Hit], b: Seq[Hit]): Seq[Hit] = {
    // merge two sorted bounded buffers (classic merge step, then cap)
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

/**
 * Null-SKIPPING variant: rows whose score expression is null contribute
 * nothing (the untyped UDAF path would decode a null primitive double as
 * 0.0 — a phantom hit). This is what lets ONE grouped aggregation carry
 * several channel-conditional top-k lists (`when(ch === "x", score)`):
 * a streaming plan allows only one stateful aggregation, so multi-list
 * reductions must share it.
 */
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

/**
 * Mutable bounded top-k state for [[TopKByScoreAgg]]: parallel primitive
 * arrays laid out as a binary MIN-heap under the total order
 * (score asc, id desc), so the root is the WORST kept hit and a full
 * buffer rejects a non-qualifying row with one comparison and ZERO
 * allocations. The immutable-`Vector` Aggregator above pays an O(k)
 * span/concat/take rebuild PER INPUT ROW (the r17 bitext probe measured
 * the k=16 aggregation at 4x the cost of the k=4 one over the same
 * 963k-row stream — pure buffer-rebuild allocation); this heap is the
 * same algebra with O(log k) worst-case no-alloc updates.
 */
final class TopKHeap(val k: Int) extends Serializable {
  var n: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)

  /** (s1, i1) strictly worse than (s2, i2) under (score desc, id asc) —
    * the same primitive comparisons as [[TopKByScore.lt]], so NaN
    * handling (all comparisons false => "not worse") matches the
    * reference Aggregator's keep/reject decisions. */
  @inline private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 < s2 || (s1 == s2 && i1 > i2)

  @inline private def swap(i: Int, j: Int): Unit = {
    val s = scores(i); scores(i) = scores(j); scores(j) = s
    val d = ids(i); ids(i) = ids(j); ids(j) = d
  }

  private def siftDown(from: Int): Unit = {
    var i = from
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = l + 1
      var w = i // most-worse of i and its children
      if (l < n && worse(scores(l), ids(l), scores(w), ids(w))) w = l
      if (r < n && worse(scores(r), ids(r), scores(w), ids(w))) w = r
      if (w == i) done = true
      else { swap(i, w); i = w }
    }
  }

  def insert(s: Double, id: Long): Unit =
    // NaN never enters the heap (r18, ADVICE): all-false comparisons
    // would park it wherever it lands and break the sift invariants —
    // see TopKByScore.reduce for the shared skip-NaN contract
    if (s != s) ()
    else if (n < k) {
      var i = n
      scores(i) = s; ids(i) = id; n += 1
      var p = (i - 1) >> 1
      while (i > 0 && worse(scores(i), ids(i), scores(p), ids(p))) {
        swap(i, p); i = p; p = (i - 1) >> 1
      }
    } else if (worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id
      siftDown(0)
    }

  def absorb(o: TopKHeap): Unit = {
    var i = 0
    while (i < o.n) { insert(o.scores(i), o.ids(i)); i += 1 }
  }

  /** Drain into (score desc, id asc) order — the output contract every
    * consumer and the DuckDB oracle's ROW_NUMBER tie-break pin. Uses
    * heap extraction under the SAME `worse` predicate (no comparator
    * contract to violate on NaN), consuming the heap. */
  def drainSortedDesc(): (Array[Double], Array[Long], Int) = {
    val m = n
    // repeatedly extract the most-worse root to the shrinking tail:
    // min-heap heapsort leaves the array best-first — exactly
    // (score desc, id asc)
    while (n > 1) {
      n -= 1
      swap(0, n)
      siftDown(0)
    }
    n = 0
    (scores, ids, m)
  }

  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * n)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(scores(i)); bb.putLong(ids(i)); i += 1 }
    bb.array()
  }
}

object TopKHeap {
  def deserialize(k: Int, bytes: Array[Byte]): TopKHeap = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val m = bb.getInt
    val h = new TopKHeap(k)
    var i = 0
    while (i < m) { h.insert(bb.getDouble, bb.getLong); i += 1 }
    h
  }
}

/**
 * Catalyst-native spelling of the bounded top-k aggregate (r17
 * optimization): a [[TypedImperativeAggregate]] whose buffer is the
 * no-alloc [[TopKHeap]]. The udaf-wrapped [[TopKByScore]] Aggregator
 * above remains as the executable reference implementation its
 * unit/property specs pin; every query path routes through this one.
 * Same algebra, same (score desc, id asc) output order, same null
 * decode as the untyped udaf path (null score/id -> 0.0/0L — the
 * phantom-hit semantics [[TopKByScoreNullSkipping]] documents), and a
 * `skipNulls` flag carrying that variant's skip semantics.
 */
case class TopKByScoreAgg(
    score: Expression,
    idExpr: Expression,
    k: Int,
    skipNulls: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] {
  require(k > 0, s"k must be positive, got $k")

  /** The bound, readable by [[graft.plans.AnnIndexRule]]'s batch-kNN
    * matcher (this expression is all the logical plan carries). */
  def kValue: Int = k

  override def children: Seq[Expression] = Seq(score, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = TopKByScoreAgg.OutType
  override def prettyName: String = "topk_by_score"

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(b: TopKHeap, row: InternalRow): TopKHeap = {
    val sv = score.eval(row)
    if (sv == null && skipNulls) return b
    val iv = idExpr.eval(row)
    b.insert(if (sv == null) 0.0 else sv.asInstanceOf[Double],
      if (iv == null) 0L else iv.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKHeap, o: TopKHeap): TopKHeap = { b.absorb(o); b }

  override def eval(b: TopKHeap): Any = {
    val (ss, ii, m) = b.drainSortedDesc()
    val rows = new Array[Any](m)
    var i = 0
    while (i < m) {
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(ss(i), ii(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override def serialize(b: TopKHeap): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): TopKHeap =
    TopKHeap.deserialize(k, bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKByScoreAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScoreAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScoreAgg =
    copy(score = newChildren(0), idExpr = newChildren(1))
}

object TopKByScoreAgg {
  /** array<struct<score:double,id:bigint>> — the [[Hit]] shape every
    * consumer reads (`h.score`, `h.id`). */
  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
}

object TopKByScore {
  /** Applies the Catalyst-native [[TopKByScoreAgg]] — same call shape as
    * the previous udaf handle: `TopKByScore(3)(col("score"), col("id"))`. */
  final case class Handle(k: Int, skipNulls: Boolean) {
    def apply(score: org.apache.spark.sql.Column,
        id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      // input typing via explicit casts (the analyzer's implicit-cast
      // trait names a package-private Spark type); a no-op cast is
      // removed by SimplifyCasts before any plan matcher sees it
      org.apache.spark.sql.graftbridge.Bridge.column(
        TopKByScoreAgg(
          org.apache.spark.sql.graftbridge.Bridge.expression(score.cast("double")),
          org.apache.spark.sql.graftbridge.Bridge.expression(id.cast("long")),
          k, skipNulls).toAggregateExpression())
  }

  /** Untyped-DataFrame handle: `topK(3)(col("score"), col("vec_id"))`. */
  def apply(k: Int): Handle = Handle(k, skipNulls = false)

  /** Null-skipping handle for channel-conditional multi-list aggregation. */
  def nullSkipping(k: Int): Handle = Handle(k, skipNulls = true)

  /** The reference udaf spellings, kept for the equivalence specs. */
  private[graft] def referenceUdaf(k: Int): UserDefinedFunction =
    udaf(new TopKByScore(k), ExpressionEncoder[(Double, Long)]())
  private[graft] def referenceNullSkippingUdaf(k: Int): UserDefinedFunction =
    udaf(new TopKByScoreNullSkipping(k), ExpressionEncoder[(Option[Double], Long)]())
}
