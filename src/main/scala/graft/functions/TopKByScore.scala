package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/**
 * Mutable bounded top-k state for [[TopKByScoreAgg]]: parallel primitive
 * arrays laid out as a binary MIN-heap under the total order
 * (score asc, id desc), so the root is the WORST kept hit and a full
 * buffer rejects a non-qualifying row with one comparison and ZERO
 * allocations. The immutable-`Vector` reference Aggregator pays an O(k)
 * span/concat/take rebuild PER INPUT ROW (the r17 bitext probe measured
 * the k=16 aggregation at 4x the cost of the k=4 one over the same
 * 963k-row stream — pure buffer-rebuild allocation); this heap is the
 * same algebra with O(log k) worst-case no-alloc updates.
 */
final class TopKHeap(val k: Int) extends Serializable {
  var n: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)

  /** (s1, i1) strictly worse than (s2, i2) under (score desc, id asc):
    * all comparisons are false on NaN ("not worse"), which is why
    * [[insert]] refuses NaN outright. */
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
    // would park it wherever it lands and break the sift invariants
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
 * no-alloc [[TopKHeap]]; every query path routes through it. A null
 * score or id decodes as 0.0/0L (a phantom hit) unless `skipNulls`,
 * where a null-score row contributes nothing: that is what lets ONE
 * grouped aggregation carry several channel-conditional top-k lists
 * (`when(ch === "x", score)`), since a streaming plan allows only one
 * stateful aggregation.
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
  /** array<struct<score:double,id:bigint>> — the hit shape every
    * consumer reads (`h.score`, `h.id`). */
  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
}

/**
 * Bounded top-k-by-score aggregate for batch kNN joins:
 * `TopKByScore(k)(score, id)` is an `array<struct<score, id>>` of the k
 * best (score, id) rows, totally ordered by (score desc, id asc) — the
 * same tie-break the oracle's ROW_NUMBER uses.
 *
 * Why not `row_number() over (partition by q_id order by score desc)`:
 * the window plan shuffles EVERY scored (query, corpus) pair — |corpus|×|Q|
 * rows — then discards all but k per query. This aggregate runs with
 * partial aggregation: each task reduces its partition to at most k hits
 * per query locally, and only |partitions|×k candidates per query ever
 * cross the shuffle. At a 100 TB corpus that is the difference between
 * shuffling the dataset and shuffling kilobytes. Both reduce and merge
 * preserve the total order, so the result is partitioning-independent.
 * NaN scores contribute nothing (the realistic source is the cosine of a
 * zero-norm vector). The typed `Aggregator` spelling it replaced lives
 * in test scope as the reference the equivalence specs compare against.
 */
object TopKByScore {
  /** Applies the Catalyst-native [[TopKByScoreAgg]]:
    * `TopKByScore(3)(col("score"), col("id"))`. */
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
}
