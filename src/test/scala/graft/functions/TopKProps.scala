package graft.functions

import org.scalacheck.{Gen, Properties}
import graft.functions.TopKReference._
import org.scalacheck.Prop.forAll

/** Algebraic laws of the bounded top-k aggregator: any partitioning of the
  * input through reduce/merge must equal the global sort — this is exactly
  * the property Spark's partial aggregation relies on. */
object TopKProps extends Properties("topk-aggregator") {

  private val k = 4
  private val agg = new TopKByScore(k)

  private val itemsGen: Gen[List[(Double, Long)]] =
    Gen.listOf(Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0L, 50L)))

  private def reference(xs: List[(Double, Long)]): Seq[Hit] =
    xs.map { case (s, i) => Hit(s, i) }
      .sortBy(h => (-h.score, h.id)).take(k).toVector

  private def reduceAll(xs: List[(Double, Long)]): Seq[Hit] =
    xs.foldLeft(agg.zero)(agg.reduce)

  property("reduce chain == sorted take") = forAll(itemsGen) { xs =>
    reduceAll(xs) == reference(xs)
  }

  property("merge of any split == whole") = forAll(itemsGen, Gen.choose(0, 100)) { (xs, cut) =>
    val (l, r) = xs.splitAt(if (xs.isEmpty) 0 else cut % (xs.size + 1))
    agg.merge(reduceAll(l), reduceAll(r)) == reduceAll(xs)
  }

  property("merge is commutative") = forAll(itemsGen, itemsGen) { (xs, ys) =>
    agg.merge(reduceAll(xs), reduceAll(ys)) == agg.merge(reduceAll(ys), reduceAll(xs))
  }

  property("merge is associative") = forAll(itemsGen, itemsGen, itemsGen) { (xs, ys, zs) =>
    val (a, b, c) = (reduceAll(xs), reduceAll(ys), reduceAll(zs))
    agg.merge(agg.merge(a, b), c) == agg.merge(a, agg.merge(b, c))
  }

  property("zero is identity for merge") = forAll(itemsGen) { xs =>
    val a = reduceAll(xs)
    agg.merge(a, agg.zero) == a && agg.merge(agg.zero, a) == a
  }

  property("top-k contains top-(k-1)") = forAll(itemsGen) { xs =>
    val smaller = new TopKByScore(k - 1)
    val small = xs.foldLeft(smaller.zero)(smaller.reduce)
    reduceAll(xs).startsWith(small)
  }
}
