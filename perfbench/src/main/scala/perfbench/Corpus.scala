package perfbench

import graft.store.MerkonStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.util.SplittableRandom
import scala.collection.mutable

/** The benchmark's own seeded clustered corpus. Every vector is a
  * function of (seed, stream, index), so the same seed gives the same
  * collection, query set and mutation waves on every run. It does not
  * use the engine's generators, so a change to the engine cannot change
  * the inputs it is measured on. */
final class Corpus(seed: Long, dim: Int, nClusters: Int) {
  private val NoiseSigma = 0.45
  private val QuerySigma = 0.15

  private val centres: Array[Array[Double]] = {
    val r = new SplittableRandom(mix(seed, -1L, 0L))
    Array.fill(nClusters) {
      val c = Array.fill(dim)(r.nextGaussian())
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }
  }

  private def mix(a: Long, b: Long, c: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L + b
    h = (h ^ (h >>> 31)) * 0xBF58476D1CE4E5B9L + c
    (h ^ (h >>> 29)) * 0x94D049BB133111EBL
  }

  /** Vector `i` of `stream`: a cluster centre plus isotropic noise. */
  def vector(stream: Long, i: Long): (Int, Array[Float]) = {
    val r = new SplittableRandom(mix(seed, stream, i))
    val c = r.nextInt(nClusters)
    val s = NoiseSigma / math.sqrt(dim)
    (c, Array.tabulate(dim)(j => (centres(c)(j) + s * r.nextGaussian()).toFloat))
  }

  /** Query `i`: close to a centre, so the top-10 lies inside one cluster. */
  def query(i: Int): Array[Float] = {
    val r = new SplittableRandom(mix(seed, -2L, i))
    val c = r.nextInt(nClusters)
    val s = QuerySigma / math.sqrt(dim)
    Array.tabulate(dim)(j => (centres(c)(j) + s * r.nextGaussian()).toFloat)
  }

  def key(stream: Long, i: Long): String = f"s$stream%03d-$i%08d"

  /** Reference-shaped records (`MerkonStore.recordSchema`) for the given
    * (key, cluster, vector) rows. */
  def frame(spark: SparkSession, rows: Seq[(String, Int, Array[Float])]): DataFrame = {
    val base = 1700000000000L
    val data = rows.zipWithIndex.map { case ((k, c, v), i) =>
      Row(k,
        Row(i % 7 == 0, "perfbench", k, s"cluster $c",
          s"synthetic passage $k about topic $c", s"""{"cluster":$c}"""),
        v.toSeq, new java.sql.Timestamp(base + i * 1000L))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 8),
      MerkonStore.recordSchema)
  }
}

/** The driver-side copy of the live collection: what the brute-force
  * oracle scores and the write checks compare against. */
final class LiveSet {
  private val vecs = mutable.HashMap.empty[String, Array[Float]]
  private val norms = mutable.HashMap.empty[String, Double]

  def put(k: String, v: Array[Float]): Unit = { vecs(k) = v; norms(k) = sq(v) }
  def remove(k: String): Unit = { vecs.remove(k); norms.remove(k) }
  def clear(): Unit = { vecs.clear(); norms.clear() }
  def contains(k: String): Boolean = vecs.contains(k)
  def keys: Iterable[String] = vecs.keys
  def payloadBytes: Long = vecs.valuesIterator.map(_.length * 4L).sum

  private def sq(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
    s
  }

  /** Cosine in the engine kernel's exact arithmetic (float widened to
    * double before each product, one pass), so scores compare bit for
    * bit. */
  def score(k: String, q: Array[Float], qn: Double): Double = {
    val v = vecs(k)
    var dot = 0.0; var i = 0
    val n = math.min(v.length, q.length)
    while (i < n) { dot += v(i).toDouble * q(i).toDouble; i += 1 }
    dot / (math.sqrt(norms(k)) * math.sqrt(qn))
  }

  /** Brute-force top-k: score >= minScore, score descending, key
    * ascending on ties. */
  def topK(q: Array[Float], k: Int, minScore: Double): Seq[(String, Double)] = {
    val qn = sq(q)
    val ord = Ordering.by[(String, Double), (Double, String)](t => (-t._2, t._1))
    val heap = mutable.PriorityQueue.empty[(String, Double)](ord)
    vecs.keysIterator.foreach { key =>
      val s = score(key, q, qn)
      if (s >= minScore) {
        heap.enqueue((key, s))
        if (heap.size > k) heap.dequeue()
      }
    }
    heap.toSeq.sorted(ord)
  }

  def queryNorm(q: Array[Float]): Double = sq(q)
}
