package graft.ml

import graft.functions.VectorFunctions.l2Norm
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/**
 * The one training path of the engine's quantizers: the IVF coarse
 * quantizer ([[IvfIndex]]) and the PQ subspace codebooks ([[PqIndex]];
 * [[IvfPqIndex]] trains both at once).
 *
 *  - Sample: the min(N, 256·k) searchable rows of least
 *    (xxhash64(embedding), unit vector), collected in ONE Spark job. 256
 *    is FAISS's `max_points_per_centroid` (Johnson et al., *Billion-scale
 *    similarity search with GPUs*). The rule reads the vectors only, so
 *    the sample is the same under any partitioning, row order or id
 *    spelling, and a smaller sample is a prefix of a larger one: the
 *    IVF-PQ coarse fit — surrogate-keyed or not — trains on exactly the
 *    rows the IVF fit of the same cell count does.
 *  - Fit: seeded k-means++ (Arthur & Vassilvitskii, SODA 2007), then
 *    Lloyd rounds on the driver, under MLlib KMeans' contract:
 *    squared-euclidean distance on unit vectors, at most [[MaxRounds]]
 *    rounds, stop once no centre moves more than [[Tolerance]], an empty
 *    cell keeps its previous centre, fewer centres than asked only when
 *    the sample has fewer distinct points.
 *  - The IVF coarse fit is spherical k-means (Dhillon & Modha, 2001):
 *    each centre is renormalized to unit length after its update, so the
 *    euclidean cell a row is assigned to is also its cell of highest
 *    cosine, the rule search routes queries by. It keeps the best of
 *    [[CoarseRestarts]] seedings by inertia (FAISS's `nredo`; fewer when
 *    [[DriverBudget]] caps them), fitted concurrently; no Spark job runs
 *    while they fit.
 *  - A fit whose driver work would exceed [[DriverBudget]] runs on MLlib
 *    KMeans over the SAME sample rows, on the executors. At ~32k cells (a
 *    100 TB corpus) that sample is ~8M rows, which no driver should hold
 *    or iterate over; the sampling rule does not change, only the fitter
 *    does.
 */
private[ml] object Quantizer {

  /** Training rows per centroid, at most (FAISS's bound). */
  val MaxPointsPerCentroid = 256

  /** Multiply-adds of one Lloyd round of one fit that the driver takes
    * on; above it the executors fit. 2^30 is ~0.5 s a round on one core:
    * it admits a 256-wide PQ codebook over a full 65,536-row sample of
    * 8-dim subspaces, and an IVF quantizer up to 256 cells at 64 dims. It
    * also caps a fit's restarts: their rounds together stay within it. */
  val DriverBudget: Long = 1L << 30

  val MaxRounds = 20
  val Tolerance = 1e-4

  /** Seedings an IVF coarse fit keeps the best of. Over seeds 0-39, a
    * model of the three fixture-size IVF recall specs (500-row uniform,
    * 2,000-row clustered) met every bar for 31 seeds with this fit and
    * for 23 with one euclidean seeding. */
  val CoarseRestarts = 10

  /** One k-means fit: `k` centres seeded by `seed`, over dimension slice
    * `part` of `parts` equal slices (the whole vector by default) of the
    * first min(N, 256·k) sample rows. A `coarse` fit is spherical and
    * keeps the lowest-inertia of up to [[CoarseRestarts]] seedings (as
    * many as [[DriverBudget]] admits, at least one). */
  final case class Fit(k: Int, seed: Long, part: Int = 0, parts: Int = 1,
      coarse: Boolean = false) {
    def rows: Long = MaxPointsPerCentroid.toLong * k
    def restarts: Int = if (coarse) CoarseRestarts else 1
  }

  /** (id, emb, unit) over the searchable (non-zero-norm) rows: the
    * training, assignment and encode input of every family. */
  def prepare(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val norm = l2Norm(col(embCol))
    df.filter(norm > 0)
      .select(col(idCol).as("id"), col(embCol).as("emb"),
        transform(col(embCol), x => x.cast("double") / norm).as("unit"))
  }

  /** Centres of each of `fits`, in order, trained on one sample of
    * `prepared` ([[prepare]]'s columns). `what` names the index in the
    * error an empty corpus fails with. */
  def train(prepared: DataFrame, what: String, fits: Seq[Fit],
      budget: Long = DriverBudget): Seq[Array[Array[Double]]] = {
    val sample = prepared
      .select(xxhash64(col("emb")).as("h"),
        col("unit").cast("array<float>").as("unit"))
      .orderBy("h", "unit")
    def rowsOf(f: Fit) = sample.limit(math.min(f.rows, Int.MaxValue - 16L).toInt)
    def unitOf(r: org.apache.spark.sql.Row) = r.getSeq[Float](1).toArray
    // each fit picks its side alone, so a coarse fit lands on the same
    // side whichever family trains it; its work at one dimension is a
    // lower bound, and rows no driver fit can take are never collected
    val onDriver = fits.filter(f => f.rows * f.k <= budget)
    val collected =
      if (onDriver.isEmpty) Array.empty[Array[Float]]
      else rowsOf(onDriver.maxBy(_.rows)).collect().map(unitOf)
    val first =
      if (onDriver.isEmpty) rowsOf(fits.head).head(1).map(unitOf)
      else collected.take(1)
    require(first.nonEmpty,
      s"cannot build $what: corpus has no searchable (non-zero-norm) vectors")
    val dim = first.head.length
    fits.foreach(f => require(dim % f.parts == 0,
      s"dim $dim not divisible by m=${f.parts}"))
    fits.map { f =>
      val d = dim / f.parts
      val n = math.min(collected.length.toLong, f.rows).toInt
      val work = n.toLong * f.k * d
      if (onDriver.contains(f) && work <= budget)
        kMeans(collected.iterator.take(n)
          .map(r => Array.tabulate(d)(j => r(f.part * d + j).toDouble))
          .toArray, f.k, f.seed, f.coarse,
          math.min(f.restarts.toLong, budget / work).toInt)
      else new KMeans().setK(f.k).setSeed(f.seed)
        .setMaxIter(MaxRounds).setTol(Tolerance)
        .setDistanceMeasure(if (f.coarse) "cosine" else "euclidean")
        .setFeaturesCol("features")
        .fit(rowsOf(f)
          .select(array_to_vector(slice(col("unit"), f.part * d + 1, d)
            .cast("array<double>")).as("features"))
          .repartition(prepared.sparkSession.sparkContext.defaultParallelism))
        .clusterCenters.map(_.toArray)
    }
  }

  /** The lowest-inertia of `restarts` fits of [[lloyd]] over `pts`,
    * restart r seeded `seed + r * 1000003` (a stride no neighbouring seed
    * reaches); ties go to the lower restart. */
  private[ml] def kMeans(pts: Array[Array[Double]], k: Int, seed: Long,
      spherical: Boolean = false, restarts: Int = 1): Array[Array[Double]] = {
    val fits = java.util.stream.IntStream.range(0, restarts).parallel()
      .mapToObj[Array[Array[Double]]](r =>
        lloyd(pts, k, seed + r * 1000003L, spherical))
      .toArray.map(_.asInstanceOf[Array[Array[Double]]])
    fits.minBy(cs => pts.iterator.map(p => sqDist(p, cs(nearest(cs, p, 0)))).sum)
  }

  /** Seeded k-means++ then Lloyd over `pts` (see the object doc). */
  private def lloyd(pts: Array[Array[Double]], k: Int, seed: Long,
      spherical: Boolean): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    val n = pts.length
    val seeds = scala.collection.mutable.ArrayBuffer(pts(rnd.nextInt(n)).clone())
    val d2 = pts.map(sqDist(_, seeds(0)))
    var total = d2.sum
    while (seeds.length < k && total > 0) {
      // D²-weighted draw; a drawn point has weight 0 from then on
      var r = rnd.nextDouble() * total
      var pick = -1
      var i = 0
      while (i < n && (pick < 0 || r > 0)) {
        if (d2(i) > 0) { pick = i; r -= d2(i) }
        i += 1
      }
      val c = pts(pick).clone()
      seeds += c
      i = 0
      while (i < n) { d2(i) = math.min(d2(i), sqDist(pts(i), c)); i += 1 }
      total = d2.sum
    }
    val centres = seeds.toArray
    val dim = centres(0).length
    var round = 0
    var converged = false
    while (round < MaxRounds && !converged) {
      val sums = Array.ofDim[Double](centres.length, dim)
      val counts = new Array[Long](centres.length)
      pts.foreach { p =>
        val j = nearest(centres, p, 0)
        counts(j) += 1
        val s = sums(j)
        var t = 0
        while (t < dim) { s(t) += p(t); t += 1 }
      }
      converged = true
      var j = 0
      while (j < centres.length) {
        if (counts(j) > 0) {
          val mean = sums(j).map(_ / counts(j))
          val norm = math.sqrt(mean.map(x => x * x).sum)
          // a spherical centre is the mean's direction; a zero mean has
          // none and keeps the previous centre, like an empty cell
          val c = if (!spherical) mean
            else if (norm > 0) mean.map(_ / norm) else centres(j)
          if (sqDist(c, centres(j)) > Tolerance * Tolerance) converged = false
          centres(j) = c
        }
        j += 1
      }
      round += 1
    }
    centres
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var t = 0
    while (t < a.length) { val x = a(t) - b(t); s += x * x; t += 1 }
    s
  }

  /** The centre nearest `v(off until off + d)` in squared euclidean
    * distance (d = the centres' length); ties go to the lower index. A
    * centre's sum stops once it reaches the best so far: the terms are
    * non-negative, so it could no longer win. */
  def nearest(centres: Array[Array[Double]], v: Array[Double],
      off: Int): Int = {
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < centres.length) {
      val cent = centres(c)
      var dist = 0.0
      var t = 0
      while (t < cent.length && dist < bestDist) {
        val x = v(off + t) - cent(t); dist += x * x; t += 1
      }
      if (dist < bestDist) { bestDist = dist; best = c }
      c += 1
    }
    best
  }

  /** Map-side cell assignment of a unit vector against `centres`. */
  def cellOf(centres: Array[Array[Double]]): UserDefinedFunction =
    udf((unit: Seq[Double]) => nearest(centres, unit.toArray, 0))
}
