package graft.ml

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The quantizer training path ([[Quantizer]]): one content-keyed sample
 * bounded at 256 rows per centroid, collected in one job and fitted on
 * the driver, with MLlib KMeans on the same sample above the driver
 * budget.
 */
class QuantizerSpec extends AnyFunSuite with SparkTestBase {

  private def corpus = spark.read.parquet(s"$sf0_001/embeddings.parquet")

  private def centroids(built: DataFrame): Seq[(Int, Seq[Float])] =
    built.collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).sortBy(_._1).toSeq

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"quantizer-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsOf")
    try {
      val a = body
      org.apache.spark.GraftTestBus.drain(sc)
      (a, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("IVF centroids are bit-identical under 1 vs 7 partitions and shuffled rows") {
    val ivf = new IvfIndex(nCentroids = 8, seed = 7L)
    val one = ivf.build(spark, corpus.repartition(1), "vec_id", "embedding")
    val seven = ivf.build(spark,
      corpus.repartition(7).orderBy(rand(3L)), "vec_id", "embedding")
    val a = centroids(one.centroids)
    assert(a.size == 8)
    assert(a == centroids(seven.centroids))
    // and so are the cells every row lands in
    def cells(b: IvfIndex.Built) =
      b.assigned.select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(one) == cells(seven))
  }

  test("IVF and IVF-PQ train the same coarse centroids for the same (c, seed), surrogate ids too") {
    val ivf = new IvfIndex(nCentroids = 8, seed = 11L)
    val ivfpq = new IvfPqIndex(nCentroids = 8, m = 8, kCentroids = 16, seed = 11L)
    val a = ivf.build(spark, corpus, "vec_id", "embedding")
    val b = ivfpq.build(spark, corpus, "vec_id", "embedding")
    assert(centroids(a.centroids) == centroids(b.centroids))
    // the shared centroid table routes both families' rows to one cell
    val cellsA = a.assigned.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cellsB = b.codedCell.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cellsA == cellsB)
    // a surrogate-keyed IVF-PQ artifact (string ids -> xxhash64) still
    // trains on the rows of the IVF fit over the original ids
    val strIvf = ivf.build(spark, corpus.select(
      concat(lit("doc-"), col("vec_id")).as("doc_id"), col("embedding")),
      "doc_id", "embedding")
    val sid = ivfpq.build(spark, corpus.select(
      xxhash64(concat(lit("doc-"), col("vec_id"))).as("sid"), col("embedding")),
      "sid", "embedding")
    assert(centroids(strIvf.centroids) == centroids(a.centroids))
    assert(centroids(sid.centroids) == centroids(a.centroids))
  }

  test("the sample is the 256·k rows of least xxhash64(embedding), fitted in one job") {
    // k = 1: the bound is 256 of the fixture's 500 rows, and a 1-means
    // fit is the mean of exactly the sampled rows
    val prepared = Quantizer.prepare(corpus, "vec_id", "embedding")
    val (fitted, jobs) = jobsOf(
      Quantizer.train(prepared, "an IVF index", Seq(Quantizer.Fit(1, 5L))))
    assert(jobs == 1, s"$jobs jobs")
    val rows = prepared
      .select(xxhash64(col("emb")).as("h"), col("id"), col("unit"))
      .orderBy("h").collect()
    assert(rows.length == 500)
    val sample = rows.take(Quantizer.MaxPointsPerCentroid)
      .map(_.getSeq[Double](2).map(_.toFloat.toDouble).toArray)
    val mean = sample.transpose.map(_.sum / sample.length)
    val Seq(Array(centre)) = fitted
    assert(centre.length == 64)
    centre.zip(mean).foreach { case (x, y) => assert(math.abs(x - y) < 1e-12) }
    // k = 2 bounds the sample at 512: all 500 rows, in the same order
    val all = rows.map(_.getSeq[Double](2).map(_.toFloat.toDouble).toArray)
    val Seq(two) = Quantizer.train(prepared, "an IVF index",
      Seq(Quantizer.Fit(2, 5L)))
    assert(two.map(_.toSeq).toSeq ==
      Quantizer.kMeans(all, 2, 5L).map(_.toSeq).toSeq)
  }

  test("an all-zero-norm corpus fails the IVF build with the descriptive message") {
    val zeros = corpus.select(col("vec_id"),
      transform(col("embedding"), x => x * 0.0f).as("embedding"))
    val e = intercept[IllegalArgumentException](
      new IvfIndex(8).build(spark, zeros, "vec_id", "embedding"))
    assert(e.getMessage.contains("cannot build an IVF index: corpus has no " +
      "searchable (non-zero-norm) vectors"), e.getMessage)
  }

  test("above the driver budget, MLlib KMeans fits the same sample") {
    val prepared = Quantizer.prepare(corpus, "vec_id", "embedding")
    val fit = Seq(Quantizer.Fit(8, 42L))
    val (driver, driverJobs) = jobsOf(Quantizer.train(prepared, "x", fit))
    // budget 1: over budget before the sample is collected
    val (early, earlyJobs) = jobsOf(Quantizer.train(prepared, "x", fit, budget = 1))
    // 256·8·8: under budget at one dimension, over it at 64
    val (late, lateJobs) = jobsOf(
      Quantizer.train(prepared, "x", fit, budget = 256L * 8 * 8))
    assert(driverJobs == 1)
    assert(earlyJobs > 2 && lateJobs > 2, s"MLlib jobs: $earlyJobs, $lateJobs")
    Seq(driver, early, late).foreach { case Seq(cs) =>
      assert(cs.length == 8 && cs.forall(_.length == 64))
    }
    // the same sample and seed: the two MLlib paths agree bit for bit
    assert(early.head.map(_.toSeq).toSeq == late.head.map(_.toSeq).toSeq)
    // each fit picks its side alone: a coarse fit within budget stays on
    // the driver however many subspace fits train beside it, so IVF and
    // IVF-PQ cells agree on either side of the budget
    val coarse = Quantizer.Fit(8, 11L, coarse = true)
    val subs = (0 until 8).map(s => Quantizer.Fit(16, 11L + s, s, 8))
    val within = 500L * 8 * 64
    assert(Quantizer.train(prepared, "x", coarse +: subs, budget = within)
      .head.map(_.toSeq).toSeq ==
      Quantizer.train(prepared, "x", Seq(coarse), budget = within)
        .head.map(_.toSeq).toSeq)
    // an empty corpus fails the same way on the executor path
    val none = prepared.filter(lit(false))
    val e = intercept[IllegalArgumentException](
      Quantizer.train(none, "an IVF index", fit, budget = 1))
    assert(e.getMessage.contains("corpus has no searchable"), e.getMessage)
  }

  test("the coarse fit is spherical on both sides: a row's cell is its highest-cosine cell") {
    val prepared = Quantizer.prepare(corpus, "vec_id", "embedding")
    val fit = Seq(Quantizer.Fit(8, 42L, coarse = true))
    val Seq(driver) = Quantizer.train(prepared, "x", fit)
    val Seq(mllib) = Quantizer.train(prepared, "x", fit, budget = 1)
    Seq(driver, mllib).foreach { cs =>
      assert(cs.length == 8)
      cs.foreach(c => assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9))
    }
    // search routes by cosine; the euclidean build assignment agrees
    // (the fits train on the float-cast sample: all 500 rows at k = 8)
    val units = prepared.select("unit").collect()
      .map(_.getSeq[Double](0).map(_.toFloat.toDouble).toArray)
    units.foreach { u =>
      val byCosine = driver.indices.maxBy(i => driver(i).zip(u).map(t => t._1 * t._2).sum)
      assert(Quantizer.nearest(driver, u, 0) == byCosine)
    }
    // the best of several seedings: no single seeding has lower inertia
    def inertia(cs: Array[Array[Double]]) =
      units.map(u => cs.map(c => c.zip(u).map(t => (t._1 - t._2) * (t._1 - t._2)).sum).min).sum
    val sample = prepared.select(xxhash64(col("emb")).as("h"), col("unit"))
      .orderBy("h").collect()
      .map(_.getSeq[Double](1).map(_.toFloat.toDouble).toArray)
    assert(inertia(driver) <=
      inertia(Quantizer.kMeans(sample, 8, 42L, spherical = true)) + 1e-9)
  }

  test("k-means keeps fewer centres than asked only for fewer distinct points") {
    val pts = Array.tabulate(30)(i => Array(i % 3, 1.0 - i % 3))
    val cs = Quantizer.kMeans(pts.map(_.map(_.toDouble)), 5, 1L)
    assert(cs.map(_.toSeq).toSet == Set(Seq(0.0, 1.0), Seq(1.0, 0.0), Seq(2.0, -1.0)))
    // well-separated clusters are found whatever the seed
    val blobs = Array.tabulate(200) { i =>
      val c = i % 4
      Array(c * 10.0 + (i % 7) * 0.01, -c * 10.0 + (i % 5) * 0.01)
    }
    (0L until 5L).foreach { seed =>
      val found = Quantizer.kMeans(blobs, 4, seed)
        .map(c => math.round(c(0) / 10.0)).sorted.toSeq
      assert(found == Seq(0L, 1L, 2L, 3L), s"seed $seed: $found")
    }
  }
}
