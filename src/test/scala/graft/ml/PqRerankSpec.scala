package graft.ml

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Scale contract of the PQ search plan (VERDICT r4 "What's wrong #2"):
 * the ADC scan must stream only the code table (m bytes/vector — never
 * the float embedding column), and the exact re-rank's embedding fetch
 * must be partition-pruned by the broadcast shortlist instead of
 * re-scanning the full corpus embedding column.
 */
class PqRerankSpec extends AnyFunSuite with SparkTestBase {

  test("PQ search: ADC scans codes only; re-rank fetch is dynamic-partition-pruned") {
    val emb = spark.read.parquet(s"$sf0_001/embeddings.parquet")
    val pq = new PqIndex(m = 8, kCentroids = 16)
    val cacheRoot = scratchDir("graft-pq-rerank")
    val built = PqIndex.openOrBuild(spark, pq, s"$sf0_001/embeddings.parquet",
      "vec_id", "embedding", cacheRoot)

    val res = pq.search(built, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 3)
    assert(res.count() == 9)
    val plan = res.queryExecution.executedPlan.toString

    // scans are identified by their output columns (the plan printer
    // truncates Location paths): the embedding fetch scan is the only one
    // with a `bucket` partition column; the ADC scan the only one with
    // `codes`
    val lines = plan.split("\n")
    val embScan = lines.filter(l => l.contains("FileScan") && l.contains("bucket#"))
    assert(embScan.nonEmpty, "expected a FileScan over the embById table")
    // the fetch is dynamic-partition-pruned by the broadcast shortlist
    // (the pruning subquery materializes as SubqueryAdaptiveBroadcast)
    assert(plan.contains("dynamicpruning"),
      "re-rank fetch must be dynamic-partition-pruned by the shortlist")
    assert(plan.contains("SubqueryAdaptiveBroadcast") || plan.contains("SubqueryBroadcast"),
      "pruning subquery must reuse the shortlist broadcast")

    // the ADC side streams the code table only — its scan must not read
    // any float embedding column
    val codedScan = lines.filter(l => l.contains("FileScan") && l.contains("codes#"))
    assert(codedScan.nonEmpty, "expected a FileScan over the coded table")
    assert(!codedScan.exists(_.contains("emb#")),
      s"ADC scan must not read embeddings: ${codedScan.mkString}")
  }

  test("a failing subspace fit fails the PQ build and cancels the other fits' jobs") {
    val sc = spark.sparkContext
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").exists(_.startsWith("graft-pq-fit-"))))
          started.add(e.jobId)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.add(e.jobId)
    }
    def within(ms: Long)(cond: => Boolean): Boolean = {
      val until = System.currentTimeMillis() + ms
      while (!cond && System.currentTimeMillis() < until) Thread.sleep(50)
      cond
    }
    // subspace 0 throws once the other three fits are running a job
    // that would take a minute unless cancelled
    val failing = new PqIndex(m = 4, kCentroids = 4) {
      override protected[ml] def fitSubspace(slices: org.apache.spark.sql.DataFrame,
          sub: Int): Array[Array[Double]] =
        if (sub == 0) {
          within(30000)(started.size >= 3)
          throw new IllegalStateException("injected fit failure")
        } else {
          slices.rdd.mapPartitions { it => Thread.sleep(60000); it }.count()
          super.fitSubspace(slices, sub)
        }
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](failing.build(spark,
        spark.read.parquet(s"$sf0_001/embeddings.parquet"), "vec_id", "embedding"))
      assert(e.getMessage == "injected fit failure")
      assert((System.nanoTime() - t0) / 1e9 < 30, "the build waited for the other fits")
      assert(started.size >= 3, s"fit jobs seen: $started")
      assert(within(10000) {
        org.apache.spark.GraftTestBus.drain(sc)
        started.stream().allMatch(ended.contains(_))
      }, s"fit jobs still active: started $started, ended $ended")
    } finally sc.removeSparkListener(listener)
  }
}
