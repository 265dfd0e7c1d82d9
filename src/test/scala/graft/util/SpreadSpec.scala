package graft.util

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Spread.byKey]] sizes its repartition without planning its input:
  * building the spread runs nothing before an action. */
class SpreadSpec extends AnyFunSuite with SparkTestBase {

  test("byKey over an aggregated input starts no Spark job before an action") {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    val emb = spark.read.parquet(s"$sf0_001/embeddings.parquet")
    // a shuffle upstream of the spread: under AQE, planning this input
    // for its partition count would run the aggregation's map stage
    val agg = emb.groupBy((col("vec_id") % 50).as("g"))
      .agg(count(lit(1)).as("n"))
    org.apache.spark.GraftTestBus.drain(sc)
    sc.addSparkListener(listener)
    val spread = try {
      val s = Spread.byKey(agg, "g")
      org.apache.spark.GraftTestBus.drain(sc)
      assert(started.get == 0, s"${started.get} jobs before an action")
      s
    } finally sc.removeSparkListener(listener)
    assert(spread.count() == 50)
    // fixture-sized scans keep the full session width
    assert(Spread.byKey(emb, "vec_id").rdd.getNumPartitions ==
      sc.defaultParallelism)
  }
}
