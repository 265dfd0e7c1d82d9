package graft.util

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared-artifact contract (see [[SharedArtifact]]): a hit on an
  * unchanged source is the same value and runs no Spark job, a source
  * rewritten in place rebuilds, a failed build leaves no entry and no
  * price, and builds under one name sum in [[SharedBuilds]]. Each test
  * uses its own artifact name, so the process-wide ledger is read without
  * being reset. */
class SharedArtifactSpec extends AnyFunSuite with SparkTestBase {

  private def fresh(tag: String): String = s"spec_${tag}_${java.util.UUID.randomUUID()}"

  /** A copy of one fixture table under a scratch dir, as a single file
    * at the path the query packs read. */
  private def copyTable(dir: String, name: String): String = {
    val dst = new java.io.File(dir, s"$name.parquet").toPath
    java.nio.file.Files.copy(new java.io.File(sf0_001, s"$name.parquet").toPath, dst)
    dst.toString
  }

  /** Replace the single-file table at `path` with `df`'s rows, in place. */
  private def rewrite(path: String, df: DataFrame): Unit = {
    val staged = scratchDir("graft-shared-rewrite") + "/t"
    df.coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, new java.io.File(path).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Spark jobs `body` starts, counted by a listener scoped to one job group. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"shared-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "shared artifact lookup")
    try {
      val out = body
      org.apache.spark.GraftTestBus.drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a second lookup on an unchanged source is the same frame and runs no job") {
    val src = copyTable(scratchDir("graft-shared-hit"), "embeddings")
    val name = fresh("hit")
    var builds = 0
    def lookup(): DataFrame = SharedArtifact(spark, name, Seq(src), 3) {
      builds += 1
      spark.read.parquet(src).filter(col("vec_id") < 3).localCheckpoint()
    }
    val first = lookup()
    val (second, jobs) = jobsIn(lookup())
    assert(second eq first)
    assert(builds == 1)
    assert(jobs == 0, s"a hit ran $jobs Spark jobs")
  }

  test("a table rewritten in place mid-session rebuilds (multimodal_catalogs)") {
    val dir = scratchDir("graft-shared-rewrite-src")
    val docs = copyTable(dir, "documents")
    val q = graft.SparkEntry.queries("multimodal_image_ahash")
    def rows(s: SparkSession): Set[org.apache.spark.sql.Row] = q(s, dir).collect().toSet
    val before = rows(spark)
    // same path, new content: every second document survives
    rewrite(docs, spark.read.parquet(s"$sf0_001/documents.parquet")
      .filter(col("doc_id") % 2 === 0))
    val after = rows(spark)
    // a session that never saw the old table is the reference answer
    val reference = rows(spark.newSession())
    assert(reference != before, "the rewrite must change this query's answer")
    assert(after == reference, "served the catalog decoded from the old table")
  }

  test("a build that throws caches nothing and records no build time") {
    val src = copyTable(scratchDir("graft-shared-throw"), "region")
    val name = fresh("throw")
    intercept[IllegalStateException](
      SharedArtifact[Int](spark, name, Seq(src), ())(throw new IllegalStateException("boom")))
    assert(!SharedBuilds.snapshot.contains(name))
    // the next lookup retries and is priced
    assert(SharedArtifact(spark, name, Seq(src), ())(7) == 7)
    assert(SharedBuilds.snapshot.contains(name))
  }

  test("two builds under one name sum in SharedBuilds") {
    val src = copyTable(scratchDir("graft-shared-sum"), "region")
    val name = fresh("sum")
    SharedArtifact(spark, name, Seq(src), "a") { Thread.sleep(60); 1 }
    val one = SharedBuilds.snapshot(name)
    SharedArtifact(spark, name, Seq(src), "b") { Thread.sleep(90); 2 }
    val two = SharedBuilds.snapshot(name)
    assert(one >= 0.06)
    assert(two - one >= 0.09, s"second build added ${two - one} s")
    // a hit adds nothing
    SharedArtifact(spark, name, Seq(src), "a")(throw new AssertionError("rebuilt"))
    assert(SharedBuilds.snapshot(name) == two)
  }
}
