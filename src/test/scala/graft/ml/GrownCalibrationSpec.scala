package graft.ml

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The nProbe calibration grows with its artifact: after a link-append
 * grow, the session derives the grown joint histogram from the parent's
 * state by scoring the parent's anchors against the delta rows only.
 * Pinned here: that histogram equals the Spark-SQL oracle over the
 * anchors the artifact records, through appends and deletes; a fresh
 * session, which holds no state, recalibrates the grown artifact to the
 * same width and recall; and a rewrite grow or a compacted parent takes
 * the from-scratch path.
 */
class GrownCalibrationSpec extends AnyFunSuite with SparkTestBase {

  private val contract = IvfGeometry.Contract(3, 0.95, nAnchors = 32)
  private val kCap = IvfGeometry.capFor(contract.k)

  /** Hash-derived 16-dim embeddings for ids [from, until), no RNG. */
  private def batch(from: Long, until: Long): DataFrame =
    spark.range(from, until)
      .select(col("id").as("vec_id"),
        array((0 until 16).map(d =>
          ((pmod(xxhash64(col("id") * (d + 1) + d), lit(1000)) / 500.0) - 1.0)
            .cast("float")): _*).as("embedding"))

  /** Calibrate `src` in `s`: the result, the artifact it resolved and
    * the session's histogram state for it. */
  private def calibrate(s: SparkSession, src: String, root: String)
      : (IvfGeometry.Calibrated, String, IvfGeometry.HistState) = {
    val cal = IvfGeometry.calibrated(s, src, "vec_id", "embedding", contract, root)
    val path = IvfIndex.openOrBuildPath(s, new IvfIndex(cal.ivf.nCentroids, 1),
      src, "vec_id", "embedding", root)
    (cal, path, IvfGeometry.histState(s, path, contract.nAnchors, kCap).get)
  }

  /** `state`'s histogram equals the oracle's over the recorded anchors. */
  private def assertOracle(src: String, path: String, c: Int,
      state: IvfGeometry.HistState, what: String): Map[(Int, Int), Long] = {
    val anchors = IvfGeometry.readAnchors(path, contract.nAnchors)
    assert(anchors.exists(_.length == state.anchors.map(_._1).distinct.length),
      s"$what: the artifact does not record the anchors it was scored over")
    val oracle = JointHistOracle.counts(IvfIndex.load(spark, path),
      spark.read.parquet(src), "vec_id", "embedding", c, contract.nAnchors,
      kCap, anchors.map(_.toSet))
    assert(oracle.nonEmpty, what)
    assert(state.hist.counts == oracle, what)
    oracle
  }

  private def append(src: String, from: Long, until: Long): Unit =
    batch(from, until).repartition(2).write.mode("append").parquet(src)

  /** Tombstone `ids` on the published artifact, as a store delete does. */
  private def delete(path: String, ids: org.apache.spark.sql.Dataset[_]): Unit =
    IndexCache.mergeTombstones(spark, path, ids.toDF("id"), None)

  test("a grown histogram equals the oracle over the recorded anchors, through appends and deletes") {
    val dir = scratchDir("graft-grown-hist")
    val root = scratchDir("graft-grown-hist-idx")
    val src = s"$dir/embeddings.parquet"
    batch(0, 1200).repartition(3).write.parquet(src)
    val (cal0, path0, st0) = calibrate(spark, src, root)
    val c = cal0.ivf.nCentroids
    assert(st0.parent.isEmpty)
    assertOracle(src, path0, c, st0, "fresh build")

    // after an append
    append(src, 1200, 1300)
    val (cal1, path1, st1) = calibrate(spark, src, root)
    assert(cal1.ivf.nCentroids == c && path1 != path0)
    assert(st1.parent.contains(path0), "the append did not grow the parent's histogram")
    assert(st1.anchors.map(_._1).toSet == st0.anchors.map(_._1).toSet)
    assertOracle(src, path1, c, st1, "append")
    assert(IvfGeometry.histState(spark, path0, contract.nAnchors, kCap).isEmpty,
      "the superseded parent's state stays in the session")

    // after a delete followed by an append: parent-corpus neighbours
    // tombstoned since the parent was calibrated
    delete(path1, spark.range(0, 1300, 7))
    append(src, 1300, 1400)
    val (_, path2, st2) = calibrate(spark, src, root)
    assert(st2.parent.contains(path1))
    val withDead = assertOracle(src, path2, c, st2, "delete, then append")
    assert(withDead.exists { case ((_, cr), n) => cr == 0 && n > 0 },
      "no tombstoned neighbour was exercised")

    // an append after deleting rows the previous append added
    delete(path2, spark.range(1300, 1400, 3))
    append(src, 1400, 1440)
    val (_, path3, st3) = calibrate(spark, src, root)
    assert(st3.parent.contains(path2))
    assertOracle(src, path3, c, st3, "append after deleting appended rows")
  }

  test("a fresh session recalibrates a grown artifact to the same width and recall") {
    val dir = scratchDir("graft-grown-fresh")
    val root = scratchDir("graft-grown-fresh-idx")
    val src = s"$dir/embeddings.parquet"
    batch(0, 1200).repartition(3).write.parquet(src)
    val (_, path0, _) = calibrate(spark, src, root)
    delete(path0, spark.range(0, 1200, 11))
    append(src, 1200, 1350)
    val (grown, path1, st1) = calibrate(spark, src, root)
    assert(st1.parent.contains(path0))
    // no state in the new session, and no sidecar to read the width from
    val sidecar = new java.io.File(path1, s"nprobe-${contract.fingerprint}")
    assert(sidecar.delete())
    val (fresh, freshPath, stF) = calibrate(spark.newSession(), src, root)
    assert(freshPath == path1 && stF.parent.isEmpty)
    assert(stF.hist == st1.hist)
    assert(fresh.ivf.nProbe == grown.ivf.nProbe &&
      fresh.measuredRecall == grown.measuredRecall)
    assert(sidecar.isFile)
  }

  test("a rewrite grow and a grow of a compacted parent calibrate from scratch") {
    val dir = scratchDir("graft-grown-fallback")
    val root = scratchDir("graft-grown-fallback-idx")
    val src = s"$dir/embeddings.parquet"
    batch(0, 1200).repartition(3).write.parquet(src)
    val (cal0, path0, _) = calibrate(spark, src, root)
    val c = cal0.ivf.nCentroids

    // ids 1150..1199 again: the link-append declines, the rewrite runs
    append(src, 1150, 1250)
    val (_, path1, st1) = calibrate(spark, src, root)
    assert(path1 != path0 && st1.parent.isEmpty, "an id overlap grew the histogram")
    assertOracle(src, path1, c, st1, "rewrite grow")

    // a compaction rewrites the cells the parent's state was read from
    delete(path1, spark.range(0, 1250, 5))
    IvfIndex.compactOnDisk(spark, path1)
    append(src, 1250, 1300)
    val (_, path2, st2) = calibrate(spark, src, root)
    assert(path2 != path1 && st2.parent.isEmpty,
      "a grow of a compacted parent reused the parent's cells")
    assertOracle(src, path2, c, st2, "grow after compaction")
  }
}
