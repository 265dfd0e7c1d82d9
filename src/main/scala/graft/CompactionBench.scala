package graft

import graft.ml.{IvfGeometry, IvfPqIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Measures the delete-lifecycle claim on the composite index: a delete
 * wave's physical compaction ([[graft.ml.IvfPqIndex.compactOnDisk]])
 * must cost a rewrite BOUNDED by the wave's footprint — the dead ids'
 * cell directories plus their fetch buckets — not an index rebuild.
 * Two wave shapes are timed against the same fresh build:
 *
 *  - a CLUSTERED wave (contiguous ids = one ingest source/domain being
 *    retracted, the realistic 100 TB shape): lands in a handful of
 *    cells, so compaction rewrites a handful of directories;
 *  - a SCATTERED wave (stride-sampled ids, the worst case): touches
 *    ~min(|wave|, nCentroids) cells, bounding compaction from above at
 *    roughly the build's encode cost — still no KMeans re-fit.
 *
 * Prints one JSON line with the build wall, each wave's affected-cell
 * count and compaction wall, and the row-count identities that prove
 * reclamation. The corpus is (re)generated deterministically when the
 * directory is missing ([[ClusteredCorpus]] seed).
 *
 *   sbt "runMain graft.CompactionBench /tmp/graft-clustered20 400 100 200"
 */
object CompactionBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-clustered20")
    val nClusters = args.lift(1).map(_.toInt).getOrElse(400)
    val perCluster = args.lift(2).map(_.toInt).getOrElse(100)
    val deleteN = args.lift(3).map(_.toInt).getOrElse(200)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val src = s"$dir/embeddings.parquet"
    if (!new java.io.File(s"$src/_SUCCESS").isFile)
      ClusteredCorpus.write(spark, dir, nClusters, perCluster)
    val n = nClusters.toLong * perCluster
    val dim = spark.read.parquet(src).select(size(col("embedding")))
      .head().getInt(0)

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val c = IvfGeometry.centroidsFor(n)
    val ivfpq = new IvfPqIndex(c, 1, m = IvfGeometry.subspacesFor(dim),
      kCentroids = IvfGeometry.codebookFor(n))

    // one measurement per wave shape, each against its OWN fresh build
    // (a run-scoped cache root defeats the fingerprint cache so tBuild
    // is the real KMeans + encode cost, the denominator of the claim)
    def run(wave: String): String = {
      val cacheRoot = graft.util.ExitScratch.register(
        java.nio.file.Files.createTempDirectory(s"graft-compbench-$wave")
          .toString)
      val (path, tBuild) = timed(IvfPqIndex.openOrBuildPath(spark, ivfpq,
        src, "vec_id", "embedding", cacheRoot))
      val dead = (wave match {
        case "clustered" => (0L until deleteN.toLong)            // ids 0..w-1
        case _ => (0 until deleteN).map(i => i.toLong * n / deleteN)
      }).toDF("id")
      graft.ml.IndexCache.writeTombstones(Some(dead), path)
      val built = IvfPqIndex.load(spark, path)
      val affectedCells = built.codedCell.join(dead, Seq("id"), "left_semi")
        .select("cell").distinct().count()
      val (_, tCompact) = timed(IvfPqIndex.compactOnDisk(spark, path))
      val after = IvfPqIndex.load(spark, path)
      require(after.tombstones.isEmpty, "sidecar must drop")
      require(after.codedCell.count() == n - deleteN,
        s"expected ${n - deleteN} live codes")
      require(after.codedCell.join(dead, Seq("id"), "left_semi").isEmpty,
        "dead codes must be gone")
      f""""$wave%s":{"build_sec":$tBuild%.2f,"affected_cells":$affectedCells%d,""" +
        f""""compact_sec":$tCompact%.2f,"compact_over_build":${tCompact / tBuild}%.3f}"""
    }

    val cl = run("clustered")
    val sc = run("scattered")
    println(s"""{"metric":"ivfpq_compaction","n":$n,"n_centroids":$c,""" +
      s""""delete_n":$deleteN,$cl,$sc}""")
    spark.stop()
  }
}
