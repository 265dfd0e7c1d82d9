package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Calibration probe (test tooling, env-configurable like PlanDump):
  * prints the calibrated geometry and the raw joint-histogram inputs for
  * the SF dir's embeddings — used to diagnose calibration changes.
  * `SPARK_GRAFT_SF_DIR` picks the corpus, `SPARK_GRAFT_CPUS` the master. */
object GeoProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val src = s"$dir/embeddings.parquet"
    val emb = spark.read.parquet(src)
    println(s"GEO rows=${emb.count()}")
    val root = java.nio.file.Files.createTempDirectory("geo-probe").toString
    for (k <- args.headOption.map(_.split(',').toSeq.map(_.toInt))
        .getOrElse(Seq(3, 10))) {
      val cal = graft.ml.IvfGeometry.calibrated(spark, src, "vec_id",
        "embedding", graft.ml.IvfGeometry.Contract(k, 0.95), cacheRoot = root)
      println(s"GEO k=$k c=${cal.ivf.nCentroids} p=${cal.ivf.nProbe} " +
        s"recall=${cal.measuredRecall}")
    }
    // phase timings on a cold root
    {
      import graft.ml._
      def timed[T](tag: String)(f: => T): T = {
        val t0 = System.nanoTime(); val v = f
        println(f"GEO phase $tag ${(System.nanoTime() - t0) / 1e9}%.2f s"); v
      }
      val root2 = java.nio.file.Files.createTempDirectory("geo-probe2").toString
      val c = IvfGeometry.centroidsFor(emb.count())
      val idx0 = new IvfIndex(c, 1)
      val b0 = timed("build(fit+assign)")(
        idx0.build(spark, spark.read.parquet(src), "vec_id", "embedding"))
      timed("kmeans-fit-only") {
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.functions.array_to_vector
        val norm = graft.functions.VectorFunctions.l2Norm(col("embedding"))
        val prepared = emb.filter(norm > 0)
          .select(col("vec_id").as("id"), col("embedding").as("emb"),
            array_to_vector(transform(col("embedding"), x => x / norm)).as("features"))
        new KMeans().setK(c).setSeed(42L).setFeaturesCol("features")
          .setPredictionCol("cell").fit(prepared)
      }
      val stg = root2 + "/manual-stage"
      timed("save")(IvfIndex.save(b0, stg))
      val p = timed("openOrBuildPath(cold)")(
        IvfIndex.openOrBuildPath(spark, new IvfIndex(c, 1), src, "vec_id",
          "embedding", root2))
      timed("load")(IvfIndex.load(spark, p))
      timed("calibrate#1(joint)")(graft.ml.IvfGeometry.calibrated(spark, src,
        "vec_id", "embedding", graft.ml.IvfGeometry.Contract(3, 0.951),
        cacheRoot = root2))
      timed("calibrate#2(arith)")(graft.ml.IvfGeometry.calibrated(spark, src,
        "vec_id", "embedding", graft.ml.IvfGeometry.Contract(10, 0.971),
        cacheRoot = root2))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root2))
    }
    // replicate the joint pipeline with intermediates
    {
      import graft.ml._
      import graft.functions.TopKByScore
      import graft.functions.VectorFunctions.cosineSim
      val c = IvfGeometry.centroidsFor(emb.count())
      val idx = new IvfIndex(c, 1)
      val built0 = IvfIndex.load(spark,
        IvfIndex.openOrBuildPath(spark, idx, src, "vec_id", "embedding", root))
      val searchable = graft.util.Spread.byKey(emb
        .filter(graft.functions.VectorFunctions.l2Norm(col("embedding")) > 0), "vec_id")
        .withColumn("__gid", xxhash64(col("vec_id")))
      val builtS = IvfIndex.Built(
        built0.assigned.withColumn("id", xxhash64(col("id"))),
        built0.centroids,
        built0.tombstones.map(_.withColumn("id", xxhash64(col("id")))))
      val n = searchable.count()
      val stride = math.max(1L, n / 128)
      val anchors = searchable
        .filter(pmod(hash(col("vec_id")), lit(stride)) === 0)
        .orderBy(col("vec_id")).limit(128).localCheckpoint()
      println("GEO anchors=" + anchors.count())
      val exact = searchable
        .select(col("__gid").as("n_id"), col("embedding").as("n_emb"))
        .crossJoin(broadcast(anchors
          .select(col("__gid").as("q_id"), col("embedding").as("q_emb"))))
        .select(col("q_id"), col("n_id"),
          cosineSim(col("q_emb"), col("n_emb")).as("cos"))
        .groupBy(col("q_id"))
        .agg(TopKByScore(64)(col("cos"), col("n_id")).as("hits"))
        .select(col("q_id"), posexplode(col("hits.id")).as(Seq("r0", "neighbor_id")))
        .select(col("q_id"), (col("r0") + 1).as("exact_rank"), col("neighbor_id"))
        .localCheckpoint()
      println("GEO exact=" + exact.count() + " perRank1=" +
        exact.filter(col("exact_rank") === 1).count())
      val ranks = JointHistOracle.cellRanks(builtS, anchors, "__gid",
        "embedding", c)
      println("GEO ranks=" + ranks.count())
      val neighborCells = builtS.live
        .select(col("id").as("neighbor_id"), col("cell"))
      println("GEO ncells=" + neighborCells.count())
      val j1 = exact.join(neighborCells, Seq("neighbor_id"), "left")
      println("GEO j1=" + j1.count() + " j1nullcell=" +
        j1.filter(col("cell").isNull).count())
      val j2 = j1.join(ranks, Seq("q_id", "cell"), "left")
      println("GEO j2=" + j2.count() + " j2nullrank=" +
        j2.filter(col("cell_rank").isNull).count())
    }
    spark.stop()
  }
}
