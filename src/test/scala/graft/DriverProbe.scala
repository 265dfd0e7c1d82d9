package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-timeline probe (test tooling, env-configurable like GeoProbe):
  * one insert refresh of a store collection at derived geometry — the
  * benchmark's `serve` shape — with the calling thread sampled every
  * 10 ms while `buildIndex` runs. Job spans show driver-side work only as
  * gaps between jobs; this prints what fills them: runs of equal
  * samples as (offset, samples, thread state, innermost `graft` frame,
  * innermost frame), then the `graft` frames by sample count.
  *
  *   sbt "Test/runMain graft.DriverProbe [rows] [delta]"
  *
  * `rows` (default 5000) clustered 64-dim vectors are indexed, then
  * `delta` (default 100) more are upserted, ten keys removed, and the
  * refresh is sampled. `SPARK_GRAFT_CPUS` picks the master. */
object DriverProbe {

  /** One sample: ms since the call began, thread state, the innermost
    * frame of graft's own code and the innermost frame. */
  final case class Sample(atMs: Double, state: Thread.State, graftFrame: String,
      top: String)

  /** `body`'s result, and samples of the calling thread taken every
    * `everyMs` while it ran. */
  def sampled[A](everyMs: Long)(body: => A): (A, Seq[Sample]) = {
    val target = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    @volatile var running = true
    val t0 = System.nanoTime()
    val sampler = new Thread(() => {
      while (running) {
        val stack = target.getStackTrace
        val state = target.getState
        def show(e: StackTraceElement) =
          s"${e.getClassName}.${e.getMethodName}(${e.getFileName}:${e.getLineNumber})"
        val own = stack.find(e => e.getClassName.startsWith("graft.") &&
          !e.getClassName.startsWith("graft.DriverProbe"))
        samples.add(Sample((System.nanoTime() - t0) / 1e6, state,
          own.fold("-")(show), stack.headOption.fold("-")(show)))
        Thread.sleep(everyMs)
      }
    }, "driver-probe-sampler")
    sampler.setDaemon(true)
    sampler.start()
    val out = try body finally { running = false; sampler.join() }
    import scala.jdk.CollectionConverters._
    (out, samples.asScala.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val rows = args.lift(0).fold(5000)(_.toInt)
    val delta = args.lift(1).fold(100)(_.toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("driver-probe").toString
    try {
      ClusteredCorpus.write(spark, dir, nClusters = (rows + delta + 99) / 100,
        perCluster = 100)
      val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      def slice(lo: Long, hi: Long) =
        corpus.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select(concat(lit("k"), col("vec_id")).as("key"), col("embedding"))
      val store = new graft.store.MerkonStore(spark)
      store.upsertBatch("probe", slice(0, rows))
      store.compact("probe")
      store.buildIndex("probe", dir = s"$dir/index")
      store.upsertBatch("probe", slice(rows, rows + delta))
      store.removeBatch("probe", (0 until 10).map(i => s"k${i * 37}"))
      store.compact("probe")
      val (_, samples) = sampled(10)(store.buildIndex("probe", dir = s"$dir/index"))
      val wall = samples.lastOption.fold(0.0)(_.atMs)
      println(f"DRIVER buildIndex (insert refresh): ${samples.size} samples " +
        f"over $wall%.0f ms")
      // consecutive equal samples print as one run
      val runs = samples.foldLeft(List.empty[(Sample, Int)]) {
        case ((s0, n) :: rest, s) if s0.state == s.state &&
            s0.graftFrame == s.graftFrame && s0.top == s.top => (s0, n + 1) :: rest
        case (acc, s) => (s, 1) :: acc
      }.reverse
      runs.foreach { case (s, n) =>
        println(f"DRIVER ${s.atMs}%7.0f ms  x$n%-3d ${s.state}%-13s " +
          s"${s.graftFrame}  <- ${s.top}")
      }
      println("DRIVER graft frames by samples:")
      samples.groupBy(_.graftFrame).toSeq.sortBy(-_._2.size).take(15)
        .foreach { case (f, ss) => println(f"DRIVER ${ss.size}%5d  $f") }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      spark.stop()
    }
  }
}
