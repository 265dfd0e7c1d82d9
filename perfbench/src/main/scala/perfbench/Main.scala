package perfbench

import graft.store.MerkonStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.io.File
import scala.collection.mutable

/** What differs between the workloads: whether a read loop runs for the
  * measured seconds (the `serve` hot path; otherwise the waves carry the
  * run and their count is fixed), how many insert/delete waves run, how
  * many read pairs follow each, and the index geometry (0/0 = derived). */
final case class Shape(loopSeconds: Boolean, waves: Int,
    readPairsPerWave: Int, nCentroids: Int, nProbe: Int)

object Shape {
  val byWorkload: Map[String, Shape] = Map(
    "serve" -> Shape(loopSeconds = true, waves = 1, readPairsPerWave = 1,
      nCentroids = 0, nProbe = 0),
    "ingest_refresh" -> Shape(loopSeconds = false, waves = 2,
      readPairsPerWave = 3, nCentroids = 32, nProbe = 3))
}

/** Drives the engine through its public store API (`graft.store.
  * MerkonStore`) the way a service does: set up a collection, serve
  * top-10 queries through the exact and the indexed path, ingest
  * mutation waves and refresh the index, then compact and collect
  * garbage; last, the curation batch (`Batch`). Every store output is
  * checked against the benchmark's own brute-force oracle outside the
  * timed regions; `run.py` checks the batch outputs. */
final class Bench(spark: SparkSession, shape: Shape, seed: Long,
    seconds: Int, tracer: Tracer, work: String, tables: String) {
  import Bench._

  private val corpus = new Corpus(seed, Dim, Clusters)
  // the timed queries, then the warm-up ones
  private val queries = Array.tabulate(Queries + WarmupPairs)(corpus.query)
  private val live = new LiveSet
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val oracle = mutable.HashMap.empty[Int, Seq[(String, Double)]]
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var hits = 0; private var indexedPlans = 0
  /** Rows returned by each traced search, in call order, per path. */
  private val resultRows = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
  var attempted = 0L; var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  private var store: MerkonStore = _
  val batch = new Batch(spark, tracer, tables, s"$work/batch")

  private val started = System.nanoTime()

  /** Progress on stderr (the run log), with seconds since start. */
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.1fs] $msg")

  private def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (errors.size < 20) errors += what }
  }

  private def secs[A](body: => A): (A, Double) = {
    val t = System.nanoTime(); val a = body
    (a, (System.nanoTime() - t) / 1e9)
  }

  private def rows(stream: Long, from: Int, count: Int) =
    (from until from + count).map { i =>
      val (c, v) = corpus.vector(stream, i)
      (corpus.key(stream, i), c, v)
    }

  // ---- set-up: load, save, restart, index ----

  /** One set-up: upsert a fresh collection, save it and reload it in a
    * new store (a restarted service). Each repetition uses its own keys;
    * the last one is the collection the run uses. */
  private def setupOnce(rep: Int): Unit = {
    val base = rows(Stream0 + rep, 0, Rows)
    val dir = s"$work/store-$rep"
    if (store != null) store.deleteCollection(Coll)
    val (_, total) = secs {
      val first = new MerkonStore(spark)
      timedOp("upsert", "store.upsert_batch")(
        first.upsertBatch(Coll, corpus.frame(spark, base)))
      timedOp("save", "store.save")(first.save(dir))
      store = new MerkonStore(spark)
      timedOp("load", "store.load")(store.load(dir))
    }
    sample("setup_s", total)
    log(f"setup $rep: done in $total%.2fs")
    live.clear(); oracle.clear()
    base.foreach { case (k, _, v) => live.put(k, v) }
  }

  /** `buildIndex` at the shape's geometry: derived when it is 0/0. */
  private def index(): Unit = store.buildIndex(Coll, shape.nCentroids, shape.nProbe)

  /** The cold index build, then a warm-up of both
    * query paths on queries the timed loop never asks. */
  private def buildAndWarm(): Unit = {
    val (_, b) = secs(timedOp("build", "store.build_index")(index()))
    sample("index_build_s", b)
    log(f"index built in $b%.2fs")
    (0 until WarmupPairs).foreach(i => readPair(Queries + i, timed = false))
  }

  private def timedOp[A](op: String, call: String)(body: => A): A =
    tracer.op(op) {
      val (a, s) = secs(body)
      sample(s"$call.driver_ms", s * 1000)
      a
    }

  // ---- reads ----

  private def readPair(q: Int, timed: Boolean): Unit = {
    search(q, indexed = false, timed)
    search(q, indexed = true, timed)
  }

  private def search(q: Int, indexed: Boolean, timed: Boolean): Unit = {
    val name = if (indexed) "search_indexed" else "search_exact"
    // `executed` is the Dataset that runs: its own QueryExecution holds
    // the Catalyst phase times and the final adaptive plan
    val (result, executed, ms) = tracer.op(if (timed) name else "warmup") {
      val t0 = System.nanoTime()
      val df = tracer.span("plan")(store.getNearestMatches(Coll, queries(q),
        K, MinScore, useIndex = indexed))
      val t1 = System.nanoTime()
      val executed = df.select("key", "score")
      val rs = tracer.span("execute")(executed.collect())
      val t2 = System.nanoTime()
      if (timed) sample(s"store.get_nearest_${if (indexed) "indexed" else "exact"}.driver_ms",
        (t1 - t0) / 1e6)
      (rs.map(r => (r.getString(0), r.getDouble(1))).toSeq, executed, (t2 - t0) / 1e6)
    }
    if (timed) sample(s"$name.ms", ms)
    if (timed && tracer.on) {
      val ph = Tracer.phases(executed)
      Seq("analysis", "optimization", "planning").foreach(p =>
        sample(s"$name.${p}_ms", ph.getOrElse(p, 0L).toDouble))
      resultRows.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += result.size
      if (indexed) {
        indexedPlans += 1
        if (Tracer.scanRoots(executed).exists(isArtifactPath)) hits += 1
      }
    }
    verify(q, indexed, result)
  }

  private def isArtifactPath(p: String): Boolean =
    p.contains("/graft-") && !p.contains("/graft-store-index")

  /** Exact results must equal the brute-force top-k; indexed results
    * must be live keys with exact scores in result order. */
  private def verify(q: Int, indexed: Boolean, got: Seq[(String, Double)]): Unit = {
    val want = oracle.getOrElseUpdate(q, live.topK(queries(q), K, MinScore))
    val qn = live.queryNorm(queries(q))
    val what = if (indexed) "indexed" else "exact"
    val ordered = got.zip(got.drop(1)).forall { case ((ka, a), (kb, b)) =>
      a > b || (a == b && ka < kb) }
    check(ordered && got.map(_._1).distinct.size == got.size,
      s"$what q$q: result not in (score desc, key asc) order")
    check(got.forall { case (k, s) =>
      live.contains(k) && math.abs(live.score(k, queries(q), qn) - s) <= Tol },
      s"$what q$q: a key is not live or its score is not exact")
    if (!indexed)
      check(got.size == want.size && got.zip(want).forall { case ((ka, a), (kb, b)) =>
        ka == kb && math.abs(a - b) <= Tol }, s"exact q$q: result differs from brute force")
    else {
      check(got.size <= K, s"indexed q$q: more than $K rows")
      val r = if (want.isEmpty) 1.0
        else got.map(_._1).toSet.intersect(want.map(_._1).toSet).size.toDouble / want.size
      recalls += r
    }
  }

  // ---- waves ----

  private def pick(keys: Iterable[String], n: Int, salt: Long): Seq[String] = {
    val r = new scala.util.Random(seed * 31 + salt)
    r.shuffle(keys.toVector.sorted).take(n).sorted
  }

  /** upsert new keys, delete existing ones, compact, refresh the index,
    * then read. Returns the rows written. */
  private def wave(w: Int): Long = {
    val ins = rows(StreamWave + w, 0, InsertRows)
    val del = pick(live.keys, DeleteRows, w)
    val (_, cycle) = secs {
      timedOp("upsert", "store.upsert_batch")(store.upsertBatch(Coll, corpus.frame(spark, ins)))
      timedOp("remove", "store.remove_batch")(store.removeBatch(Coll, del))
      timedOp("compact", "store.compact")(store.compact(Coll))
      ins.foreach { case (k, _, v) => live.put(k, v) }
      del.foreach(live.remove)
      oracle.clear()
      val (_, r) = secs(tracer.op("refresh")(index()))
      sample("refresh_s", r)
      log(f"wave $w: refreshed in $r%.2fs")
      readPairs(w)
    }
    sample("cycle_s", cycle)
    val back = store.getBatch(Coll, ins.map(_._1) ++ del).select("key")
      .collect().map(_.getString(0)).toSet
    check(back == ins.map(_._1).toSet,
      s"wave $w: getBatch returned ${back.size} keys, " +
        s"${back.count(del.contains)} of them deleted, expected ${ins.size}")
    ins.size + del.size
  }

  private def readPairs(salt: Int): Unit =
    (0 until shape.readPairsPerWave).foreach { i =>
      readPair((salt * shape.readPairsPerWave + i) % Queries, timed = true)
    }

  /** Rewrite existing keys with new vectors: the refresh must re-dump
    * and rebuild. */
  private def updateWave(): Long = {
    val keys = pick(live.keys, UpdateRows, 7777)
    val upd = keys.zipWithIndex.map { case (k, i) =>
      val (c, v) = corpus.vector(StreamUpdate, i); (k, c, v)
    }
    val (_, cycle) = secs {
      timedOp("upsert", "store.upsert_batch")(store.upsertBatch(Coll, corpus.frame(spark, upd)))
      timedOp("compact", "store.compact")(store.compact(Coll))
      upd.foreach { case (k, _, v) => live.put(k, v) }
      oracle.clear()
      val (_, r) = secs(tracer.op("refresh_update")(index()))
      sample("refresh_update_s", r)
      readPairs(shape.waves + 1)
    }
    sample("cycle_s", cycle)
    val back = store.getBatch(Coll, keys, withEmbeddings = true)
      .select("key", "embedding").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    check(upd.forall { case (k, _, v) => back.get(k).contains(v.toSeq) },
      "update wave: getBatch does not return the updated vectors")
    upd.size
  }

  // ---- the run ----

  def run(): Unit = {
    (0 until SetupReps).foreach(setupOnce)
    buildAndWarm()
    layer("shared_build.ann_geometry_s") =
      graft.util.SharedBuilds.snapshot.getOrElse("ann_geometry", 0.0)
    log("warm")
    if (shape.loopSeconds) {
      val deadline = System.nanoTime() + seconds * 1000000000L
      var i = 0
      while (System.nanoTime() < deadline) { readPair(i % Queries, timed = true); i += 1 }
    }
    val before = artifactDirs()
    var written = 0L
    (1 to shape.waves).foreach(w => written += wave(w))
    layer("refresh.artifacts_published") =
      (artifactDirs() -- before).size.toDouble / shape.waves
    if (tracer.on) {
      val stats = store.indexStats(Coll).filter(col("family") === "ivf").collect()
      check(stats.length == 1, "indexStats: no ivf row")
      stats.headOption.foreach { r =>
        layer("index.n_centroids") = r.getAs[Int]("n_centroids").toDouble
        layer("index.n_probe") = r.getAs[Int]("n_probe").toDouble
        layer("index.dead_fraction") = r.getAs[Double]("dead_fraction")
      }
    }
    // fold the waves' tombstones into the index, then the update wave
    val (_, c) = secs(timedOp("compact_index", "store.compact_index")(store.compactIndex(Coll)))
    sample("compact_index_s", c)
    log(f"index compacted in $c%.2fs")
    written += updateWave()
    check(recalls.sum / recalls.size >= RecallContract,
      f"mean recall@10 ${recalls.sum / recalls.size}%.4f is below $RecallContract")
    sample("ingest_rows_per_s", written / samples("cycle_s").sum)
    log("update wave done")
    store.gcIndexCache(olderThanMs = 0)
    // the index must still serve correctly after compaction and GC
    readPair(0, timed = false)
    sample("space_amp", graftBytes().toDouble / live.payloadBytes)
    log("store lifecycle done")
    curationBatch()
  }

  /** The curation batch, in a fresh session after the store lifecycle. */
  private def curationBatch(): Unit = {
    val walls = batch.run()
    sample("batch_wall_s", walls.map(_._2).sum)
    walls.foreach { case (q, s) => layer(s"batch.$q.wall_s") = s }
    batch.sharedBuilds.foreach { case (n, s) => layer(s"batch.shared_build.${n}_s") = s }
    log(f"curation batch done in ${walls.map(_._2).sum}%.2fs")
  }

  private def tmpRoots: Seq[File] =
    Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft-"))

  private def artifactDirs(): Set[String] =
    tmpRoots.filter(_.getName != "graft-store-index")
      .flatMap(r => Option(r.listFiles()).toSeq.flatten.filter(_.isDirectory)
        .map(_.getPath)).toSet

  private def graftBytes(): Long = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum
      else f.length()
    tmpRoots.map(size).sum
  }

  // ---- results ----

  def endToEnd: Map[String, Double] = {
    val s = samples.view.mapValues(_.toSeq).toMap
    Map(
      "setup_s" -> median(s("setup_s")),
      "index_build_s" -> median(s("index_build_s")),
      "search_indexed_p50_ms" -> pct(s("search_indexed.ms"), 50),
      "search_indexed_p95_ms" -> pct(s("search_indexed.ms"), 95),
      "search_exact_p50_ms" -> pct(s("search_exact.ms"), 50),
      "search_exact_p95_ms" -> pct(s("search_exact.ms"), 95),
      "recall_at_10" -> recalls.sum / recalls.size,
      "refresh_p50_s" -> median(s("refresh_s")),
      "refresh_update_s" -> median(s("refresh_update_s")),
      "ingest_rows_per_s" -> median(s("ingest_rows_per_s")),
      "compact_index_s" -> median(s("compact_index_s")),
      "space_amp" -> median(s("space_amp")),
      "batch_wall_s" -> median(s("batch_wall_s")))
  }

  def perLayer: Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double] ++= layer
    samples.foreach { case (k, v) =>
      if (k.endsWith("_ms") && !k.endsWith(".ms")) out(k) = median(v.toSeq)
    }
    out("search_indexed.rewrite_hit_ratio") =
      if (indexedPlans == 0) 0.0 else hits.toDouble / indexedPlans
    def perCall(op: String, f: OpCounters => Double): Double = {
      val cs = tracer.counters(op)
      if (cs.isEmpty) 0.0 else median(cs.map(f))
    }
    Seq("search_indexed", "search_exact", "build", "refresh", "refresh_update",
      "compact_index", "save", "load", "compact", "remove").foreach { op =>
      out(s"$op.jobs") = perCall(op, _.jobs.toDouble)
      out(s"$op.tasks") = perCall(op, _.tasks.toDouble)
    }
    Seq("search_indexed", "search_exact", "build", "refresh").foreach { op =>
      out(s"$op.task_wait_ms") = perCall(op, _.taskWaitMs.toDouble)
    }
    Seq("search_indexed", "search_exact").foreach { op =>
      out(s"$op.exec_cpu_ms") = perCall(op, _.execCpuNs / 1e6)
      out(s"$op.input_rows") = perCall(op, _.inputRows.toDouble)
      // rows examined per row returned, per call
      val perResult = tracer.counters(op).zip(resultRows.getOrElse(op, Nil))
        .collect { case (c, n) if n > 0 => c.inputRows.toDouble / n }
      out(s"$op.rows_per_result") = if (perResult.isEmpty) 0.0 else median(perResult)
    }
    Seq("build", "refresh").foreach { op =>
      EngineFiles.foreach { f =>
        out(s"$op.${f.stripSuffix(".scala")}.jobs") =
          perCall(op, _.byFile.get(f).fold(0.0)(_._1.toDouble))
        out(s"$op.${f.stripSuffix(".scala")}.exec_ms") =
          perCall(op, _.byFile.get(f).fold(0.0)(_._2.toDouble))
      }
    }
    Seq("build", "refresh", "refresh_update", "compact_index", "save").foreach { op =>
      out(s"$op.bytes_written") = perCall(op, _.bytesWritten.toDouble)
      out(s"$op.shuffle_write_bytes") = perCall(op, _.shuffleWrite.toDouble)
      out(s"$op.spill_bytes") = perCall(op, _.spill.toDouble)
    }
    Batch.Queries.foreach { q =>
      out(s"batch.$q.jobs") = perCall(s"batch.$q", _.jobs.toDouble)
      out(s"batch.$q.exec_cpu_s") = perCall(s"batch.$q", _.execCpuNs / 1e9)
    }
    endToEnd.foreach { case (k, v) => out(s"traced.$k") = v }
    out.toMap
  }

  def spans: Seq[Span] = tracer.allSpans

  def provenance: Map[String, Any] = Map(
    "seed" -> seed, "rows" -> Rows, "dim" -> Dim,
    "clusters" -> Clusters, "queries" -> Queries, "k" -> K,
    "min_relevance_score" -> MinScore, "setup_reps" -> SetupReps,
    "waves" -> shape.waves,
    "wave_inserts" -> InsertRows,
    "wave_deletes" -> DeleteRows,
    "update_rows" -> UpdateRows,
    "read_pairs_per_wave" -> shape.readPairsPerWave,
    "batch_queries" -> Batch.Queries,
    "search_samples" -> samples.get("search_exact.ms").fold(0)(_.size),
    "spark" -> spark.version, "java" -> sys.props("java.version"),
    "scala" -> scala.util.Properties.versionNumberString,
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> spark.sparkContext.master)
}

object Bench {
  val Coll = "docs"
  val Rows = 5000
  val Dim = 64
  val Clusters = 20
  val Queries = 64
  val SetupReps = 3
  val WarmupPairs = 2
  /** Per wave: 2 % of the corpus inserted, 1 % deleted; the update wave
    * rewrites 1 %. */
  val InsertRows = Rows / 50
  val DeleteRows = Rows / 100
  val UpdateRows = Rows / 100
  val K = 10
  val MinScore = 0.5
  /** The recall the store specs pin for the indexed path. */
  val RecallContract = 0.9
  /** Score tolerance of every check. The oracle repeats the kernel's
    * arithmetic, so scores agree to the last bit in practice. */
  val Tol = 1e-9
  val Stream0 = 100L
  val StreamWave = 1000L
  val StreamUpdate = 2000L
  /** Engine files that build and refresh jobs are attributed to. */
  val EngineFiles = Seq("IvfGeometry.scala", "IvfIndex.scala",
    "AnnIndex.scala", "MerkonStore.scala", "other")

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val x = (s.size - 1) * p / 100
    val lo = math.floor(x).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (x - lo)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val shape = Shape.byWorkload.getOrElse(workload,
      sys.error(s"unknown workload '$workload'"))
    val trace = opts("trace") == "1"
    val work = opts("work")
    // cold-cache isolation: every graft-* cache root under this run's
    // tmpdir must start empty, or a previous run's artifacts would be
    // served and the cold build would not be measured
    val tmp = new File(sys.props("java.io.tmpdir"))
    val dirty = Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft-") &&
        Option(f.listFiles()).exists(_.nonEmpty))
    require(dirty.isEmpty, s"cache roots not empty at start: ${dirty.mkString(", ")}")

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val bench = new Bench(spark, shape, opts("seed").toLong,
        opts("seconds").toInt, new Tracer(spark.sparkContext, trace), work,
        opts("tables"))
      bench.run()
      val out = Map(
        "attempted" -> bench.attempted, "failed" -> bench.failed,
        "errors" -> bench.errors.toSeq,
        "end_to_end" -> bench.endToEnd,
        "batch_oracles" -> bench.batch.oracles,
        "per_layer" -> (if (trace) bench.perLayer else Map.empty),
        "provenance" -> (bench.provenance + ("workload" -> workload) +
          ("trace" -> trace)))
      write(opts("out"), Json(out))
      if (trace) write(opts("spans"), Json(bench.spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.opId))))
    } finally spark.stop()
  }

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.write(new File(path).toPath, s.getBytes("UTF-8"))
}

/** A minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
