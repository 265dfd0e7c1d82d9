package perfbench

import graft.SparkEntry
import graft.util.SharedBuilds
import org.apache.spark.sql.SparkSession

/** The curation batch: one `graft.SparkEntry.queries` entry per query
  * family, run once each, in order, in a fresh session (so every session
  * cache builds cold), over the benchmark's own table set (`tables.py`).
  * Each output is written as parquet under `out/<query>`; `run.py`
  * compares it with the query's `SparkEntry.oracleSql` in DuckDB. */
final class Batch(spark: SparkSession, tracer: Tracer, tables: String, out: String) {
  import Batch._

  /** Wall seconds per query, in list order. */
  def run(): Seq[(String, Double)] = {
    val session = spark.newSession()
    SharedBuilds.reset()
    Queries.map { q =>
      val t = System.nanoTime()
      tracer.op(s"batch.$q")(
        SparkEntry.queries(q)(session, tables).write.parquet(s"$out/$q"))
      q -> (System.nanoTime() - t) / 1e9
    }
  }

  /** Build seconds of each session cache the batch filled. */
  def sharedBuilds: Map[String, Double] =
    SharedCaches.map(n => n -> SharedBuilds.snapshot.getOrElse(n, 0.0)).toMap

  def oracles: Map[String, String] = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
}

object Batch {
  /** A CPU-bound dedup kernel, an ANN audit over the shared exact top-k
    * frame, and the relational and event controls that bypass every
    * graft layer. The iterative family (`graph_pagerank`: 55 jobs, about
    * 4 s here) does not fit the run length. */
  val Queries = Seq("dedup_fuzzy_levenshtein", "ann_knn_join",
    "q5_nation_revenue", "events_sessionize_lag")
  /** The `SessionCache` builds these queries fill. */
  val SharedCaches = Seq("exact_topk")
}
