package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

/**
 * Spread a CPU-heavy stage across the session's full parallelism with a
 * keyed repartition at a PINNED partition count (r17 optimization —
 * the one helper behind QueryPack.spread and the ml/query cross-join
 * sites).
 *
 * Why unconditional and why pinned (both measured, see
 * OPTIMIZATION_r17.md):
 *  - a partition-COUNT guard is vacuously satisfied on byte-small
 *    parquet — Spark plans `minPartitionNum` splits of which all but
 *    one are EMPTY, so "already parallel" scans still run every row in
 *    one task;
 *  - an unpinned keyed repartition is folded back to one partition by
 *    AQE coalescing (the exchanges here are ~KB-MB, far under the 1 MB
 *    min-partition-size floor), re-serializing the stage it was meant
 *    to widen; AQE respects user-specified counts.
 * What crosses the spread shuffle is the small pre-derivation row; the
 * work it parallelizes (codec decode, bounded DP, N² cosine scoring)
 * is the consumer's entire budget. At real scale inputs arrive
 * well-partitioned and the spread's relative cost stays negligible.
 */
object Spread {
  def byKey(df: DataFrame, key: String): DataFrame = {
    // max(input partitions, slots) — never a CAP (r18, ADVICE): on the
    // byte-small fixtures the planned scan has <= slots (mostly empty)
    // partitions and this pins the full width exactly as before, while
    // an already-well-partitioned input at real scale keeps its
    // parallelism instead of being folded down to defaultParallelism.
    val slots = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(math.max(scanSplits(df), slots), col(key))
  }

  /** The file splits the input's file scans plan to, from their
    * relations' sizes and `spark.sql.files.maxPartitionBytes` — read off
    * the analyzed plan. `df.rdd.getNumPartitions` would plan the input a
    * second time, and under AQE run its upstream shuffles before any
    * action. Non-file leaves count 0. */
  private def scanSplits(df: DataFrame): Int = {
    val maxBytes = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.analyzed.collectLeaves().map {
      case lr: LogicalRelation => lr.relation match {
        case r: HadoopFsRelation => r.sizeInBytes
        case _ => 0L
      }
      case _ => 0L
    }.sum
    math.min(Int.MaxValue.toLong, (bytes + maxBytes - 1) / maxBytes).toInt
  }
}
