package graft.ml

import graft.functions.{TopKByScore, VectorFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Binary sign-bit index — the persisted artifact behind the
 * `knn_binary_rerank` two-stage search (the 1-bit analog of the PQ code
 * table). Unlike the other ANN families there is nothing to fit: the
 * 64-bit signature is a deterministic function of each embedding
 * (`VectorFunctions.signPack`), so "build" is one map-side encode — but
 * at 100 TB you still persist it once and stream 16 bytes/row at query
 * time instead of re-deriving signatures from the 32×-larger float
 * column on every search, and the exact re-rank needs the id-bucketed
 * embedding fetch table on disk so the shortlist can partition-prune its
 * fetch (same discipline as [[PqIndex]]'s re-rank; pinned by
 * `SignRerankSpec`).
 *
 * Scale shape of [[SignIndex.scoredShortlist]]:
 *  - shortlist scan streams (id, packed) only — parquet prunes the
 *    embedding column away (ReadSchema asserted in the spec);
 *  - Hamming distance is codegen'd `bit_count(packed ^ q_packed)`
 *    against a broadcast driver-scale query table;
 *  - per-query top-S via bounded [[TopKByScore]] partial agg — only
 *    S × nPartitions candidates per query cross the shuffle;
 *  - the S×|Q| shortlist fetches full embeddings through a (bucket, id)
 *    equi-join against the bucket-PARTITIONED fetch table, so the
 *    broadcast shortlist dynamic-partition-prunes the fetch scan — no
 *    full-corpus embedding scan rides the re-rank side.
 *
 * Incremental growth: signatures never re-train, so append is a pure
 * map-side encode of the new files (the degenerate — and ideal — form of
 * the frozen-quantizer append the other families implement).
 */
object SignIndex {

  private[ml] val fingerprint = "sign-v1"

  /** Flat `signs` (the key table) + bucket-partitioned `embById`. */
  private[graft] val Layout = IndexCache.Layout("signs", Seq("embById"))

  /** The persisted pair: the 16-byte/row signature table the shortlist
    * scan streams, and the id-bucketed embedding fetch table the exact
    * re-rank partition-prunes into — plus the optional id-tombstone
    * sidecar every persisted family carries (deletes are O(batch)
    * bookkeeping filtered out of the shortlist scan by [[Built.liveSigns]],
    * reclaimed physically by [[compactOnDisk]]). */
  case class Built(signs: DataFrame, embById: DataFrame,
      tombstones: Option[DataFrame] = None) {
    /** Shortlist-scannable rows: `signs` minus tombstoned ids (filtered
      * BEFORE the Hamming top-S, so a dead row can never occupy a
      * shortlist slot and truncate the re-ranked result). */
    def liveSigns: DataFrame = IndexCache.live(signs, tombstones)
  }

  def build(src: DataFrame, idCol: String, embCol: String): Built = {
    val base = src.select(col(idCol).cast("long").as("id"),
      col(embCol).as("emb"))
    Built(
      base.select(col("id"), VectorFunctions.signPack(col("emb")).as("packed")),
      PqIndex.withBucket(base))
  }

  def save(built: Built, path: String): Unit = {
    built.signs.write.mode("overwrite").parquet(s"$path/signs")
    built.embById.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/embById")
    IndexCache.writeTombstones(built.tombstones, path)
  }

  def load(spark: SparkSession, path: String): Built =
    Built(spark.read.parquet(s"$path/signs"),
      spark.read.parquet(s"$path/embById")
        .select(col("bucket").cast("int").as("bucket"), col("id"), col("emb")),
      IndexCache.readTombstones(spark, path))

  /** Map-side encode of new source files onto an existing index (LWW on
    * id collisions, mirroring [[PqIndex.append]]; a re-added id also
    * comes OFF the tombstone list). */
  def append(built: Built, delta: DataFrame, idCol: String,
      embCol: String): Built = {
    val d = build(IvfIndex.dedupDeltaIds(
      delta.select(col(idCol).cast("long").as("id"), col(embCol).as("emb"))),
      "id", "emb")
    val deltaIds = d.signs.select("id")
    Built(
      built.signs.join(deltaIds, Seq("id"), "left_anti").unionByName(d.signs),
      built.embById.join(deltaIds, Seq("id"), "left_anti")
        .unionByName(d.embById),
      IndexCache.revive(built.tombstones, deltaIds))
  }

  /** Delete by id via the tombstone sidecar — the same O(|batch|),
    * no-re-encode contract as [[IvfIndex.delete]]/[[PqIndex.delete]]. */
  def delete(built: Built, ids: DataFrame, idCol: String): Built = {
    Built(built.signs, built.embById, Some(IndexCache.withTombstones(
      built.tombstones, ids.select(col(idCol).cast("long").as("id")))))
  }

  /** On-disk compaction of a PUBLISHED sign index — completes
    * [[IvfIndex.compactOnDisk]]'s contract on the last persisted family:
    * the flat 16-byte/row signature table is rewritten whole (it has no
    * partition structure, and is the smallest artifact any family
    * streams), the id-bucketed fetch table rewrites ONLY the dead ids'
    * buckets, then the sidecar drops. No-op below `minDeadFraction` of
    * reclaimable rows ([[IndexCache.compactOnDisk]]). */
  def compactOnDisk(spark: SparkSession, path: String,
      minDeadFraction: Double = 0.0): Unit = {
    val built = load(spark, path)
    IndexCache.compactOnDisk(spark, path, built.signs, built.tombstones,
        minDeadFraction) { dead =>
      built.liveSigns.localCheckpoint()
        .write.mode("overwrite").parquet(s"$path/signs")
      PqIndex.compactEmbBuckets(spark, s"$path/embById", built.embById, dead)
    }
  }

  /** Load the persisted index for `sourcePath` or build + publish once
    * (atomic publish / staleness / grow-by-append via [[IndexCache]]). */
  def openOrBuild(spark: SparkSession, sourcePath: String, idCol: String,
      embCol: String,
      cacheRoot: String = IndexCache.DefaultSignRoot): Built = {
    val path = IndexCache.openOrGrow(spark, sourcePath, fingerprint,
      cacheRoot, Layout) { staging =>
      save(build(spark.read.parquet(sourcePath), idCol, embCol), staging)
    }((published, delta, staging) =>
        appendOnDisk(spark, published, delta, idCol, embCol, staging),
      (published, delta, staging) =>
        save(append(load(spark, published), delta, idCol, embCol), staging))
    load(spark, path)
  }

  /** The sign-family O(delta) refresh ([[IndexCache.linkAppend]]):
    * hardlink the published signature/fetch/sidecar files into `staging`
    * and append ONLY the delta's packed rows — the 16-byte/row signs
    * table and the bucketed fetch table extend instead of rewriting. */
  private[graft] def appendOnDisk(spark: SparkSession, published: String,
      delta: DataFrame, idCol: String, embCol: String,
      staging: String): Boolean = {
    val base = IvfIndex.dedupDeltaIds(
      delta.select(col(idCol).cast("long").as("id"), col(embCol).as("emb")))
      .localCheckpoint()
    IndexCache.linkAppend(spark, published, staging, Layout,
        base.select("id")) { st =>
      if (!base.isEmpty) {
        val d = build(base, "id", "emb")
        d.signs.write.mode("append").parquet(s"$st/signs")
        d.embById.write.mode("append").partitionBy("bucket")
          .parquet(s"$st/embById")
      }
    }
  }

  /**
   * Hamming top-`shortlist` per query, exact-cosine rescored through the
   * pruned fetch join. `queries` is a driver-scale (q_id, q_packed,
   * q_emb) table; corpus rows equal to a query id are excluded (self
   * matches). Returns the FULL scored shortlist (q_id, id, hamming, cos)
   * — final top-k ranking (and any score rounding that must precede the
   * rank for oracle determinism) stays with the caller, who is ranking
   * S×|Q| rows, not the corpus.
   */
  def scoredShortlist(built: Built, queries: DataFrame,
      shortlist: Int): DataFrame = {
    val short = built.liveSigns
      .crossJoin(broadcast(queries.select(col("q_id"), col("q_packed"))))
      .filter(col("id") =!= col("q_id"))
      .withColumn("ham", expr("bit_count(packed ^ q_packed)"))
      .groupBy(col("q_id"))
      .agg(TopKByScore(shortlist)((-col("ham")).cast("double"), col("id"))
        .as("hits"))
      .select(col("q_id"), explode(col("hits")).as("h"))
      .select(col("q_id"), col("h.id").as("id"),
        (-col("h.score")).cast("int").as("hamming"))
    short.withColumn("bucket", PqIndex.bucketOf(col("id")))
      .join(built.embById, Seq("bucket", "id"))
      .join(broadcast(queries.select(col("q_id"), col("q_emb"))), Seq("q_id"))
      .select(col("q_id"), col("id"), col("hamming"),
        VectorFunctions.cosineSim(col("q_emb"), col("emb")).as("cos"))
  }
}
