package graft.streaming

import graft.functions.TopKByScore
import graft.functions.VectorFunctions.cosineSim
import graft.ml.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicReference

/** A query vector arriving on the search stream. */
case class QueryVec(q_id: Long, q_emb: Seq[Float])

/** A streamed query routed to one IVF cell it will probe. */
case class RoutedQuery(q_id: Long, q_emb: Seq[Float], cell: Int)

/**
 * Streaming forms of the vector-search surface: the reference's flagship
 * `GetNearestMatchesAsync` (exact cosine top-k,
 * /root/reference/src/Connectors.Memory.Merkon/MerkonMemoryStore.cs:117-150)
 * as a STANDING query — every query vector arriving on a stream is
 * answered against the corpus continuously, the "semantic search as a
 * service" shape a vector store runs in production.
 */
object VectorStreams {

  /**
   * Continuous exact kNN: stream-static join of the query stream against
   * the (static) corpus, scored with the codegen'd cosine kernel and
   * reduced per query by the bounded partial-agg top-k — identical
   * semantics to the batch `knn_join`, and the SAME call works on a batch
   * frame (unified API; parity pinned by VectorStreamsSpec).
   *
   * Scale shape: the corpus side is the big one, but it is STATIC — each
   * micro-batch joins |batch queries| × corpus with the corpus scan
   * distributed as usual, and only partitions × |Q| × k candidate rows
   * cross the shuffle (TopKByScore partial aggregation). Aggregation
   * state is keyed by q_id: each query id occurs in one micro-batch, so
   * in update mode every query emits its final top-k as soon as its
   * batch completes; bound long-running state by expiring answered query
   * ids upstream (watermark on a query timestamp) — the corpus itself
   * contributes NO streaming state.
   */
  def continuousKnn(queries: DataFrame, corpus: DataFrame,
      idCol: String, embCol: String, k: Int): DataFrame = {
    val scored = queries
      .join(corpus.select(col(idCol).as("_n_id"), col(embCol).as("_n_emb")))
      .select(col("q_id"),
        cosineSim(col("q_emb"), col("_n_emb")).as("cos"), col("_n_id"))
    scored.groupBy(col("q_id"))
      .agg(TopKByScore(k)(col("cos"), col("_n_id")).as("hits"))
      .select(col("q_id"), posexplode(col("hits")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cos"))
  }

  /**
   * Standing kNN probing the persisted IVF index instead of scanning the
   * full corpus per micro-batch: each streamed query routes to its
   * `nProbe` nearest cells and the stream-static join is an EQUI-JOIN on
   * `cell`, so a micro-batch touches ~nProbe/nCentroids of the corpus —
   * at 100 TB, the difference between a standing query that re-reads
   * 100 TB per batch and one that reads the cells it probes (the
   * cell-partitioned index table prunes at scan time).
   *
   * Routing is a stateless per-row map with the few-KiB centroid table
   * in the task closure — NOT an aggregation, deliberately: a streaming
   * plan cannot chain a routing aggregation before the final top-k
   * aggregation (multiple stateful operators), and routing is a pure
   * function of the query row. Same cosine routing + tie-break (score
   * desc, cell asc) as the batch `IvfIndex.search`, whose recall >= 0.9
   * contract AnnRecallSpec pins; streamed-vs-batch parity is pinned by
   * VectorStreamsSpec. The SAME call works on a batch frame (unified
   * API).
   */
  /**
   * Continuous ingest that keeps a LIVE index fresh: every micro-batch of
   * `records` is appended to the index in `indexRef` via
   * [[IvfIndex.append]] — assignment against FROZEN centroids, so the
   * per-batch cost is one map-side encode of the batch, never a KMeans
   * fit — and [[indexedKnn]] probing `indexRef.get()` sees streamed
   * vectors as soon as their batch commits. This closes the freshness gap
   * between `MerkonStore.streamingUpsert` (exact search saw streamed rows
   * immediately) and the indexed path (which used to probe a frozen
   * snapshot until someone re-ran `openOrBuild`).
   *
   * The grown cell table is `localCheckpoint`ed once per batch so plan
   * lineage stays O(1) across an unbounded stream rather than stacking
   * one union + anti-join per micro-batch. At 100 TB the same hook runs
   * against the persisted index (append + publish via [[graft.ml.IndexCache]])
   * on a batch-count or size cadence instead of per-batch.
   */
  def indexedIngest(records: DataFrame, ivf: IvfIndex,
      indexRef: AtomicReference[IvfIndex.Built],
      idCol: String, embCol: String,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = records.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          indexRef.updateAndGet { b =>
            val grown = ivf.append(b, batch, idCol, embCol)
            grown.copy(assigned = grown.assigned.localCheckpoint())
          }
          ()
        }
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }

  /**
   * CDC-shaped continuous ingest: a micro-batch may carry BOTH upserts
   * and deletes — the streaming composition of the reference's
   * `UpsertAsync`/`RemoveAsync` pair against the live index, closing the
   * delete half of the freshness gap [[indexedIngest]] closed for
   * upserts. Rows whose `opCol` value is `d`/`delete` (case-insensitive)
   * tombstone their id via [[IvfIndex.delete]] (O(|batch|) bookkeeping,
   * no re-encode); every other row appends via [[IvfIndex.append]]
   * against FROZEN centroids (which also takes a re-added id back off
   * the tombstone list). Upserts apply before deletes, so WITHIN one
   * micro-batch a key carrying both ops resolves delete-wins — the
   * conservative reading of unordered CDC rows; a feed with per-row
   * ordering should reduce to one op per key upstream (the
   * `store_snapshot_diff` / CDC-merge shape). A standing [[indexedKnn]]
   * on the same `indexRef` stops serving a deleted id at batch commit —
   * with full-k backfill, because the tombstones filter the probe's
   * candidate set ([[IvfIndex.Built.live]]), never the emitted result —
   * and serves a re-added one again. Both the cell table AND the
   * tombstone sidecar are `localCheckpoint`ed per batch so plan lineage
   * stays O(1) across an unbounded stream; at 100 TB the same hook
   * tombstones the persisted artifact (the [[graft.ml.IvfIndex.delete]]
   * sidecar + cadence [[graft.ml.IvfIndex.compactOnDisk]] documented in
   * SCALE.md) instead of an in-memory ref.
   */
  def indexedCdcIngest(records: DataFrame, ivf: IvfIndex,
      indexRef: AtomicReference[IvfIndex.Built],
      opCol: String, idCol: String, embCol: String,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = records.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // one materialization feeds both splits (two lazy filters
          // would each re-run the batch's source)
          val b = batch.localCheckpoint()
          // null-safe: a row with a NULL/unset op is an UPSERT (the
          // "every other row appends" contract) — a raw !isin would be
          // NULL and silently drop the row from BOTH splits
          val isDelete =
            coalesce(lower(col(opCol)).isin("d", "delete"), lit(false))
          val ups = b.filter(!isDelete).select(col(idCol), col(embCol))
          val dels = b.filter(isDelete).select(col(idCol))
          val hasUps = !ups.isEmpty
          val hasDels = !dels.isEmpty
          indexRef.updateAndGet { cur =>
            val upserted =
              if (!hasUps) cur else ivf.append(cur, ups, idCol, embCol)
            val next =
              if (!hasDels) upserted else ivf.delete(upserted, dels, idCol)
            // checkpoint only what this batch actually extended: a
            // delete-only batch leaves the corpus-sized cell table
            // untouched and must stay O(|batch|) — re-materializing
            // `assigned` there would scan the whole index per batch
            next.copy(
              assigned =
                if (hasUps) next.assigned.localCheckpoint() else next.assigned,
              tombstones =
                if (hasUps || hasDels) next.tombstones.map(_.localCheckpoint())
                else next.tombstones)
          }
          ()
        }
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }

  /** Stateless centroid routing shared by [[indexedKnn]] and
    * [[semanticScreen]]: each query row fans out to its `nProbe` cells
    * under [[IvfIndex.route]] via a per-row map with the few-KiB
    * centroid table in the task closure. Zero-norm queries have no
    * cosine direction and are dropped. */
  private def route(queries: DataFrame, built: IvfIndex.Built,
      nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cellsOf = IvfIndex.route(IvfIndex.centresOf(built.centroids), nProbe)
    queries.select(col("q_id"), col("q_emb")).as[QueryVec]
      .flatMap(q => cellsOf(q.q_emb.toArray).iterator
        .map(cell => RoutedQuery(q.q_id, q.q_emb, cell)))
      .toDF()
  }

  def indexedKnn(queries: DataFrame, built: IvfIndex.Built,
      nProbe: Int, k: Int): DataFrame =
    indexedKnnCore(queries, built, nProbe, k, built.live)

  /**
   * The streaming form of [[IvfIndex.searchFiltered]]: standing kNN over
   * a metadata slice, with the same PRE-filter contract — the allow-list
   * (id projection of any metadata predicate, a STATIC frame) semi-joins
   * the live cell table before any scoring, so every emitted neighbor
   * satisfies the predicate by construction and a selective predicate
   * can never silently starve a query below k while allowed candidates
   * exist in the probed cells. Batch↔stream parity and the predicate
   * invariant are pinned by VectorStreamsSpec; over-probe for selective
   * predicates exactly as in the batch path. The filtered candidate side
   * is static-static (allow-list × cell table), so the stream-static
   * equi-join on `cell` is unchanged from [[indexedKnn]].
   */
  def indexedKnnFiltered(queries: DataFrame, built: IvfIndex.Built,
      nProbe: Int, k: Int, allowed: DataFrame): DataFrame = {
    val allow = allowed.toDF("id").select(col("id"))
    indexedKnnCore(queries, built, nProbe, k,
      built.live.join(allow, Seq("id"), "left_semi"))
  }

  /** The candidate half of [[indexedKnnCore]] WITHOUT the top-k — what
    * [[graft.plans.AnnIndexRule]]'s batch-kNN rewrite splices UNDER a
    * matched naive plan's own TopKByScore aggregate: one row per
    * (query, probed-cell candidate) carrying both embeddings, so the
    * plan's original score expression re-computes exactly over the
    * narrowed set (the candidate swap is the whole difference). */
  private[graft] def candidateRows(queries: DataFrame, built: IvfIndex.Built,
      nProbe: Int): DataFrame =
    route(queries, built, nProbe)
      .join(built.live, Seq("cell"))
      .select(col("q_id"), col("q_emb"), col("id"), col("emb"))

  private def indexedKnnCore(queries: DataFrame, built: IvfIndex.Built,
      nProbe: Int, k: Int, candidates: DataFrame): DataFrame = {
    val scored = route(queries, built, nProbe)
      .join(candidates, Seq("cell"))
      .select(col("q_id"), col("id").as("_n_id"),
        cosineSim(col("q_emb"), col("emb")).as("cos"))
    scored.groupBy(col("q_id"))
      .agg(TopKByScore(k)(col("cos"), col("_n_id")).as("hits"))
      .select(col("q_id"), posexplode(col("hits")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cos"))
  }

  /**
   * Streaming semantic-dedup screen: every vector arriving on `incoming`
   * is admitted iff the standing corpus holds NO vector within `tau`
   * cosine — the ingest-time form of the batch `dedup_semantic` prune
   * (screen new data against what you already have, instead of
   * deduplicating a finished corpus). The check probes the persisted IVF
   * index, so a micro-batch touches ~nProbe/nCentroids of the corpus —
   * never a full rescan per batch — and pairing it with [[indexedIngest]]
   * on the same `indexRef` makes the screen self-maintaining: admitted
   * batches append to the index and screen the NEXT batch.
   *
   * Emits one verdict row per incoming vector: (id, nearest_id,
   * nearest_cos, admit). The nearest neighbor is computed over the probed
   * cells (the `IvfIndex` recall contract applies: a near-dup hiding in
   * an unprobed cell can slip through — the AnnRecallSpec >= 0.9 bound is
   * the false-admit ceiling, and raising nProbe buys it down). Cells are
   * joined stream-static LEFT so a vector probing only empty cells still
   * gets its verdict (admit, no neighbor) instead of vanishing; zero-norm
   * vectors are dropped by routing (no cosine direction — route them to a
   * quarantine stream upstream if they must be accounted). The SAME call
   * works on a batch frame (unified API; parity pinned by
   * VectorStreamsSpec).
   */
  def semanticScreen(incoming: DataFrame, built: IvfIndex.Built,
      nProbe: Int, tau: Double): DataFrame = {
    val scored = route(incoming, built, nProbe)
      .join(built.live, Seq("cell"), "left")
      .select(col("q_id"),
        when(col("id").isNotNull, cosineSim(col("q_emb"), col("emb")))
          .otherwise(lit(Double.MinValue)).as("cos"),
        coalesce(col("id"), lit(Long.MinValue)).as("_n_id"))
    scored.groupBy(col("q_id"))
      .agg(TopKByScore(1)(col("cos"), col("_n_id")).as("best"))
      .select(col("q_id").as("id"),
        when(element_at(col("best.id"), 1) =!= Long.MinValue,
          element_at(col("best.id"), 1)).as("nearest_id"),
        when(element_at(col("best.id"), 1) =!= Long.MinValue,
          element_at(col("best.score"), 1)).as("nearest_cos"),
        (element_at(col("best.score"), 1) < tau).as("admit"))
  }
}
