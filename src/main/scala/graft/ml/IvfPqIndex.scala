package graft.ml

import graft.functions.VectorFunctions.cosineSim
import graft.functions.TopKByScore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * IVF-PQ composite index — the standard large-scale ANN composition
 * (an IVF coarse quantizer over a PQ-compressed corpus): the coarse
 * quantizer prunes WHICH rows are scanned (nProbe/nCentroids of the
 * corpus), PQ compresses WHAT is scanned (m bytes/vector instead of 4D),
 * and the two savings multiply. At 100 TB of float32 embeddings with
 * nProbe/nCentroids = 1/4 and 32x code compression, a query's candidate
 * scan touches ~0.8 TB of codes instead of 100 TB of floats.
 *
 * Composition, not reimplementation: the cell table comes from
 * [[IvfIndex]]'s quantizer, the code table and ADC machinery from
 * [[PqIndex]], and the exact re-rank is the shared bucketed fetch
 * ([[PqIndex.rerankExact]]). Both quantizers train on ONE bounded sample
 * ([[Quantizer.train]]) and run ONLY in the index job
 * ([[IvfPqIndex.openOrBuild]]); search never fits anything.
 *
 * Search = route (broadcast centroid table, nProbe cells/query) →
 * equi-join on cell over the cell-partitioned code table → ADC lookup
 * scoring → bounded partial-agg shortlist → exact re-rank. Determinism:
 * fixed seeds, strict argmin tie-breaks, TopKByScore id tie-break.
 * Recall ≥ 0.9 vs brute force pinned by AnnRecallSpec and visible via
 * ann_recall_audit.
 */
class IvfPqIndex(val nCentroids: Int = 8, val nProbe: Int = 5,
    val m: Int = 8, val kCentroids: Int = 16, val seed: Long = 42L) {

  private[ml] val ivf = new IvfIndex(nCentroids, nProbe, seed)
  private[ml] val pq = new PqIndex(m, kCentroids, seed)

  /** Cache key of the build-time params (nProbe is search-time only).
    * v3: both quantizers trained by [[Quantizer]], the coarse one
    * spherical (see [[IvfIndex.fingerprint]]). */
  private[ml] def fingerprint: String =
    s"ivfpq-c$nCentroids-m$m-k$kCentroids-s$seed-v3"

  def build(spark: SparkSession, corpus: DataFrame,
      idCol: String, embCol: String): IvfPqIndex.Built = {
    val prepared = Quantizer.prepare(corpus, idCol, embCol)
    // ONE training sample for both quantizers: the coarse fit reads the
    // same rows (a prefix of the sample) with the same seed as
    // `ivf.build`, so the cells equal the IVF artifact's cells
    val centres +: codebooks = Quantizer.train(prepared, "an IVF-PQ index",
      ivf.coarseFit +: pq.subspaceFits)
    val cb = pq.fullWidth(codebooks)
    // one map-side pass encodes AND assigns; it feeds both tables
    val coded = prepared.select(col("id"), col("emb"),
      PqIndex.codesOf(cb)(col("unit")).as("codes"),
      Quantizer.cellOf(centres)(col("unit")).as("cell")).localCheckpoint()
    // code table keyed by cell: the per-query candidate join prunes on
    // cell AND streams only codes — partitioned by cell like IvfIndex
    IvfPqIndex.Built(
      coded.select(col("id"), col("codes"), col("cell")).repartition(col("cell")),
      PqIndex.withBucket(coded.select(col("id"), col("emb"))),
      IvfIndex.centroidTable(spark, centres), pq.codebookTable(spark, cb))
  }

  /** The frozen-quantizer delta encode shared by the in-memory
    * [[append]] and the on-disk [[IvfPqIndex.appendOnDisk]]: ONE
    * map-side pass over `prepared` ((id, emb, unit) rows) that encodes
    * against the codebook table and assigns the cell with the build's
    * [[Quantizer.cellOf]] over the centroid table — the rule
    * [[IvfIndex.assignDelta]] applies, so a sibling IVF artifact's
    * appended rows land in the same cells. */
  private[ml] def encodeDelta(prepared: DataFrame, codebooks: DataFrame,
      centroids: DataFrame): DataFrame =
    prepared.select(col("id"), col("emb"),
      PqIndex.codesOf(pq.codebookArray(codebooks))(col("unit")).as("codes"),
      Quantizer.cellOf(IvfIndex.centresOf(centroids))(col("unit")).as("cell"))

  /** Incremental ingest: assign delta rows to their nearest FROZEN cell
    * centroid and encode them against the FROZEN codebooks — neither
    * quantizer re-trains (same contract as [[IvfIndex.append]] /
    * [[PqIndex.append]]). LWW on id collisions in both tables. */
  def append(built: IvfPqIndex.Built, delta: DataFrame,
      idCol: String, embCol: String): IvfPqIndex.Built = {
    val prepared = IvfIndex.dedupDeltaIds(Quantizer.prepare(delta, idCol, embCol))
    val codedDelta = encodeDelta(prepared, built.codebooks, built.centroids)
      .localCheckpoint()
    val deltaIds = codedDelta.select("id")
    IvfPqIndex.Built(
      built.codedCell.join(deltaIds, Seq("id"), "left_anti")
        .unionByName(codedDelta.select(col("id"), col("codes"), col("cell")))
        .repartition(col("cell")),
      built.embById.join(deltaIds, Seq("id"), "left_anti")
        .unionByName(PqIndex.withBucket(
          codedDelta.select(col("id"), col("emb")))),
      built.centroids, built.codebooks,
      IndexCache.revive(built.tombstones, deltaIds))
  }

  /** Delete by id via the tombstone sidecar — same contract as
    * [[IvfIndex.delete]] / [[PqIndex.delete]]: O(|batch|), no fit. */
  def delete(built: IvfPqIndex.Built, ids: DataFrame,
      idCol: String): IvfPqIndex.Built = {
    IvfPqIndex.Built(built.codedCell, built.embById, built.centroids,
      built.codebooks, Some(IndexCache.withTombstones(built.tombstones,
        ids.select(col(idCol).as("id")))))
  }

  /** Top-k corpus neighbors by exact cosine: nProbe cells per query, ADC
    * shortlist within the probed cells, exact re-rank of the shortlist. */
  def search(built: IvfPqIndex.Built, queries: DataFrame, idCol: String,
      embCol: String, k: Int, shortlist: Int = 0): DataFrame =
    searchCore(built, queries, idCol, embCol, k, shortlist,
      built.liveCodedCell)

  /** Filtered ANN over the composite index ([[IvfIndex.searchFiltered]]
    * semantics): the allow-list semi-joins the cell-keyed code table, so
    * the probed-cell ADC scan — already pruned to nProbe cells — is
    * further thinned to allowed ids before any scoring, and every result
    * satisfies the predicate by construction. Over-probe for selective
    * predicates, as in every pre-filter path. */
  def searchFiltered(built: IvfPqIndex.Built, queries: DataFrame,
      idCol: String, embCol: String, k: Int, allowed: DataFrame,
      shortlist: Int = 0): DataFrame = {
    val allow = allowed.toDF("id").select(col("id"))
    searchCore(built, queries, idCol, embCol, k, shortlist,
      built.liveCodedCell.join(allow, Seq("id"), "left_semi"))
  }

  private def searchCore(built: IvfPqIndex.Built, queries: DataFrame,
      idCol: String, embCol: String, k: Int, shortlist0: Int,
      candidates: DataFrame): DataFrame = {
    // shortlist <= 0 -> fidelity-sized default (IvfGeometry.shortlistFor,
    // same rule as PqIndex.searchCore); an explicit caller value wins
    val shortlist =
      if (shortlist0 > 0) shortlist0
      else IvfGeometry.shortlistFor(kCentroids, k)
    val q = pq.adcQueries(built.codebooks, queries, idCol, embCol)
    // route: query × broadcast(centroids) -> nProbe nearest cells per
    // query (cosine routing, scale-invariant in the raw query embedding)
    val routed = q.crossJoin(broadcast(built.centroids))
      .select(col("q_id"), col("q_emb"), col("tab"), col("cell"),
        cosineSim(col("q_emb"), col("centroid")).as("cell_score"))
      .groupBy(col("q_id"), col("q_emb"), col("tab"))
      .agg(TopKByScore(nProbe)(col("cell_score"), col("cell").cast("long"))
        .as("cells"))
      .select(col("q_id"), col("q_emb"), col("tab"),
        explode(col("cells.id")).as("cellL"))
      .select(col("q_id"), col("q_emb"), col("tab"),
        col("cellL").cast("int").as("cell"))
    // candidates: equi-join on cell over the code table — reads only the
    // probed cells' codes; ADC scores them with m lookups per candidate
    val short = routed.join(candidates, "cell")
      .select(col("q_id"), col("q_emb"), col("id"),
        (-pq.adcExpr).as("neg_dist"))
      .groupBy(col("q_id"), col("q_emb"))
      .agg(TopKByScore(shortlist)(col("neg_dist"), col("id")).as("cand"))
      .select(col("q_id"), col("q_emb"), explode(col("cand.id")).as("id"))
    PqIndex.rerankExact(built.embById, short, k)
  }
}

object IvfPqIndex {

  /** Cell-partitioned `codedCell` (the key table), bucket-partitioned
    * `embById`, the centroid and codebook tables, and — for a
    * surrogate-keyed artifact only — the bucket-partitioned `idMap`. */
  private[graft] val Layout = IndexCache.Layout("codedCell",
    Seq("embById", "centroids", "codebooks", "idMap"))

  /** A built composite index: cell-keyed code table, id-bucketed
    * embedding fetch table, centroid routing table, PQ codebooks, and
    * an optional id-tombstone sidecar filtered out of the probed-cell
    * ADC scan by [[liveCodedCell]]. */
  case class Built(codedCell: DataFrame, embById: DataFrame,
      centroids: DataFrame, codebooks: DataFrame,
      tombstones: Option[DataFrame] = None) {
    def liveCodedCell: DataFrame = IndexCache.live(codedCell, tombstones)
  }

  /** Persist: codes partitioned by cell (probe prunes to cell dirs),
    * embeddings partitioned by id bucket (re-rank prunes to its
    * buckets), tiny routing/codebook tables coalesced. */
  def save(built: Built, path: String): Unit = {
    built.codedCell.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/codedCell")
    built.embById.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/embById")
    built.centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/centroids")
    built.codebooks.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/codebooks")
    IndexCache.writeTombstones(built.tombstones, path)
  }

  def load(spark: SparkSession, path: String): Built =
    Built(
      spark.read.parquet(s"$path/codedCell")
        .select(col("id"), col("codes"), col("cell").cast("int").as("cell")),
      spark.read.parquet(s"$path/embById")
        .select(col("bucket").cast("int").as("bucket"), col("id"), col("emb")),
      IvfIndex.readCentroids(spark, path),
      spark.read.parquet(s"$path/codebooks"),
      IndexCache.readTombstones(spark, path))

  /**
   * Per-cell/per-bucket on-disk compaction of a PUBLISHED composite
   * index — the codes-table analog of [[IvfIndex.compactOnDisk]], same
   * discipline: rewrite ONLY the `codedCell` cell directories and
   * `embById`/`idMap` bucket directories that contain tombstoned rows
   * (dynamic partition overwrite — untouched dirs keep their files
   * byte-for-byte, fully-dead dirs are removed), then drop the sidecar.
   * Neither quantizer re-runs: deletes never move a surviving row's cell
   * or codes. A delete wave hitting 3 of 1024 cells rewrites 3 cell dirs
   * plus the dead ids' fetch buckets, not the corpus. No-op below
   * `minDeadFraction` of reclaimable rows ([[IndexCache.compactOnDisk]]).
   *
   * The sidecar's ids are in the ARTIFACT's own key domain — xxhash64
   * surrogates for an [[openOrBuildPathAnyId]] artifact (whose published
   * `idMap` is compacted here too, so a dead key's surrogate mapping
   * does not outlive its codes).
   */
  def compactOnDisk(spark: SparkSession, path: String,
      minDeadFraction: Double = 0.0): Unit = {
    val built = load(spark, path)
    IndexCache.compactOnDisk(spark, path, built.codedCell, built.tombstones,
        minDeadFraction) { dead =>
      val affectedCells = built.codedCell.join(dead, Seq("id"), "left_semi")
        .select("cell").distinct().collect().map(_.get(0))
      IvfIndex.compactPartitions(spark, s"$path/codedCell", "cell",
        affectedCells,
        built.liveCodedCell.filter(col("cell").isin(affectedCells.toIndexedSeq: _*)))
      val affectedBuckets =
        PqIndex.compactEmbBuckets(spark, s"$path/embById", built.embById, dead)
      IndexCache.loadOptional(spark, s"$path/idMap").foreach { idMap =>
        IvfIndex.compactPartitions(spark, s"$path/idMap", "bucket",
          affectedBuckets,
          idMap.select(col("bucket").cast("int").as("bucket"), col("sid"),
              col("id"))
            .filter(col("bucket").isin(affectedBuckets: _*))
            .join(dead.select(col("id").as("sid")), Seq("sid"), "left_anti"))
      }
    }
  }

  /** Index lifecycle: load the prebuilt index for `sourcePath`, else
    * build + publish once; a grown source takes the append path (frozen
    * quantizers, no fit) — same [[IndexCache]] discipline as IVF/PQ. */
  def openOrBuild(
      spark: SparkSession,
      ivfpq: IvfPqIndex,
      sourcePath: String,
      idCol: String,
      embCol: String,
      cacheRoot: String = IndexCache.DefaultIvfPqRoot): Built =
    load(spark, openOrBuildPath(spark, ivfpq, sourcePath, idCol, embCol,
      cacheRoot))

  /** [[openOrBuild]] returning the PUBLISHED index directory — what
    * [[graft.plans.AnnIndexRegistry]] records so the family-picking
    * rewrite can serve the codes-table scan from it. */
  def openOrBuildPath(
      spark: SparkSession,
      ivfpq: IvfPqIndex,
      sourcePath: String,
      idCol: String,
      embCol: String,
      cacheRoot: String = IndexCache.DefaultIvfPqRoot): String =
    IndexCache.openOrGrow(spark, sourcePath, ivfpq.fingerprint, cacheRoot,
      Layout) { staging =>
      save(ivfpq.build(spark, spark.read.parquet(sourcePath), idCol, embCol),
        staging)
    }((published, delta, staging) =>
        appendOnDisk(spark, ivfpq, published, delta, idCol, embCol, staging,
          idMapDelta = None),
      (published, delta, staging) =>
        save(ivfpq.append(load(spark, published), delta, idCol, embCol),
          staging))

  /** The composite-index O(delta) refresh ([[IndexCache.linkAppend]]):
    * hardlink every published table (codedCell cell dirs, embById/idMap
    * buckets, centroid + codebook tables, sidecar) into `staging` and
    * append ONLY the delta's encoded rows — both quantizers frozen AND
    * no corpus-sized rewrite of any table. A surrogate-keyed artifact
    * also needs the delta's keys disjoint from its `idMap`;
    * `idMapDelta` is that path's (bucket, sid, id) rows for the delta,
    * None for long-keyed corpora. */
  private[graft] def appendOnDisk(spark: SparkSession, ivfpq: IvfPqIndex,
      published: String, delta: DataFrame, idCol: String, embCol: String,
      staging: String, idMapDelta: Option[DataFrame]): Boolean = {
    val prepared = IvfIndex.dedupDeltaIds(
      Quantizer.prepare(delta, idCol, embCol)).localCheckpoint()
    val deltaIds = prepared.select("id")
    val idMap = IndexCache.loadOptional(spark, s"$published/idMap")
    // probe with ALL delta sids, not just the positive-norm ones
    // `prepared` keeps: the idMap records every key (zero-norm rows
    // included, matching the build), so a zero-norm re-upsert of an
    // existing key would otherwise slip past and append a duplicate
    // (bucket, sid, id) row — one id in two top-k slots after the
    // restore join
    if (idMap.exists(m => IndexCache.overlaps(m.select(col("sid").as("id")),
        idMapDelta.fold(deltaIds)(_.select(col("sid").as("id"))))))
      return false
    IndexCache.linkAppend(spark, published, staging, Layout, deltaIds) { st =>
      if (!prepared.isEmpty) {
        val codedDelta = ivfpq.encodeDelta(prepared,
          spark.read.parquet(s"$published/codebooks"),
          IvfIndex.readCentroids(spark, published)).localCheckpoint()
        codedDelta.select(col("id"), col("codes"), col("cell"))
          .write.mode("append").partitionBy("cell")
          .parquet(s"$st/codedCell")
        PqIndex.withBucket(codedDelta.select(col("id"), col("emb")))
          .write.mode("append").partitionBy("bucket")
          .parquet(s"$st/embById")
      }
      idMapDelta.filter(_ => idMap.isDefined).foreach(
        _.write.mode("append").partitionBy("bucket").parquet(s"$st/idMap"))
    }
  }

  /**
   * [[openOrBuildPath]] for a corpus whose id column need not be LONG —
   * the reference's store keys collections by STRING
   * (MerkonDatabase.cs:46-58), and a string-keyed corpus must be able to
   * ride the codes-table family at scale too. The index internals stay
   * long-keyed (the bounded shortlist aggregator and the id-bucketed
   * fetch table both want a fixed-width key): a non-long id is replaced
   * by its deterministic xxhash64 SURROGATE in every index table, and an
   * `idMap` table (bucket, sid, id) — bucketed exactly like the fetch
   * table, so the restore join prunes to the shortlist's buckets — is
   * published alongside to restore the original ids after the shortlist
   * fetch. A 64-bit surrogate collision (~n²/2⁶⁵) merely lets one extra
   * row into the exact re-rank above; it can never drop a candidate the
   * shortlist kept.
   */
  def openOrBuildPathAnyId(
      spark: SparkSession,
      ivfpq: IvfPqIndex,
      sourcePath: String,
      idCol: String,
      embCol: String,
      cacheRoot: String = IndexCache.DefaultIvfPqRoot): String = {
    import org.apache.spark.sql.types.LongType
    if (spark.read.parquet(sourcePath).schema(idCol).dataType == LongType)
      return openOrBuildPath(spark, ivfpq, sourcePath, idCol, embCol, cacheRoot)
    def surrogate(df: DataFrame): DataFrame =
      df.select(xxhash64(col(idCol)).as("sid"), col(embCol))
    // distinct: a delta carrying the same key twice (one ingest batch
    // upserting a doc twice) must contribute ONE (bucket, sid, id) row —
    // a duplicate would make the shortlist restore join emit one
    // neighbor twice, the exact failure dedupDeltaIds prevents for the
    // code tables (ADVICE r15). Rows for one key are fully identical
    // (sid/bucket are functions of the id), so distinct is exact.
    def idMapOf(df: DataFrame): DataFrame =
      df.select(
        pmod(xxhash64(col(idCol)), lit(PqIndex.EmbBuckets)).cast("int")
          .as("bucket"),
        xxhash64(col(idCol)).as("sid"), col(idCol).as("id"))
        .distinct()
    // "-sid" keeps a surrogate-keyed artifact from ever colliding with a
    // long-keyed one in the shared cache root
    IndexCache.openOrGrow(spark, sourcePath, ivfpq.fingerprint + "-sid",
      cacheRoot, Layout) { staging =>
      val corpus = spark.read.parquet(sourcePath)
      save(ivfpq.build(spark, surrogate(corpus), "sid", embCol), staging)
      idMapOf(corpus).write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$staging/idMap")
    }((published, delta, staging) =>
        appendOnDisk(spark, ivfpq, published, surrogate(delta), "sid",
          embCol, staging, idMapDelta = Some(idMapOf(delta))),
      (published, delta, staging) => {
        save(ivfpq.append(load(spark, published), surrogate(delta),
          "sid", embCol), staging)
        // LWW on re-upserted ids within the map, same as the index tables
        val deltaMap = idMapOf(delta)
        spark.read.parquet(s"$published/idMap")
          .join(deltaMap.select("sid"), Seq("sid"), "left_anti")
          .unionByName(deltaMap)
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$staging/idMap")
      })
  }
}
