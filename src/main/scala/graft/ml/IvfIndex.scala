package graft.ml

import graft.functions.VectorFunctions.cosineSim
import graft.functions.{TopKByScore, TopKHeap, VectorKernels}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, StructField, StructType}

/**
 * IVF (inverted-file) approximate nearest-neighbor search: a k-means
 * coarse quantizer partitions the corpus into `nCentroids` cells; a query
 * probes only its `nProbe` nearest cells and scores candidates exactly.
 *
 * Scale shape (the IVF contract at 100 TB):
 *  - index build = one spherical k-means fit over a bounded training
 *    sample of at most 256 rows per cell, collected in one job and fitted
 *    on the driver ([[Quantizer]]; MLlib KMeans on the same sample above
 *    the driver budget), + one map-side cell assignment; the assigned
 *    corpus is then *partitioned by cell* — the expensive part happens
 *    once, not per query;
 *  - search = tiny centroid table (nCentroids × dim floats) broadcast to
 *    route each query to nProbe cells, then an equi-join on cell id pulls
 *    only ~nProbe/nCentroids of the corpus per query, scored exactly with
 *    the codegen'd cosine kernel and reduced by the bounded partial-agg
 *    top-k. Nothing ever materializes the all-pairs space.
 *
 * Determinism: a content-keyed sample and a fixed seed -> the same cells
 * under any partitioning or row order -> stable results.
 * Recall vs exact brute force is pinned in IvfIndexSpec.
 */
class IvfIndex(val nCentroids: Int = 16, val nProbe: Int = 4, val seed: Long = 42L) {
  require(nProbe <= nCentroids)

  /** Cache key of the build-time params (nProbe is search-time only).
    * `u`: unit-length centroids of a coarse [[Quantizer.Fit]]. Artifacts
    * of the earlier MLlib fit (keyed `k$nCentroids`) have other cells and
    * must not pair with an IVF-PQ sibling trained by this one. The key
    * keeps its length: plan strings truncate artifact paths. */
  private[ml] def fingerprint: String = s"u$nCentroids-s$seed"

  /** The coarse quantizer's fit — shared with [[IvfPqIndex]], whose cells
    * must be these cells. */
  private[ml] def coarseFit: Quantizer.Fit =
    Quantizer.Fit(nCentroids, seed, coarse = true)

  def build(spark: SparkSession, corpus: DataFrame, idCol: String, embCol: String): IvfIndex.Built = {
    val prepared = Quantizer.prepare(corpus, idCol, embCol)
    // an all-zero-norm corpus fails here, in the sample job
    val Seq(centres) = Quantizer.train(prepared, "an IVF index", Seq(coarseFit))
    val assigned = prepared
      .select(col("id"), col("emb"), Quantizer.cellOf(centres)(col("unit")).as("cell"))
      // the 100 TB analog: write the corpus partitioned/bucketed by cell so
      // the per-query candidate join is co-located
      .repartition(col("cell"))
    IvfIndex.Built(assigned, IvfIndex.centroidTable(spark, centres))
  }

  /**
   * Incremental ingest: assign `delta` vectors to their nearest FROZEN
   * centroid and extend the cell table — NO k-means re-fit (the 100 TB
   * steady state is upsert-heavy, and re-clustering per ingest batch is
   * the scale-killer; codebooks only need periodic re-training, which is
   * a full [[build]]). Assignment is the build's [[Quantizer.cellOf]]
   * over the persisted centroid table (float32 centres, so a near-tie at
   * ~1e-7 may assign differently than the double-precision fit would —
   * recall is unaffected, search probes nProbe cells).
   */
  def append(built: IvfIndex.Built, delta: DataFrame,
      idCol: String, embCol: String): IvfIndex.Built = {
    val assignedDelta = IvfIndex.assignDelta(IvfIndex.centresOf(built.centroids),
      delta, idCol, embCol)
    // LWW on id collisions: a delta row REPLACES an existing row with the
    // same id (anti-join the old side) — a blind union would leave the
    // stale vector in the index and let one id occupy two top-k slots.
    // A re-added id also comes OFF the tombstone list: delete-then-upsert
    // must leave the vector live (the store's LWW order).
    IvfIndex.Built(
      built.assigned.join(assignedDelta.select("id"), Seq("id"), "left_anti")
        .unionByName(assignedDelta).repartition(col("cell")),
      built.centroids,
      IndexCache.revive(built.tombstones, assignedDelta.select("id")))
  }

  /**
   * Delete by id WITHOUT touching the corpus-sized cell table: the ids
   * land on a tombstone sidecar that [[search]] anti-joins at probe time.
   * At 100 TB a delete-heavy store cannot afford a cell-table rewrite
   * (let alone a re-fit) per RemoveAsync batch — tombstones make a delete
   * O(|batch|), and [[IvfIndex.compacted]] / [[IvfIndex.compactOnDisk]]
   * fold them into the cell table once the dead fraction crosses a
   * threshold, still with no k-means anywhere (cell assignment of live
   * rows is unchanged by deletes).
   */
  def delete(built: IvfIndex.Built, ids: DataFrame, idCol: String): IvfIndex.Built = {
    IvfIndex.Built(built.assigned, built.centroids, Some(
      IndexCache.withTombstones(built.tombstones, ids.select(col(idCol).as("id")))))
  }

  /** Top-k corpus neighbors by exact cosine for every query row, probing
    * nProbe cells per query. */
  def search(built: IvfIndex.Built, queries: DataFrame, idCol: String, embCol: String, k: Int): DataFrame =
    searchCore(built, queries, idCol, embCol, k, identity)

  /**
   * Filtered ANN ([[search]] restricted to an id allow-list): the
   * PRE-FILTER strategy — the predicate cuts the candidate set BEFORE any
   * scoring, so top-k is computed over allowed rows only and a selective
   * predicate can never silently shrink the result below k while
   * unfiltered neighbors exist in the probed cells. `allowed` is the id
   * projection of any metadata predicate (one column, the corpus id).
   *
   * Scale shape: the allow-list joins the CELL-PRUNED candidate side
   * (nProbe/nCentroids of the corpus), not the full index, via a semi-join
   * on the id — one hash shuffle of two id-sized sides. At 100 TB with a
   * hot predicate column the next step is carrying that column IN the
   * cell table so the filter becomes a pushed parquet predicate on the
   * probed cells; the semi-join form is the general-predicate fallback
   * that needs no index rebuild. Recall under filtering follows the probe
   * fraction exactly as unfiltered search does — callers compensate for
   * selective predicates by over-probing (a higher-nProbe IvfIndex), the
   * published filtered-ANN practice.
   */
  def searchFiltered(built: IvfIndex.Built, queries: DataFrame, idCol: String,
      embCol: String, k: Int, allowed: DataFrame): DataFrame = {
    val allow = allowed.toDF("id").select(col("id"))
    searchCore(built, queries, idCol, embCol, k,
      live => live.join(allow, Seq("id"), "left_semi"))
  }

  private def searchCore(built: IvfIndex.Built, queries: DataFrame,
      idCol: String, embCol: String, k: Int,
      candidateFilter: DataFrame => DataFrame): DataFrame = {
    val q = Quantizer.prepare(queries, idCol, embCol)
      .select(col("id").as("q_id"), col("emb").as("q_emb"))
    // route: query × broadcast(centroids) -> nProbe nearest cells per query
    val routed = q.crossJoin(broadcast(built.centroids))
      .select(col("q_id"), col("q_emb"), col("cell"),
        cosineSim(col("q_emb"), col("centroid")).as("cell_score"))
      .groupBy(col("q_id"), col("q_emb"))
      .agg(TopKByScore(nProbe)(col("cell_score"), col("cell").cast("long")).as("cells"))
      .select(col("q_id"), col("q_emb"), explode(col("cells.id")).as("cell"))
    // candidates: equi-join on cell, exact scoring, bounded top-k
    // (tombstoned ids filtered out of the candidate side first)
    val live = candidateFilter(built.live)
    routed.join(live, routed("cell") === live("cell"))
      .select(col("q_id"), col("id").as("n_id"),
        cosineSim(col("q_emb"), col("emb")).as("cos"))
      .groupBy(col("q_id"))
      .agg(TopKByScore(k)(col("cos"), col("n_id")).as("hits"))
      .select(col("q_id"), posexplode(col("hits")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cos"))
  }
}

object IvfIndex {

  /** Cell-partitioned `assigned` (the key table) + the centroid table. */
  private[graft] val Layout = IndexCache.Layout("assigned", Seq("centroids"))

  /** The (cell, centroid) routing table of fitted centres (float32). */
  private[ml] def centroidTable(spark: SparkSession,
      centres: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centres.toSeq.zipWithIndex.map { case (c, i) => (i, c.map(_.toFloat)) }
      .toDF("cell", "centroid")
  }

  /** The (cell, centroid) table's schema, as a read infers it. */
  private val CentroidSchema = StructType(Seq(
    StructField("cell", IntegerType),
    StructField("centroid", ArrayType(FloatType, containsNull = false))))

  /** An artifact's centroid table, read with its known schema: inferring
    * it costs a parquet footer job on every read. */
  private[graft] def readCentroids(spark: SparkSession,
      path: String): DataFrame =
    spark.read.schema(CentroidSchema).parquet(s"$path/centroids")

  /** The fitted centres of a (cell, centroid) table, indexed by cell —
    * the few-KiB table collected once into the driver array that
    * [[Quantizer.cellOf]] closes over. */
  private[graft] def centresOf(centroids: DataFrame): Array[Array[Double]] = {
    val byCell = centroids.select(col("cell"), col("centroid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    require(byCell.map(_._1).sameElements(byCell.indices),
      "a centroid table's cells must be 0 until its row count")
    byCell.map(_._2)
  }

  /** Driver-side cell routing over `centres` ([[centresOf]]), the SQL
    * route of [[search]] computed without a job: `cosine_similarity` of
    * the query against each centroid, then `TopKByScore(nProbe)`. Cells
    * come best first under (score desc, cell asc), scored by the shared
    * kernel, and a NaN score (a zero-norm query or centroid) never
    * routes. The centres are converted once; the returned function
    * routes one query and may ship in a task closure. */
  private[graft] def route(centres: Array[Array[Double]],
      nProbe: Int): Array[Float] => Array[Int] = {
    val cs: Array[ArrayData] =
      centres.map(c => UnsafeArrayData.fromPrimitiveArray(c.map(_.toFloat)))
    q => {
      val qa = UnsafeArrayData.fromPrimitiveArray(q)
      val h = new TopKHeap(nProbe)
      cs.indices.foreach(cell => h.insert(VectorKernels.cosine(qa, cs(cell)), cell))
      val (_, cells, m) = h.drainSortedDesc()
      cells.take(m).map(_.toInt)
    }
  }

  /** The fitted centres of the artifact at `path` ([[centresOf]] of its
    * centroid table), collected once per table rather than once per
    * caller: an insert refresh's append assigns against them and its
    * registration routes by them. Keyed by the table's part files — names
    * unique per write, which a link-append grow hardlinks — so a grown
    * artifact reuses its parent's collect and a rebuilt one never sees
    * another table's centres. The table of an artifact the driver cannot
    * list is collected on every call. */
  private[graft] def centres(spark: SparkSession,
      path: String): Array[Array[Double]] = {
    val files = IndexCache.dataFiles(s"$path/centroids")
      .map(f => s"${f.getName}:${f.length}")
    def collect() = centresOf(readCentroids(spark, path))
    if (files.isEmpty) collect()
    else CentresMemo.synchronized(Option(CentresMemo.get(files))).getOrElse {
      val cs = collect()
      CentresMemo.synchronized(CentresMemo.put(files, cs))
      cs
    }
  }

  /** The last few centre tables [[centres]] collected, least recently
    * used first out: a few KiB each, and a refresh reads only its
    * parent's. */
  private object CentresMemo
      extends java.util.LinkedHashMap[Seq[String], Array[Array[Double]]](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Seq[String], Array[Array[Double]]]): Boolean =
      size() > 16
  }

  /** The frozen-quantizer delta encode shared by the in-memory
    * [[IvfIndex.append]] and the on-disk [[appendOnDisk]]: dedup the
    * delta's ids, drop zero-norm rows, and assign each unit vector with
    * the build's own rule, [[Quantizer.cellOf]], against the FROZEN
    * centres — a map-side pass, no fit. */
  private[ml] def assignDelta(centres: Array[Array[Double]], delta: DataFrame,
      idCol: String, embCol: String): DataFrame =
    dedupDeltaIds(Quantizer.prepare(delta, idCol, embCol))
      .select(col("id"), col("emb"),
        Quantizer.cellOf(centres)(col("unit")).as("cell"))

  /** A delta carrying the same id twice (a document upserted twice in
    * one ingest batch) must contribute exactly ONE row, or the LWW
    * anti-join against the base still leaves two live rows for the id.
    * Winner = deterministic hash order over the embedding (which copy
    * wins is arbitrary but stable run-to-run). */
  private[ml] def dedupDeltaIds(delta: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(hash(col("emb")).desc)
    delta.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** A built index: the cell-assigned corpus + the centroid routing table
    * + an optional id-tombstone sidecar (rows deleted since the last
    * compaction — still physically present in `assigned`, filtered out of
    * every probe by [[live]]). Searchable whether just built or loaded
    * from disk — the fitted quantizer is build-time-only state and is
    * NOT part of the searchable index (routing uses the centroid table). */
  case class Built(assigned: DataFrame, centroids: DataFrame,
      tombstones: Option[DataFrame] = None) {
    /** Probe-visible rows: `assigned` minus tombstoned ids. */
    def live: DataFrame = IndexCache.live(assigned, tombstones)
  }

  /** Fold tombstones into the cell table (materialized via the caller's
    * next [[save]]) — no k-means, no re-encode: deletes never change the
    * cell assignment of surviving rows. */
  def compacted(built: Built): Built =
    built.tombstones.fold(built)(_ =>
      Built(built.live.repartition(col("cell")), built.centroids, None))

  /**
   * SemDeDup over the index's own cell structure — the production path of
   * the oracle-checked `dedup_semantic` query (which pins the identical
   * prune against deterministic seed clusters DuckDB can replicate): a
   * vector is kept iff NO earlier-by-id vector in its IVF cell is within
   * `tau` cosine. The index IS the clustering, so semantic dedup costs
   * one within-cell pair join + one distinct + one left-anti over a table
   * the pipeline already maintains — the k-means cells confine all
   * pairwise work, and cell count grows with the corpus, keeping the
   * per-cell fan-out bound constant at any scale. Tombstoned rows
   * neither dedup others nor survive (the prune sees [[Built.live]]).
   *
   * Returns one verdict row per live vector: (id, cell, kept).
   */
  def semanticDedup(built: Built, tau: Double): DataFrame = {
    val m = built.live
    val a = m.select(col("cell"), col("id").as("a_id"), col("emb").as("emb_a"))
    val b = m.select(col("cell"), col("id").as("b_id"), col("emb").as("emb_b"))
    val victims = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id") &&
        cosineSim(col("emb_a"), col("emb_b")) >= tau)
      .select(col("b_id").as("id")).distinct()
    m.select(col("id"), col("cell"))
      .join(victims.withColumn("removed", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(!col("removed"), lit(true)).as("kept"))
  }

  /** Persist a built index: the assigned corpus is written PARTITIONED BY
    * cell — the on-disk analog of a bucketed index table, so a search
    * probing nProbe cells prunes to those cell directories at scan time —
    * plus the tiny centroid routing table, the record of `assigned`'s
    * schema ([[assignedSchema]]) and, when deletes are pending, the
    * id-tombstone sidecar. */
  def save(built: Built, path: String): Unit = {
    built.assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assigned")
    built.centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/centroids")
    IndexCache.writeTombstones(built.tombstones, path)
    // a read reports every column nullable, whatever the frame's plan
    // proved (prepare's norm filter makes `emb` non-null)
    val data = StructType(built.assigned.schema.filterNot(_.name == "cell")
      .map(_.copy(nullable = true)))
    writeFile(built.assigned.sparkSession, s"$path/$AssignedSchemaRel",
      data.json)
  }

  /** The artifact file recording `assigned`'s data schema (`cell` aside,
    * which a read takes from the directory names). */
  private val AssignedSchemaRel = "assigned-schema.json"

  /** `assigned`'s data schema as the artifact recorded it when it was
    * built or grown — a link-append grow keeps its parent's — or None for
    * an artifact that recorded none. A registration reads it here where
    * inferring it would cost a parquet footer job. */
  private[graft] def assignedSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$AssignedSchemaRel")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(DataType.fromJson(json).asInstanceOf[StructType])
    }
  }

  private def writeFile(spark: SparkSession, path: String,
      text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** A published index, read with the schemas its [[assignedSchema]]
    * record gives (`assigned`'s, and its `id` field for the sidecar):
    * inferring them costs a parquet footer job per table. An artifact
    * without the record is inferred. */
  def load(spark: SparkSession, path: String): Built = {
    val schema = assignedSchema(spark, path)
    Built(schema.fold(spark.read)(spark.read.schema).parquet(s"$path/assigned"),
      readCentroids(spark, path),
      IndexCache.readTombstones(spark, path,
        schema.map(s => StructType(Seq(s("id"))))))
  }

  /**
   * Per-cell on-disk compaction of a PUBLISHED index: rewrite ONLY the
   * cell directories that contain tombstoned rows (dynamic partition
   * overwrite — untouched cells keep their files byte-for-byte), then
   * drop the sidecar. The 100 TB discipline: a delete wave that hits 3 of
   * 1024 cells rewrites 3 cell directories, not the corpus, and never
   * re-runs k-means. No-op below `minDeadFraction` of reclaimable rows
   * ([[IndexCache.compactOnDisk]]).
   */
  def compactOnDisk(spark: SparkSession, path: String,
      minDeadFraction: Double = 0.0): Unit = {
    val built = load(spark, path)
    IndexCache.compactOnDisk(spark, path, built.assigned, built.tombstones,
        minDeadFraction) { dead =>
      val affected = built.assigned.join(dead, Seq("id"), "left_semi")
        .select("cell").distinct().collect().map(_.get(0))
      compactPartitions(spark, s"$path/assigned", "cell", affected,
        built.live.filter(col("cell").isin(affected.toIndexedSeq: _*)))
      // the metadata-carrying `augmented` sidecar (written by
      // AnnIndexRegistry.register for filtered kNN) still holds the
      // now-compacted dead rows, and with the tombstone sidecar gone they
      // would resurface through the filtered rewrite — drop it; the next
      // register() re-materializes it from the compacted cell table, and
      // until then filtered plans gracefully keep their exact scan.
      val aug = new org.apache.hadoop.fs.Path(s"$path/augmented")
      aug.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(aug, true)
    }
  }

  /** The shared per-partition compaction step (used by [[compactOnDisk]]
    * and the [[PqIndex]]/[[IvfPqIndex]] analogs): dynamic-partition-
    * overwrite ONLY the `affected` partition values of a partitioned
    * table with their surviving rows — untouched partitions keep their
    * files byte-for-byte — and explicitly remove a FULLY-dead partition's
    * directory (dynamic overwrite never touches a partition that emits no
    * rows, so its stale files would otherwise resurface once the
    * tombstone sidecar drops). `survivors0` must be exactly the live rows
    * of the affected partitions; it is materialized before the overwrite
    * because the write would otherwise read the directories it is
    * replacing. */
  private[ml] def compactPartitions(spark: SparkSession, tablePath: String,
      partCol: String, affected: Seq[Any], survivors0: DataFrame): Unit = {
    if (affected.isEmpty) return
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val survivors = survivors0.localCheckpoint()
      survivors.write.mode("overwrite").partitionBy(partCol).parquet(tablePath)
      val alive = survivors.select(partCol).distinct().collect()
        .map(_.get(0)).toSet
      val fs = new org.apache.hadoop.fs.Path(tablePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      affected.filterNot(alive).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/$partCol=$v"), true)
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /**
   * The index lifecycle a query path must use: load the prebuilt index
   * for `sourcePath` if one exists, else build + persist it once.
   * An iterative k-means fit inside a registered query would re-run per
   * execution — a scale-killer at 100 TB, where the index is maintained
   * by an explicit index job and queries only ever read it.
   *
   * Staleness is keyed on a fingerprint of the source parquet files
   * (count + name + length + mtime + head-bytes CRC) and the quantizer
   * params, so a regenerated corpus or changed index shape rebuilds
   * instead of serving stale cells — the CRC catches a file rewritten
   * same-size within mtime granularity, which name:length:mtime alone
   * would miss.
   *
   * Concurrency: the cache root is shared (tmpdir), so the build goes to
   * a process-unique staging dir and is atomically renamed into place. A
   * concurrent builder that wins the rename is detected (the target
   * appeared) and its index is served; a reader never observes a
   * half-written index because the published path appears in one rename.
   */
  def openOrBuild(
      spark: SparkSession,
      ivf: IvfIndex,
      sourcePath: String,
      idCol: String,
      embCol: String,
      cacheRoot: String = IndexCache.DefaultIvfRoot): Built =
    load(spark, openOrBuildPath(spark, ivf, sourcePath, idCol, embCol, cacheRoot))

  /** [[openOrBuild]] but returning the PUBLISHED index directory — what
    * a caller needs to hand the index to [[graft.plans.AnnIndexRule]]
    * (the rewrite reads `path/assigned` as a cell-partition-pruned scan)
    * or to target [[compactOnDisk]]. */
  def openOrBuildPath(
      spark: SparkSession,
      ivf: IvfIndex,
      sourcePath: String,
      idCol: String,
      embCol: String,
      cacheRoot: String = IndexCache.DefaultIvfRoot): String =
    openOrGrowPath(spark, ivf, sourcePath, spark.read.parquet(sourcePath),
      idCol, embCol, cacheRoot)._1

  /** A link-append grow, for the calibration that follows it
    * ([[IvfGeometry]]): the artifact it grew from, the delta as read from
    * the new source files, and the rows the append wrote for it (id,
    * emb, cell), checkpointed. */
  private[ml] final case class LinkGrow(parent: String, delta: DataFrame,
      assigned: DataFrame)

  /** [[openOrBuildPath]] over `corpus`, the caller's own read of
    * `sourcePath` (only a cold build or a grow reads it), with the
    * link-append this open ran, if it ran one: a caller that reads the
    * corpus anyway ([[IvfGeometry]]'s calibration) shares one read, and
    * one schema-inference job, with the build or the grow's delta read,
    * and calibrates a grow from its delta. */
  private[ml] def openOrGrowPath(spark: SparkSession, ivf: IvfIndex,
      sourcePath: String, corpus: => DataFrame, idCol: String, embCol: String,
      cacheRoot: String): (String, Option[LinkGrow]) = {
    var grow: Option[LinkGrow] = None
    // a grown source encodes ONLY the new files against the frozen
    // centroids — no k-means fit on either grow form
    val path = IndexCache.openOrGrow(spark, sourcePath, corpus, ivf.fingerprint,
      cacheRoot, Layout) { staging =>
      save(ivf.build(spark, corpus, idCol, embCol), staging)
    }({ (published, delta, staging) =>
        grow = linkAppendRows(spark, published, delta, idCol, embCol, staging)
          .map(LinkGrow(published, delta, _))
        grow.isDefined
      },
      (published, delta, staging) =>
        save(ivf.append(load(spark, published), delta, idCol, embCol), staging))
    (path, grow)
  }

  /** The O(delta) refresh ([[IndexCache.linkAppend]]): hardlink the
    * published cell dirs, centroid table and sidecar into `staging` and
    * append ONLY the delta's frozen-centroid assignments as new files in
    * their cell directories — no shuffle of existing rows, no
    * corpus-sized write. The grown artifact keeps its parent's
    * [[assignedSchema]] record and calibration anchor records
    * ([[IvfGeometry.AnchorsPrefix]]). [[IvfIndex.append]]'s rewrite form
    * stays the LWW fallback (false on overlap or a link-refusing
    * filesystem). */
  private[graft] def appendOnDisk(spark: SparkSession, published: String,
      delta: DataFrame, idCol: String, embCol: String,
      staging: String): Boolean =
    linkAppendRows(spark, published, delta, idCol, embCol, staging).isDefined

  /** [[appendOnDisk]], returning the delta rows it appended, or None
    * when it declined. */
  private def linkAppendRows(spark: SparkSession, published: String,
      delta: DataFrame, idCol: String, embCol: String,
      staging: String): Option[DataFrame] = {
    val d = assignDelta(centres(spark, published), delta, idCol,
      embCol).localCheckpoint()
    val linked = IndexCache.linkAppend(spark, published, staging, Layout,
        d.select("id")) { st =>
      if (!d.isEmpty)
        d.write.mode("append").partitionBy("cell").parquet(s"$st/assigned")
      Option(new java.io.File(published).listFiles()).toSeq.flatten
        .filter(f => f.getName == AssignedSchemaRel ||
          f.getName.startsWith(IvfGeometry.AnchorsPrefix))
        .foreach(f => java.nio.file.Files.copy(f.toPath,
          new java.io.File(st, f.getName).toPath))
    }
    if (linked) Some(d) else None
  }
}
