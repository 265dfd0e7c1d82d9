package graft.ml

import graft.functions.TopKByScore
import graft.functions.VectorFunctions.{cosineSim, l2Norm}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Spark-SQL spelling of [[IvfGeometry.buildJointHist]]: a broadcast
  * cross join and a grouped top-k for the exact neighbours, the same for
  * every anchor's cell ranks, and two left joins with a per-pair MIN cell
  * rank. It is the spec oracle the one-pass driver form is held equal to,
  * map for map ([[IvfGeometrySpec]]). */
object JointHistOracle {

  /** Every cell's rank in each query's probe order: rank r means "probed
    * at any width >= r". The routing expression and (cell_score desc,
    * cell asc) total order of the IVF search, so TopK's prefix property
    * (top-p contains top-(p-1), TopKProps) makes rank <= p exactly "this
    * cell is probed at width p". */
  def cellRanks(built: IvfIndex.Built, queries: DataFrame, idCol: String,
      embCol: String, nCells: Int): DataFrame = {
    val q = Quantizer.prepare(queries, idCol, embCol)
      .select(col("id").as("q_id"), col("emb").as("q_emb"))
    q.crossJoin(broadcast(built.centroids))
      .select(col("q_id"), col("q_emb"), col("cell"),
        cosineSim(col("q_emb"), col("centroid")).as("cell_score"))
      .groupBy(col("q_id"), col("q_emb"))
      .agg(TopKByScore(nCells)(col("cell_score"), col("cell").cast("long")).as("cells"))
      .select(col("q_id"), posexplode(col("cells.id")).as(Seq("p0", "cell")))
      .select(col("q_id"), col("cell").cast("int").as("cell"),
        (col("p0") + 1).as("cell_rank"))
  }

  /** The (exact_rank, cell_rank) pair counts over the anchor sample, or
    * over the rows of the `anchors` surrogate ids (an artifact's recorded
    * anchors, [[IvfGeometry.readAnchors]]) when given. */
  def counts(built: IvfIndex.Built, corpus: DataFrame, idCol: String,
      embCol: String, c: Int, nAnchors: Int, kCap: Int,
      anchorIds: Option[Set[Long]] = None): Map[(Int, Int), Long] = {
    val searchable = graft.util.Spread.byKey(
        corpus.filter(l2Norm(col(embCol)) > 0), idCol)
      .withColumn("__gid", xxhash64(col(idCol)))
    val builtS = IvfIndex.Built(
      built.assigned.withColumn("id", xxhash64(col("id"))),
      built.centroids,
      built.tombstones.map(_.withColumn("id", xxhash64(col("id")))))
    val anchors = anchorIds.fold {
      val n = searchable.count()
      val stride = math.max(1L, n / nAnchors)
      searchable
        .filter(pmod(hash(col(idCol)), lit(stride)) === 0)
        .orderBy(col(idCol)).limit(nAnchors)
    }(ids => searchable.filter(col("__gid").isin(ids.toSeq: _*)))
      .localCheckpoint()
    val exact = searchable
      .select(col("__gid").as("n_id"), col(embCol).as("n_emb"))
      .crossJoin(broadcast(anchors
        .select(col("__gid").as("q_id"), col(embCol).as("q_emb"))))
      .select(col("q_id"), col("n_id"),
        cosineSim(col("q_emb"), col("n_emb")).as("cos"))
      .groupBy(col("q_id"))
      .agg(TopKByScore(kCap)(col("cos"), col("n_id")).as("hits"))
      .select(col("q_id"), posexplode(col("hits.id")).as(Seq("r0", "neighbor_id")))
      .select(col("q_id"), (col("r0") + 1).as("exact_rank"), col("neighbor_id"))
    val ranks = cellRanks(builtS, anchors, "__gid", embCol, c)
    val neighborCells = builtS.live
      .select(col("id").as("neighbor_id"), col("cell"))
    exact
      .join(neighborCells, Seq("neighbor_id"), "left")
      .join(ranks, Seq("q_id", "cell"), "left")
      .groupBy(col("q_id"), col("exact_rank"), col("neighbor_id"))
      .agg(min(col("cell_rank")).as("cr"))
      .groupBy(col("exact_rank"), coalesce(col("cr"), lit(0)).as("cr"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[Number](0).intValue, r.getAs[Number](1).intValue) ->
        r.getLong(2))
      .toMap
  }
}
