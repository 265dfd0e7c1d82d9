package graft.ml

import graft.SparkTestBase
import graft.functions.TopKByScore
import graft.functions.VectorFunctions.cosineSim
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side cell routing [[IvfIndex.route]] (used by
  * `AnnIndexRule`'s literal-query serve and `VectorStreams`' map-side
  * fan-out) picks the cells the SQL route of `IvfIndex.search` picks:
  * `cosine_similarity` over the centroid table, then `TopKByScore(nProbe)`
  * — best first, ties by cell ascending, NaN never routed. */
class IvfRouteSpec extends AnyFunSuite with SparkTestBase {

  test("route equals the SQL route on a zero-norm centroid and a tied pair") {
    import spark.implicits._
    // cell 0 has zero norm (cosine NaN against any query); cells 1 and 3
    // are the same direction, so every query ties them
    val centroids = Seq(
      0 -> Seq(0f, 0f, 0f),
      1 -> Seq(1f, 0f, 0f),
      2 -> Seq(0f, 1f, 0f),
      3 -> Seq(2f, 0f, 0f),
      4 -> Seq(0.5f, 0.5f, 0.1f)).toDF("cell", "centroid")
    val c = 5
    val queries = Seq(
      1L -> Seq(1f, 0.2f, 0f),   // the tied pair ranks first
      2L -> Seq(0.1f, 1f, 0f),   // the tied pair ranks after cell 2
      3L -> Seq(-1f, 0f, 0.3f),  // the tied pair ranks last
      4L -> Seq(0.5f, 0.5f, 0.1f)).toDF("q_id", "q_emb")
    val centres = IvfIndex.centresOf(centroids)
    for (nProbe <- Seq(1, 2, c)) {
      val sql = queries.crossJoin(broadcast(centroids))
        .select(col("q_id"), col("cell"),
          cosineSim(col("q_emb"), col("centroid")).as("cell_score"))
        .groupBy(col("q_id"))
        .agg(TopKByScore(nProbe)(col("cell_score"), col("cell").cast("long")).as("cells"))
        .select(col("q_id"), col("cells.id"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt)).toMap
      val route = IvfIndex.route(centres, nProbe)
      queries.collect().foreach { r =>
        val q = r.getLong(0)
        assert(route(r.getSeq[Float](1).toArray).toSeq == sql(q), s"q=$q nProbe=$nProbe")
      }
    }
    // spelled out at full width: the zero-norm cell never routes
    assert(IvfIndex.route(centres, c)(Array(1f, 0.2f, 0f)).toSeq == Seq(1, 3, 4, 2))
    // a zero-norm query routes nowhere (the SQL path drops it in prepare)
    assert(IvfIndex.route(centres, c)(Array(0f, 0f, 0f)).isEmpty)
  }
}
