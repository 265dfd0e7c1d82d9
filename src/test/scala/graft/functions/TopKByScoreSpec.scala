package graft.functions

import graft.SparkTestBase
import graft.functions.TopKReference._
import org.scalatest.funsuite.AnyFunSuite

class TopKByScoreSpec extends AnyFunSuite with SparkTestBase {

  private val agg = new TopKByScore(3)

  test("reduce keeps top-k sorted by (score desc, id asc)") {
    val buf = Seq((0.5, 10L), (0.9, 2L), (0.1, 7L), (0.7, 1L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(buf == Vector(Hit(0.9, 2), Hit(0.7, 1), Hit(0.5, 10)))
  }

  test("ties break by lower id") {
    val buf = Seq((0.5, 9L), (0.5, 3L), (0.5, 6L), (0.5, 1L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(buf == Vector(Hit(0.5, 1), Hit(0.5, 3), Hit(0.5, 6)))
  }

  test("merge equals reduce over the concatenation (partitioning-independent)") {
    val xs = Seq((0.3, 1L), (0.8, 2L), (0.8, 9L), (0.1, 3L), (0.95, 4L), (0.8, 5L))
    for (split <- 0 to xs.size) {
      val (l, r) = xs.splitAt(split)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(merged == xs.foldLeft(agg.zero)(agg.reduce), s"split=$split")
    }
  }

  test("native TopKByScoreAgg == reference udaf over a distributed stream") {
    import org.apache.spark.sql.functions._
    // ids collide across groups, scores tie heavily — the tie-break and
    // merge order are what this pins; 8 partitions force real merges
    val df = spark.range(0, 5000)
      .select((col("id") % 13).as("g"),
        ((col("id") * 37 % 50) / 50.0).as("score"), col("id"))
      .repartition(8)
    for (k <- Seq(1, 3, 16, 192)) {
      val native = df.groupBy("g")
        .agg(TopKByScore(k)(col("score"), col("id")).as("h"))
        .select(col("g"), posexplode(col("h")))
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getStruct(2).getDouble(0), r.getStruct(2).getLong(1))).toSet
      val ref = df.groupBy("g")
        .agg(TopKByScore.referenceUdaf(k)(col("score"), col("id")).as("h"))
        .select(col("g"), posexplode(col("h")))
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getStruct(2).getDouble(0), r.getStruct(2).getLong(1))).toSet
      assert(native == ref, s"k=$k")
    }
  }

  test("native nullSkipping matches reference on null-bearing scores") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 500)
      .select((col("id") % 3).as("g"),
        when(col("id") % 5 === 0, (col("id") % 40) / 40.0).as("score"),
        col("id"))
      .repartition(4)
    val native = df.groupBy("g")
      .agg(TopKByScore.nullSkipping(4)(col("score"), col("id")).as("h"))
      .select(col("g"), explode(col("h")).as("x"))
      .collect().map(r => (r.getLong(0), r.getStruct(1).getDouble(0),
        r.getStruct(1).getLong(1))).toSet
    val ref = df.groupBy("g")
      .agg(TopKByScore.referenceNullSkippingUdaf(4)(col("score"), col("id")).as("h"))
      .select(col("g"), explode(col("h")).as("x"))
      .collect().map(r => (r.getLong(0), r.getStruct(1).getDouble(0),
        r.getStruct(1).getLong(1))).toSet
    assert(native == ref)
  }

  test("NaN scores contribute nothing, and native == reference on NaN-bearing data") {
    import org.apache.spark.sql.functions._
    // reference Aggregator: NaN rows skipped even while the buffer is
    // not yet full (the pre-r18 insert PREPENDED them and let them
    // shadow later buf.last evictions)
    val agg = new TopKByScore(3)
    val got = Seq(0.2 -> 1L, Double.NaN -> 2L, 0.9 -> 3L, Double.NaN -> 4L,
      0.5 -> 5L).foldLeft(agg.zero)(agg.reduce)
    assert(got == Seq(Hit(0.9, 3L), Hit(0.5, 5L), Hit(0.2, 1L)))
    // native heap path agrees on a distributed NaN-bearing stream
    // (cosine of a zero-norm vector is the realistic source)
    val df = spark.range(0, 500)
      .select((col("id") % 7).as("g"),
        when(col("id") % 11 === 0, lit(Double.NaN))
          .otherwise((col("id") * 37 % 50) / 50.0).as("score"), col("id"))
    def rows(c: org.apache.spark.sql.DataFrame) =
      c.select(col("g"), posexplode(col("h")))
        .select(col("g"), col("pos"), col("col.score"), col("col.id"))
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
    val native = rows(df.groupBy("g")
      .agg(TopKByScore(4)(col("score"), col("id")).as("h")))
    val ref = rows(df.groupBy("g")
      .agg(TopKByScore.referenceUdaf(4)(col("score"), col("id")).as("h")))
    assert(native == ref)
    assert(!native.exists(_._3.isNaN))
  }

  test("distributed agg matches a local sort at any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1L to 200L).map(i => (i % 7, (i * 37 % 100) / 100.0, i))
      .toDF("g", "score", "id").repartition(8)
    val got = df.groupBy("g").agg(TopKByScore(3)($"score", $"id").as("hits"))
      .select($"g", explode($"hits").as("h")).select($"g", $"h.score", $"h.id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val want = (1L to 200L).map(i => (i % 7, (i * 37 % 100) / 100.0, i))
      .groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy(t => (-t._2, t._3)).take(3)
      }.toSet
    assert(got == want)
  }
}
