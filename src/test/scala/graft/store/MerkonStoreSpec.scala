package graft.store

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the reference's behavioral contract onto the Spark façade:
 *  - key <- metadata.id on upsert       (MerkonMemoryStore.cs:240)
 *  - last-writer-wins upsert            (MerkonDatabase.cs:89-104)
 *  - limit <= 0 -> empty kNN result     (MerkonMemoryStore.cs:125-128)
 *  - withEmbeddings projection flag     (MerkonMemoryStore.cs:140,275-288)
 *  - empty-key purge before scans       (MerkonDatabase.cs:72-88)
 *  - `>=` min-relevance semantics       (MerkonMemoryStore.cs:138)
 *  - save/load round-trip               (MerkonDatabase.cs:128-162)
 */
class MerkonStoreSpec extends AnyFunSuite with SparkTestBase {

  private def rec(
      key: String,
      id: String = null,
      text: String = null,
      emb: Array[Float] = Array(1f, 0f)): MemoryRecord =
    MemoryRecord(key, MemoryMetadata(id = id, text = text), emb)

  private def newStore = new MerkonStore(spark)

  test("collection DDL: create / exists / list / delete are idempotent") {
    val st = newStore
    assert(!st.doesCollectionExist("a"))
    st.createCollection("a")
    st.createCollection("a") // idempotent (AddCollection, MerkonDatabase.cs:18-24)
    st.createCollection("b")
    assert(st.doesCollectionExist("a"))
    assert(st.getCollections == Seq("a", "b"))
    assert(st.deleteCollection("a"))
    assert(!st.deleteCollection("a"))
    assert(st.getCollections == Seq("b"))
  }

  test("upsert forces key <- metadata.id when present") {
    val st = newStore
    val returned = st.upsert("c", rec(key = "provided", id = "meta-id"))
    assert(returned == "meta-id")
    assert(st.get("c", "meta-id").count() == 1)
    assert(st.get("c", "provided").count() == 0)
  }

  test("upsert keeps provided key when metadata.id is null") {
    val st = newStore
    assert(st.upsert("c", rec(key = "k1")) == "k1")
    assert(st.get("c", "k1").count() == 1)
  }

  test("upsert is last-writer-wins per key") {
    val st = newStore
    st.upsert("c", rec(key = null, id = "k", text = "v1"))
    st.upsert("c", rec(key = null, id = "k", text = "v2"))
    st.upsert("c", rec(key = null, id = "k", text = "v3"))
    val rows = st.getAll("c").select("metadata.text").collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "v3")
  }

  test("upsertBatch upserts the whole batch distributively") {
    val st = newStore
    import spark.implicits._
    st.upsertBatch("c", Seq(
      rec("a", text = "old-a"), rec("b", text = "old-b")).toDF())
    st.upsertBatch("c", Seq(
      rec("b", text = "new-b"), rec("d", text = "new-d")).toDF())
    val byKey = st.getAll("c").select("key", "metadata.text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byKey == Map("a" -> "old-a", "b" -> "new-b", "d" -> "new-d"))
  }

  test("get projects embedding away unless withEmbedding") {
    val st = newStore
    st.upsert("c", rec("k"))
    assert(!st.get("c", "k").columns.contains("embedding"))
    assert(st.get("c", "k", withEmbedding = true).columns.contains("embedding"))
  }

  test("getBatch is a semi-join; missing keys are absent, not truncating") {
    val st = newStore
    import spark.implicits._
    st.upsertBatch("c", Seq(rec("a"), rec("b"), rec("z")).toDF())
    // Reference yields a then STOPS at missing "q" (MerkonMemoryStore.cs:
    // 97-100) — we deliberately return every present key instead.
    val got = st.getBatch("c", Seq("a", "q", "z")).select("key")
      .collect().map(_.getString(0)).sorted
    assert(got.sameElements(Array("a", "z")))
  }

  test("remove / removeBatch delete by key") {
    val st = newStore
    import spark.implicits._
    st.upsertBatch("c", Seq(rec("a"), rec("b"), rec("d")).toDF())
    st.remove("c", "a")
    st.removeBatch("c", Seq("b", "nonexistent"))
    assert(st.getAll("c").select("key").collect().map(_.getString(0)).toSeq == Seq("d"))
  }

  test("empty keys are purged from scans and by removeEmptyKeys") {
    val st = newStore
    import spark.implicits._
    st.upsertBatch("c", Seq(rec(""), rec("x")).toDF())
    assert(st.getAll("c").count() == 1) // lazy purge on scan
    st.removeEmptyKeys("c")
    assert(st.getAll("c").count() == 1)
  }

  test("kNN: limit <= 0 returns empty") {
    val st = newStore
    st.upsert("c", rec("k"))
    assert(st.getNearestMatches("c", Array(1f, 0f), limit = 0).count() == 0)
    assert(st.getNearestMatches("c", Array(1f, 0f), limit = -3).count() == 0)
  }

  test("kNN: >= threshold, descending order, top-k, score column") {
    val st = newStore
    import spark.implicits._
    st.upsertBatch("c", Seq(
      rec("east", emb = Array(1f, 0f)),
      rec("northeast", emb = Array(1f, 1f)),
      rec("north", emb = Array(0f, 1f)),
      rec("west", emb = Array(-1f, 0f))).toDF())
    val top = st.getNearestMatches("c", Array(1f, 0f), limit = 3, minRelevanceScore = 0.0)
      .select("key").collect().map(_.getString(0))
    // west has score -1 < 0 -> excluded by the default >= 0 semantics;
    // north has score exactly 0 -> included (>= is inclusive).
    assert(top.sameElements(Array("east", "northeast", "north")))
    val one = st.getNearestMatch("c", Array(1f, 0f))
      .select("key", "score").collect()
    assert(one.length == 1 && one.head.getString(0) == "east")
    assert(math.abs(one.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("kNN: withEmbeddings controls embedding column in results") {
    val st = newStore
    st.upsert("c", rec("k"))
    assert(!st.getNearestMatches("c", Array(1f, 0f), 1).columns.contains("embedding"))
    assert(st.getNearestMatches("c", Array(1f, 0f), 1, withEmbeddings = true)
      .columns.contains("embedding"))
  }

  test("save / load round-trip preserves collections and rows") {
    val st = newStore
    import spark.implicits._
    val dir = scratchDir("merkon-store")
    st.upsertBatch("c1", Seq(rec("a", text = "ta"), rec("b", text = "tb")).toDF())
    st.upsertBatch("c2", Seq(rec("x")).toDF())
    st.save(dir)
    val st2 = new MerkonStore(spark)
    st2.load(dir)
    assert(st2.getCollections.toSet == Set("c1", "c2"))
    assert(st2.getAll("c1").count() == 2)
    assert(st2.get("c1", "a", withEmbedding = true).select("metadata.text")
      .collect().head.getString(0) == "ta")
  }

  test("load falls back to the legacy (pre-'c-' prefix) on-disk layout") {
    val st = newStore
    import spark.implicits._
    val dir = scratchDir("merkon-store-legacy")
    st.upsertBatch("old coll", Seq(rec("a", text = "legacy-row")).toDF())
    st.save(dir)
    // simulate a store written before the "c-" prefix: strip it on disk
    val coll = new java.io.File(s"$dir/collections")
    coll.listFiles().foreach { f =>
      assert(f.getName.startsWith("c-"))
      f.renameTo(new java.io.File(coll, f.getName.stripPrefix("c-")))
    }
    val st2 = new MerkonStore(spark)
    st2.load(dir)
    assert(st2.getCollections.toSet == Set("old coll"))
    assert(st2.get("old coll", "a").select("metadata.text")
      .collect().head.getString(0) == "legacy-row")
  }

  test("collection named _collections (or with slashes) survives save/load") {
    val st = newStore
    st.upsert("_collections", rec("k", text = "manifest-clash"))
    st.upsert("a/b", rec("k2"))
    val dir = scratchDir("merkon-store-clash")
    st.save(dir)
    val st2 = new MerkonStore(spark)
    st2.load(dir)
    assert(st2.getCollections.toSet == Set("_collections", "a/b"))
    assert(st2.get("_collections", "k").count() == 1)
    assert(st2.get("a/b", "k2").count() == 1)
  }

  test("save / load round-trip through json (schema re-imposed)") {
    val st = newStore
    import spark.implicits._
    val dir = scratchDir("merkon-store-json")
    st.upsertBatch("c", Seq(rec("a", text = "ta", emb = Array(0.5f, -1f))).toDF())
    st.save(dir, format = "json")
    val st2 = new MerkonStore(spark)
    st2.load(dir, format = "json")
    val row = st2.getAll("c", withEmbeddings = true)
      .select("key", "metadata.text", "embedding").collect().head
    assert(row.getString(0) == "a" && row.getString(1) == "ta")
    assert(row.getSeq[Float](2) == Seq(0.5f, -1f))
  }

  test("registerViews exposes collections to SQL") {
    val st = newStore
    st.upsert("sql-coll", rec("k", text = "via-sql"))
    st.registerViews()
    // '-' (0x2d) encodes bijectively as _2d_
    val got = spark.sql("SELECT metadata.text FROM merkon_sql_2d_coll WHERE key = 'k'")
      .collect().head.getString(0)
    assert(got == "via-sql")
  }

  test("registerViews never collides distinct collection names") {
    val st = newStore
    // lossy mangling would map all three to the same view name merkon_a_b
    st.upsert("a/b", rec("k", text = "slash"))
    st.upsert("a.b", rec("k", text = "dot"))
    st.upsert("a_b", rec("k", text = "underscore"))
    st.registerViews()
    def read(view: String) =
      spark.sql(s"SELECT metadata.text FROM $view").collect().head.getString(0)
    assert(read("merkon_a_2f_b") == "slash")
    assert(read("merkon_a_2e_b") == "dot")
    assert(read("merkon_a_5f_b") == "underscore")
  }

  test("collections named '.' and '..' cannot escape the store directory") {
    val st = newStore
    st.upsert(".", rec("k1", text = "dot"))
    st.upsert("..", rec("k2", text = "dotdot"))
    st.upsert("normal", rec("k3", text = "plain"))
    val dir = scratchDir("merkon-store-dots")
    st.save(dir)
    val st2 = new MerkonStore(spark)
    st2.load(dir) // a clobbered manifest would fail here
    assert(st2.getCollections.toSet == Set(".", "..", "normal"))
    assert(st2.get(".", "k1").count() == 1)
    assert(st2.get("..", "k2").count() == 1)
    assert(st2.get("normal", "k3").count() == 1)
  }

  test("pure-SQL kNN over a registered store view") {
    val st = newStore
    import spark.implicits._
    st.upsertBatch("sqlknn", Seq(
      rec("east", emb = Array(1f, 0f)),
      rec("northeast", emb = Array(1f, 1f)),
      rec("north", emb = Array(0f, 1f))).toDF())
    st.registerViews()
    graft.functions.VectorFunctions.register(spark)
    // the full reference workflow — collection scan + cosine + top-k —
    // with zero Scala: a view and the registered SQL functions
    val rows = spark.sql(
      """SELECT key, cosine_similarity(embedding, array(1.0F, 0.0F)) AS score
        |FROM merkon_sqlknn ORDER BY score DESC, key LIMIT 2""".stripMargin).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("east", "northeast"))
    assert(math.abs(rows.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("streamingUpsert ingests micro-batches with LWW semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val st = newStore
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[MemoryRecord]
    val q = st.streamingUpsert("stream-coll", input.toDS().toDF())
    try {
      input.addData(rec("a", text = "v1"), rec("b", text = "b1"))
      q.processAllAvailable()
      input.addData(rec("a", text = "v2")) // later micro-batch wins
      q.processAllAvailable()
    } finally q.stop()
    val byKey = st.getAll("stream-coll").select("key", "metadata.text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byKey == Map("a" -> "v2", "b" -> "b1"))
  }

  test("getNearestMatches(predicate): only in-slice rows on both paths, never starved below limit") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    try {
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      st.upsertBatch("vecs", corpus.select(
        concat(lit("k"), col("vec_id")).as("key"), col("embedding")))
      st.buildIndex("vecs", nCentroids = 8, nProbe = 6)
      // slice = keys ending in an even digit (~half the collection)
      val pred = col("key").substr(-1, 1).isin("0", "2", "4", "6", "8")
      val qv = corpus.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray

      for (useIndex <- Seq(false, true)) {
        val rows = st.getNearestMatches("vecs", qv, 5, useIndex = useIndex,
          predicate = Some(pred)).select("key").collect().map(_.getString(0))
        assert(rows.length == 5,
          s"useIndex=$useIndex: filtered search starved below limit")
        assert(rows.forall(k => "02468".contains(k.last)),
          s"useIndex=$useIndex: out-of-slice row surfaced")
      }
      // exact path parity: predicate result == manual filter of the
      // unlimited exact scores
      val manual = st.getNearestMatches("vecs", qv, Int.MaxValue)
        .filter(pred).limit(5).select("key").collect().map(_.getString(0)).toSet
      val got = st.getNearestMatches("vecs", qv, 5, predicate = Some(pred))
        .select("key").collect().map(_.getString(0)).toSet
      assert(got == manual)
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("buildIndex default derives corpus-sized geometry (r13) and still serves recall >= 0.9") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    try {
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      st.upsertBatch("vecs_auto", corpus.select(
        concat(lit("k"), col("vec_id")).as("key"), col("embedding")))
      st.buildIndex("vecs_auto") // 0/0 defaults -> sqrt-N cells, calibrated probe
      val qv = corpus.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val exact = st.getNearestMatches("vecs_auto", qv, 10)
        .select("key").collect().map(_.getString(0)).toSet
      val indexed = st.getNearestMatches("vecs_auto", qv, 10, useIndex = true)
        .select("key").collect().map(_.getString(0))
      assert(indexed.length == 10)
      val recall = indexed.count(exact).toDouble / exact.size
      info(f"derived-geometry store index recall@10: $recall%.2f")
      assert(recall >= 0.9)
      // single-param calls must fail loudly, not silently half-derive
      intercept[IllegalArgumentException](st.buildIndex("vecs_auto", nCentroids = 32))
      intercept[IllegalArgumentException](st.buildIndex("vecs_auto", nProbe = -1))
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("streamingUpsert freshness: a streamed vector is visible to the next getNearestMatches") {
    // the reference's single-heap store makes this trivially true; the
    // Spark store must give the same contract — ingest landed by the
    // stream is searchable as soon as its micro-batch commits, with no
    // manual reload between
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val st = newStore
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[MemoryRecord]
    val q = st.streamingUpsert("fresh-coll", input.toDS().toDF())
    try {
      input.addData(rec("east", emb = Array(1f, 0f)))
      q.processAllAvailable()
      val before = st.getNearestMatches("fresh-coll", Array(0f, 1f), limit = 1,
        minRelevanceScore = 0.9).select("key").collect()
      assert(before.isEmpty) // nothing aligned with the query yet

      input.addData(rec("north", emb = Array(0f, 1f)))
      q.processAllAvailable()
      // the NEXT search call sees the vector the stream just landed
      val after = st.getNearestMatches("fresh-coll", Array(0f, 1f), limit = 1,
        minRelevanceScore = 0.9).select("key", "score").collect()
      assert(after.length == 1 && after.head.getString(0) == "north" &&
        math.abs(after.head.getDouble(1) - 1.0) < 1e-9)

      // LWW freshness too: a streamed overwrite moves the SAME key out of
      // the result set on the very next call
      input.addData(rec("north", emb = Array(1f, 0f)))
      q.processAllAvailable()
      val moved = st.getNearestMatches("fresh-coll", Array(0f, 1f), limit = 1,
        minRelevanceScore = 0.9).select("key").collect()
      assert(moved.isEmpty)
    } finally q.stop()
  }

  test("compact preserves contents") {
    val st = newStore
    import spark.implicits._
    st.upsertBatch("c", Seq(rec("a"), rec("b")).toDF())
    st.upsert("c", rec("a", text = "updated"))
    st.compact("c")
    val byKey = st.getAll("c").select("key", "metadata.text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byKey == Map("a" -> "updated", "b" -> null))
  }

  test("getNearestMatches(useIndex = true) serves from the IVF index at recall >= 0.9") {
    import org.apache.spark.sql.functions.col
    val st = newStore
    try {
      // a real corpus: the sf0.001 embeddings as store records
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      st.upsertBatch("vecs", corpus.select(
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("k"), col("vec_id")).as("key"),
        col("embedding")))
      st.buildIndex("vecs", nCentroids = 8, nProbe = 6)

      val queryVecs = corpus.filter(col("vec_id") < 20)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

      // the indexed plan probes the index's cell-partitioned table, not
      // the collection (same assertion family as AnnRewriteSpec)
      val plan = st.getNearestMatches("vecs", queryVecs.head._2, 5,
          useIndex = true).queryExecution.executedPlan.toString
      assert(plan.contains("assigned") && plan.contains("cell"), plan.take(3000))

      // recall vs the exact reference-shaped path, same API surface
      val recalls = queryVecs.map { case (_, qv) =>
        val exact = st.getNearestMatches("vecs", qv, 5)
          .select("key").collect().map(_.getString(0)).toSet
        val idx = st.getNearestMatches("vecs", qv, 5, useIndex = true)
          .select("key").collect().map(_.getString(0)).toSet
        (idx & exact).size.toDouble / exact.size
      }
      assert(recalls.sum / recalls.length >= 0.9,
        s"indexed façade recall ${recalls.sum / recalls.length}")

      // identical output schema on both paths; indexed rows carry LIVE
      // metadata and exact scores
      val qv = queryVecs(3)._2
      val exactDf = st.getNearestMatches("vecs", qv, 5)
      val idxDf = st.getNearestMatches("vecs", qv, 5, useIndex = true)
      assert(exactDf.schema == idxDf.schema)
      val exactScores = exactDf.select("key", "score").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      idxDf.select("key", "score").collect().foreach { r =>
        exactScores.get(r.getString(0)).foreach(s => assert(s == r.getDouble(1)))
      }
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("buildIndex builds the IVF-PQ sibling at the family conf; string keys serve from the codes table") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    try {
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      st.upsertBatch("vecs_pq", corpus.select(
        concat(lit("k"), col("vec_id")).as("key"), col("embedding")))
      val qv = corpus.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray

      // below the advantage point (default 1 GiB): the index job skips
      // the sibling's m KMeans fits entirely and the probe rides IVF
      st.buildIndex("vecs_pq", nCentroids = 8, nProbe = 6)
      val planIvf = st.getNearestMatches("vecs_pq", qv, 5, useIndex = true)
        .queryExecution.executedPlan.toString
      assert(!planIvf.contains("codes:array"), planIvf.take(3000))

      // operating point flipped (the one conf both the job and the rule
      // read): re-running the index job builds the surrogate-keyed
      // sibling — string keys — and the SAME reference-shaped call now
      // serves from the codes table
      spark.conf.set(graft.plans.AnnIndexRule.PqMinBytesKey, "0")
      try {
        st.buildIndex("vecs_pq", nCentroids = 8, nProbe = 6)
        val planPq = st.getNearestMatches("vecs_pq", qv, 5, useIndex = true)
          .queryExecution.executedPlan.toString
        assert(planPq.contains("codes:array"), planPq.take(3000))
        // results carry the ORIGINAL string keys with exact scores and
        // the reference's output schema, same as the IVF path
        val exactDf = st.getNearestMatches("vecs_pq", qv, 5)
        val servedDf = st.getNearestMatches("vecs_pq", qv, 5, useIndex = true)
        assert(exactDf.schema == servedDf.schema)
        val exact = exactDf.select("key", "score").collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        val served = servedDf.select("key", "score").collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(served.nonEmpty && served.keySet.forall(_.startsWith("k")))
        served.keySet.intersect(exact.keySet).foreach { k =>
          assert(served(k) == exact(k)) }
        assert((served.keySet & exact.keySet).size >= 4,
          s"codes-served top-5 diverged: $served vs $exact")
      } finally spark.conf.unset(graft.plans.AnnIndexRule.PqMinBytesKey)
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("remove() tombstones the registered index: indexed search drops the key at full k") {
    import org.apache.spark.sql.functions.col
    val st = newStore
    try {
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      st.upsertBatch("vecs_del", corpus.select(
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("k"), col("vec_id")).as("key"),
        col("embedding")))
      st.buildIndex("vecs_del", nCentroids = 8, nProbe = 8)
      val qv = corpus.filter(col("vec_id") === 7).select("embedding")
        .head().getSeq[Float](0).toArray

      val before = st.getNearestMatches("vecs_del", qv, 5, useIndex = true)
        .select("key").collect().map(_.getString(0))
      assert(before.head == "k7" && before.length == 5)

      st.remove("vecs_del", "k7")
      val after = st.getNearestMatches("vecs_del", qv, 5, useIndex = true)
        .select("key").collect().map(_.getString(0))
      // full k survives the delete (the PROBE filtered, so next-best
      // rows backfill) and the deleted key is gone — no rebuild ran
      assert(after.length == 5, s"expected full k after delete, got ${after.length}")
      assert(!after.contains("k7"))
      // exact path agrees on the survivors' ranking
      val exact = st.getNearestMatches("vecs_del", qv, 5)
        .select("key").collect().map(_.getString(0))
      assert(!exact.contains("k7"))
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("remove() reaches the CODES-TABLE serve path: deleted keys neither surface nor truncate top-k") {
    // tombstones land in the registered (IVF) artifact dir; the
    // family-picked codes-table probe must honor them too — mapped into
    // the surrogate domain for string keys — and BEFORE the shortlist,
    // so a dead row can never occupy a slot and shrink the backfill
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    try {
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      st.upsertBatch("vecs_pqdel", corpus.select(
        concat(lit("k"), col("vec_id")).as("key"), col("embedding")))
      spark.conf.set(graft.plans.AnnIndexRule.PqMinBytesKey, "0")
      try {
        st.buildIndex("vecs_pqdel", nCentroids = 8, nProbe = 8)
        val qv = corpus.filter(col("vec_id") === 7).select("embedding")
          .head().getSeq[Float](0).toArray
        val planDf = st.getNearestMatches("vecs_pqdel", qv, 5, useIndex = true)
        assert(planDf.queryExecution.executedPlan.toString
          .contains("codes:array"), "probe must serve from the codes table")
        val before = planDf.select("key").collect().map(_.getString(0))
        assert(before.head == "k7" && before.length == 5)

        st.remove("vecs_pqdel", "k7")
        val after = st.getNearestMatches("vecs_pqdel", qv, 5, useIndex = true)
          .select("key").collect().map(_.getString(0))
        assert(after.length == 5,
          s"expected full k after delete on the codes path, got ${after.length}")
        assert(!after.contains("k7"))
      } finally spark.conf.unset(graft.plans.AnnIndexRule.PqMinBytesKey)
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("indexStats reports per-family tombstone pressure; compactIndex zeroes it") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    try {
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      st.upsertBatch("vecstat", corpus.select(
        concat(lit("k"), col("vec_id")).as("key"), col("embedding")))
      assert(st.indexStats("vecstat").isEmpty, "no index job ran yet")
      spark.conf.set(graft.plans.AnnIndexRule.PqMinBytesKey, "0")
      try {
        st.buildIndex("vecstat", nCentroids = 8, nProbe = 8)
        st.removeBatch("vecstat", Seq("k3", "k4"))
        val stats = st.indexStats("vecstat").collect()
          .map(r => r.getString(1) -> r).toMap
        assert(stats.keySet == Set("ivf", "ivfpq"),
          s"expected both families, got ${stats.keySet}")
        stats.values.foreach { r =>
          assert(r.getLong(7) == corpus.count(), "rows = full snapshot")
          assert(r.getLong(8) == 2, s"2 tombstoned keys, got ${r.getLong(8)}")
          assert(r.getDouble(9) > 0.0)
        }
        // family-correct shape columns: the PQ row carries its code
        // shape, the IVF row leaves them null
        assert(stats("ivf").isNullAt(5) && stats("ivf").isNullAt(6))
        assert(stats("ivfpq").getInt(5) > 0 && stats("ivfpq").getInt(6) > 0)
        // honest dead count: a never-indexed key in the sidecar reclaims
        // nothing and must not inflate the trigger signal
        st.removeBatch("vecstat", Seq("never-indexed-key"))
        st.indexStats("vecstat").collect().foreach { r =>
          assert(r.getLong(8) == 2,
            s"sidecar noise inflated tombstones: ${r.getLong(8)}")
        }
        st.compactIndex("vecstat")
        val after = st.indexStats("vecstat").collect()
        assert(after.forall(_.getLong(8) == 0L), "compaction zeroes tombstones")
        assert(after.forall(_.getLong(7) == corpus.count() - 2),
          "compaction physically removed the dead rows")
      } finally spark.conf.unset(graft.plans.AnnIndexRule.PqMinBytesKey)
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("save/load round-trips which collections are indexed; rebuildIndexes restores indexed serve") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    try {
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      st.upsertBatch("vecsrt", corpus.select(
        concat(lit("k"), col("vec_id")).as("key"), col("embedding")))
      st.buildIndex("vecsrt", nCentroids = 8, nProbe = 7)
      val qv = corpus.filter(col("vec_id") === 7).select("embedding")
        .head().getSeq[Float](0).toArray
      val dir = scratchDir("merkon-store-idx")
      st.save(dir)
      // the record carries the operator's explicit operating point
      assert(spark.read.parquet(s"$dir/_indexed").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq ==
        Seq(("vecsrt", 8, 7)))

      // restart WITHOUT the index job: the indexed path must fall back to
      // the exact scan over the RELOADED data — in particular it must not
      // serve a stale pre-load index snapshot (load clears the index
      // bindings along with the collections)
      val st2 = new MerkonStore(spark)
      st2.load(dir)
      val exactDf = st2.getNearestMatches("vecsrt", qv, 5, useIndex = true)
      assert(!exactDf.queryExecution.executedPlan.toString.contains("emb:array"),
        "no index job ran; the serve must be the exact scan")
      assert(exactDf.select("key").head().getString(0) == "k7")

      // a plain load-then-save round-trip must NOT erase the record (the
      // deferred-index-job restore flow would otherwise lose, forever,
      // that the collection was ever indexed)
      val dir2 = scratchDir("merkon-store-idx2")
      st2.save(dir2)
      assert(spark.read.parquet(s"$dir2/_indexed").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq ==
        Seq(("vecsrt", 8, 7)),
        "load-then-save erased the indexed record")

      // restart WITH the index job, from the ROUND-TRIPPED save: indexed
      // serve restored at the recorded operating point
      val st3 = new MerkonStore(spark)
      st3.load(dir2, "parquet", rebuildIndexes = true)
      val served = st3.getNearestMatches("vecsrt", qv, 5, useIndex = true)
      assert(served.queryExecution.executedPlan.toString.contains("emb:array"),
        "restart index job must restore the indexed serve")
      assert(served.select("key").head().getString(0) == "k7")
      val stat = st3.indexStats("vecsrt").collect()
        .find(_.getString(1) == "ivf").get
      assert(stat.getInt(3) == 8 && stat.getInt(4) == 7,
        "rebuild must use the recorded params, not re-derive")
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("compactIndex is family-aware: IVF-artifact compaction can never resurrect codes-path deletes") {
    // the failure this pins: deletes land in the registered (IVF)
    // artifact's sidecar, and IvfIndex.compactOnDisk DROPS that sidecar
    // after folding it into the IVF cells only — before the dual-written
    // sibling sidecar, the family-served codes table lost its only record
    // of the delete and the dead key resurfaced
    import org.apache.spark.sql.functions.{col, concat, lit, xxhash64}
    val st = newStore
    try {
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      st.upsertBatch("vecspqc", corpus.select(
        concat(lit("k"), col("vec_id")).as("key"), col("embedding")))
      spark.conf.set(graft.plans.AnnIndexRule.PqMinBytesKey, "0")
      try {
        st.buildIndex("vecspqc", nCentroids = 8, nProbe = 8)
        val dump = sys.props("java.io.tmpdir") + "/graft-store-index/" +
          MerkonStore.pathSafe("vecspqc")
        val entry = graft.plans.AnnIndexRegistry.lookup(dump).get
        val fam = entry.pq.get
        val qv = corpus.filter(col("vec_id") === 7).select("embedding")
          .head().getSeq[Float](0).toArray
        def served(): Array[String] = {
          val df = st.getNearestMatches("vecspqc", qv, 5, useIndex = true)
          assert(df.queryExecution.executedPlan.toString
            .contains("codes:array"), "probe must serve from the codes table")
          df.select("key").collect().map(_.getString(0))
        }
        assert(served().head == "k7")

        // the delete dual-writes: the sibling's OWN sidecar records the
        // key's surrogate, so no other artifact's sidecar has to survive
        // for the codes path to stay correct
        st.remove("vecspqc", "k7")
        assert(new java.io.File(s"${fam.indexPath}/tombstones/_SUCCESS").isFile,
          "delete must reach the sibling's own sidecar")

        // the old flow — compacting only the IVF artifact — drops the
        // registered sidecar; the dual-written sibling sidecar keeps the
        // key dead on the family-served path
        graft.ml.IvfIndex.compactOnDisk(spark, entry.indexPath)
        assert(!new java.io.File(s"${entry.indexPath}/tombstones/_SUCCESS").isFile)
        val afterIvfOnly = served()
        assert(afterIvfOnly.length == 5 && !afterIvfOnly.contains("k7"),
          s"IVF-only compaction resurrected the deleted key: ${afterIvfOnly.mkString(",")}")

        // the family-aware job folds the sibling's tombstones in
        // physically: sidecar gone, codes/fetch/idMap rows gone, serve
        // still full-k correct
        st.compactIndex("vecspqc")
        assert(!new java.io.File(s"${fam.indexPath}/tombstones/_SUCCESS").isFile,
          "family compaction must drop the sibling's sidecar")
        val sid = spark.range(1).select(xxhash64(lit("k7"))).head().getLong(0)
        assert(spark.read.parquet(s"${fam.indexPath}/codedCell")
          .filter(col("id") === sid).isEmpty, "dead codes row survived")
        assert(spark.read.parquet(s"${fam.indexPath}/embById")
          .filter(col("id") === sid).isEmpty, "dead fetch row survived")
        assert(spark.read.parquet(s"${fam.indexPath}/idMap")
          .filter(col("sid") === sid).isEmpty,
          "dead key's surrogate mapping survived")
        val afterCompact = served()
        assert(afterCompact.length == 5 && !afterCompact.contains("k7"))
      } finally spark.conf.unset(graft.plans.AnnIndexRule.PqMinBytesKey)
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("buildIndex refresh is O(delta): insert-only waves append, deletes-only leave the dump, updates re-dump") {
    // VERDICT r14 ask #1: the facade's mode("overwrite") snapshot dump
    // re-keyed the content cache on EVERY refresh, so the banded-geometry
    // append machinery was unreachable from the store API — the
    // reference's per-mutation whole-DB rewrite (MerkonDatabase.cs:
    // 149-162) surviving one layer up. The dump is now append-shaped.
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    val dumpRoot = scratchDir("graft-store-incdump")
    try {
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      def slice(lo: Int, hi: Int) =
        corpus.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select(concat(lit("k"), col("vec_id")).as("key"), col("embedding"))
      val dump = s"$dumpRoot/${MerkonStore.pathSafe("vinc")}"
      def dataFiles: Set[String] = new java.io.File(dump).listFiles().toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")).map(_.getName).toSet
      def entry = graft.plans.AnnIndexRegistry.lookup(dump).get
      def centroidsOf(e: graft.plans.AnnIndexRegistry.Entry) =
        e.centroids.map { case (c, a) => (c, a.toSeq) }.toSeq

      st.upsertBatch("vinc", slice(0, 300))
      st.buildIndex("vinc", nCentroids = 8, nProbe = 6, dir = dumpRoot)
      val files1 = dataFiles
      val e1 = entry
      val cent1 = centroidsOf(e1)

      // INSERT-ONLY wave -> the dump gains delta files ONLY (every
      // previously-dumped file untouched) and the index job rides the
      // frozen-centroid append: same centers, new artifact, all rows in
      st.upsertBatch("vinc", slice(300, 360))
      st.buildIndex("vinc", nCentroids = 8, nProbe = 6, dir = dumpRoot)
      val files2 = dataFiles
      assert(files1.subsetOf(files2) && files2.size > files1.size,
        s"append-shaped refresh expected: before=${files1.size} after=${files2.size}")
      val e2 = entry
      assert(e2.indexPath != e1.indexPath, "grown corpus must publish a new artifact")
      assert(centroidsOf(e2) == cent1,
        "centroids changed on an insert-only refresh: the append path was not taken")
      assert(spark.read.parquet(s"${e2.indexPath}/assigned").count() == 360)
      val qv333 = corpus.filter(col("vec_id") === 333).select("embedding")
        .head().getSeq[Float](0).toArray
      assert(st.getNearestMatches("vinc", qv333, 1, useIndex = true)
        .select("key").head().getString(0) == "k333")

      // DELETES-ONLY cycle -> no dump write at all; the unchanged dump
      // resolves to the SAME artifact, whose tombstone sidecar (written
      // at removeBatch time) keeps the key dead on the indexed path
      st.removeBatch("vinc", Seq("k333"))
      st.buildIndex("vinc", nCentroids = 8, nProbe = 6, dir = dumpRoot)
      assert(dataFiles == files2, "deletes-only refresh must not touch the dump")
      val e3 = entry
      assert(e3.indexPath == e2.indexPath, "deletes-only refresh must reuse the artifact")
      val afterDel = st.getNearestMatches("vinc", qv333, 5, useIndex = true)
        .select("key").collect().map(_.getString(0))
      assert(afterDel.length == 5 && !afterDel.contains("k333"))

      // UPDATE wave (a pending key already in the dump) -> full re-dump
      // (a dump with two embeddings for one key could serve the stale
      // one, and an id-tombstone would kill both) and the fresh index
      // serves the UPDATED vector
      val qv450 = corpus.filter(col("vec_id") === 450).select("embedding")
        .head().getSeq[Float](0).toArray
      st.upsertBatch("vinc", corpus.filter(col("vec_id") === 450)
        .select(lit("k5").as("key"), col("embedding")))
      st.buildIndex("vinc", nCentroids = 8, nProbe = 6, dir = dumpRoot)
      val files4 = dataFiles
      assert((files4 & files2).isEmpty, "update wave must re-dump in full")
      assert(spark.read.parquet(dump).count() == 359) // 360 - k333, k5 updated in place
      assert(st.getNearestMatches("vinc", qv450, 1, useIndex = true)
        .select("key").head().getString(0) == "k5",
        "updated embedding must serve from the refreshed index")
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("a dump dir rewritten by a foreign process forces a full re-dump, never an append (ADVICE r15)") {
    // the incremental gate's in-memory journal cannot see another
    // store/process rewriting the shared dump dir under the same
    // collection name; without the fingerprint check the next insert
    // wave would EXTEND the foreign dump and the index would serve
    // another collection's rows
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    val dumpRoot = scratchDir("graft-store-foreigndump")
    try {
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      def slice(lo: Int, hi: Int) =
        corpus.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select(concat(lit("k"), col("vec_id")).as("key"), col("embedding"))
      val dump = s"$dumpRoot/${MerkonStore.pathSafe("vforeign")}"
      st.upsertBatch("vforeign", slice(0, 100))
      st.buildIndex("vforeign", nCentroids = 4, nProbe = 4, dir = dumpRoot)
      // foreign rewrite: another process replaces the dump wholesale
      // (marker and journal state still look append-eligible to st)
      slice(500, 520)
        .select(concat(lit("foreign-"), col("key")).as("key"), col("embedding"))
        .write.mode("overwrite").parquet(dump)
      st.upsertBatch("vforeign", slice(100, 110))
      st.buildIndex("vforeign", nCentroids = 4, nProbe = 4, dir = dumpRoot)
      val dumped = spark.read.parquet(dump).select("key").collect()
        .map(_.getString(0)).toSet
      assert(dumped.size == 110 && !dumped.exists(_.startsWith("foreign-")),
        s"foreign dump extended instead of re-dumped: ${dumped.take(5)}")
      val qv = corpus.filter(col("vec_id") === 105).select("embedding")
        .head().getSeq[Float](0).toArray
      assert(st.getNearestMatches("vforeign", qv, 1, useIndex = true)
        .select("key").head().getString(0) == "k105")
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("getNearestMatchesBatch: query-table kNN through the store's index, delete-aware") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    try {
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      st.upsertBatch("vbatch", corpus.select(
        concat(lit("k"), col("vec_id")).as("key"), col("embedding")))
      intercept[IllegalArgumentException] {
        st.getNearestMatchesBatch("vbatch",
          corpus.select(col("vec_id").as("q_id"),
            col("embedding").as("q_emb")), 3)
      }
      st.buildIndex("vbatch", nCentroids = 8, nProbe = 8)
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val rows = st.getNearestMatchesBatch("vbatch", queries, 3)
        .select("q_id", "rank", "key", "metadata", "score").collect()
      assert(rows.length == 15, s"expected |Q|*k rows, got ${rows.length}")
      // full probe (p = c = 8): every query's own key is its rank-1 hit,
      // exact score 1.0
      (0L until 5L).foreach { q =>
        val top = rows.filter(r => r.getLong(0) == q && r.getInt(1) == 1)
        assert(top.length == 1 && top.head.getString(2) == s"k$q")
        assert(top.head.getDouble(4) > 0.999999)
      }
      // a removed key drops out with full-k backfill (the probe filters
      // tombstones BEFORE top-k, so the result stays |Q|*k)
      st.removeBatch("vbatch", Seq("k0"))
      val after = st.getNearestMatchesBatch("vbatch", queries, 3)
        .select("q_id", "key").collect()
      assert(after.length == 15)
      assert(!after.exists(_.getString(1) == "k0"),
        "removed key surfaced through the batch probe")
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("getNearestMatchesBatch(predicate): in-slice only, never starved, string keys restored") {
    // the FILTERED batch form (VERDICT r15 ask #3) through the store
    // facade: the predicate's key allow-list pre-filters the candidate
    // side, so a ~selective slice still fills k and no out-of-slice
    // record ever surfaces — the batch twin of
    // getNearestMatches(predicate)
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    try {
      val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      st.upsertBatch("vfbatch", corpus.select(
        concat(lit("k"), col("vec_id")).as("key"), col("embedding")))
      st.buildIndex("vfbatch", nCentroids = 8, nProbe = 4)
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      // slice = keys ending in an even digit (~half the collection) —
      // the same predicate shape as the single-query filtered test
      val pred = col("key").substr(-1, 1).isin("0", "2", "4", "6", "8")
      val rows = st.getNearestMatchesBatch("vfbatch", queries, 3,
        predicate = Some(pred)).select("q_id", "rank", "key").collect()
      assert(rows.length == 15, s"filtered batch starved: ${rows.length}/15")
      assert(rows.forall(r => "02468".contains(r.getString(2).last)),
        "out-of-slice record surfaced through the filtered batch probe")
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("store refresh rides the geometry band: within-band growth appends, crossing rebuilds") {
    // the DERIVED-geometry form of the O(delta) refresh: while ingest
    // stays inside a centroidsFor band the derived cell count is
    // unchanged, so upsert-then-buildIndex appends against frozen
    // centroids (only the nProbe sidecar recalibrates); crossing the
    // band re-derives a larger quantizer and rebuilds — the store-facade
    // twin of GeometryGrowthSpec's ml-level contract
    import org.apache.spark.sql.functions.{array, col, concat, lit, pmod, xxhash64}
    val st = newStore
    val dumpRoot = scratchDir("graft-store-band")
    try {
      assert(graft.ml.IvfGeometry.centroidsFor(1500) == 16)
      assert(graft.ml.IvfGeometry.centroidsFor(2000) == 16)
      assert(graft.ml.IvfGeometry.centroidsFor(3000) == 32)
      def batch(from: Int, until: Int) = spark.range(from, until).select(
        concat(lit("k"), col("id")).as("key"),
        array((0 until 8).map(d =>
          ((pmod(xxhash64(col("id") * (d + 1) + d), lit(1000)) / 500.0) - 1.0)
            .cast("float")): _*).as("embedding"))
      val dump = s"$dumpRoot/${MerkonStore.pathSafe("vband")}"
      def entry = graft.plans.AnnIndexRegistry.lookup(dump).get
      def centroidsOf(e: graft.plans.AnnIndexRegistry.Entry) =
        e.centroids.map { case (c, a) => (c, a.toSeq) }.toSeq

      st.upsertBatch("vband", batch(0, 1500))
      st.buildIndex("vband", dir = dumpRoot) // derived geometry
      val e1 = entry
      assert(e1.centroids.length == 16)

      // within-band growth: derived c unchanged -> frozen-centroid append
      st.upsertBatch("vband", batch(1500, 2000))
      st.buildIndex("vband", dir = dumpRoot)
      val e2 = entry
      assert(e2.centroids.length == 16)
      assert(centroidsOf(e2) == centroidsOf(e1),
        "within-band store refresh must ride the append path")
      assert(spark.read.parquet(s"${e2.indexPath}/assigned").count() == 2000)

      // band-crossing growth: c re-derives to 32 -> rebuild
      st.upsertBatch("vband", batch(2000, 3000))
      st.buildIndex("vband", dir = dumpRoot)
      val e3 = entry
      assert(e3.centroids.length == 32,
        "band crossing must re-derive the quantizer")
      assert(spark.read.parquet(s"${e3.indexPath}/assigned").count() == 3000)
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  /** `body`'s result and the Spark jobs it ran, counted by a listener
    * scoped to one job group on this thread. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsOf")
    try {
      val a = body
      org.apache.spark.GraftTestBus.drain(sc)
      (a, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("indexed top-k: no job while planning, 2 jobs to run (3 with tombstones), same rows as the unbounded plan") {
    import graft.functions.VectorFunctions.cosineSim
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{broadcast, col, concat, lit}
    val st = newStore
    val dumpRoot = scratchDir("graft-store-jobs")
    try {
      val corpus = spark.read.parquet(s"$sf0_001/embeddings.parquet")
      def slice(lo: Int, hi: Int) =
        corpus.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select(concat(lit("k"), col("vec_id")).as("key"), col("embedding"))
      def vec(id: Int) = corpus.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).toArray
      val q = vec(5)
      st.upsertBatch("vj", slice(0, 400))
      // three more records carry k5's embedding: a four-way tie at 1.0
      st.upsertBatch("vj", corpus.filter(col("vec_id") === 5).crossJoin(
          spark.range(3).select(concat(lit("t"), col("id")).as("key")))
        .select(col("key"), col("embedding")))
      // compact as a service does after a write: the fetch then reads a
      // checkpoint, not the keep-latest window over the upserts
      st.compact("vj")
      st.buildIndex("vj", nCentroids = 8, nProbe = 3, dir = dumpRoot)
      val dump = s"$dumpRoot/${MerkonStore.pathSafe("vj")}"
      assert(spark.read.parquet(dump).schema == MerkonStore.dumpSchema)

      // the earlier spelling: inferred dump read, unbounded global sort
      def unbounded(limit: Int, minScore: Double, predicate: Option[Column]) = {
        val idx = spark.read.parquet(dump)
        val live = st.getAll("vj")
        val topk = predicate
          .fold(idx)(p => idx.join(live.filter(p).select("key"), Seq("key"), "left_semi"))
          .withColumn("score", cosineSim(col("embedding"), lit(q)))
          .filter(col("score") >= minScore)
          .orderBy(col("score").desc, col("key").asc)
          .limit(limit)
          .select(col("key"), col("score"))
        live.join(broadcast(topk), Seq("key")).drop("embedding")
          .orderBy(col("score").desc, col("key").asc)
      }
      def served(what: String, maxJobs: Int, limit: Int = 10,
          minScore: Double = 0.0, predicate: Option[Column] = None) = {
        val (df, planJobs) = jobsOf(st.getNearestMatches("vj", q, limit,
          minScore, useIndex = true, predicate = predicate))
        val (_, optJobs) = jobsOf(df.queryExecution.optimizedPlan)
        assert(planJobs == 0 && optJobs == 0,
          s"$what: $planJobs jobs building the plan, $optJobs optimizing it")
        val (rows, runJobs) = jobsOf(df.collect().toSeq)
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("rangepartitioning"), s"$what: global sort\n$plan")
        // a predicate's allow-list runs its own jobs over the dump, which
        // the rewrite does not serve
        if (predicate.isEmpty) {
          assert(runJobs <= maxJobs, s"$what: $runJobs jobs, expected <= $maxJobs")
          assert(plan.contains("emb:array<float>"), s"$what: not index-served\n$plan")
        }
        val old = unbounded(limit, minScore, predicate)
        assert(rows == old.collect().toSeq, s"$what: rows differ from the unbounded plan")
        assert(df.schema == old.schema)
        rows.map(_.getAs[String]("key"))
      }

      assert(served("no tombstones", 2).length == 10)
      assert(served("tied scores", 2, limit = 2) == Seq("k5", "t0"))
      val few = served("limit above the result", 2, limit = 50, minScore = 0.9)
      assert(few.length >= 4 && few.length < 50, few)
      val inSlice = served("predicate", 2, predicate = Some(col("key") > lit("k3")))
      assert(inSlice.nonEmpty && inSlice.forall(_ > "k3"), inSlice)
      assert(unbounded(10, 0.0, None).queryExecution.executedPlan.toString
        .contains("rangepartitioning"), "the unbounded plan should sort globally")

      st.removeBatch("vj", Seq("k5", "t1"))
      st.compact("vj")
      val afterRemove = served("after removeBatch", 3)
      assert(afterRemove.take(2) == Seq("t0", "t2"), afterRemove)
      st.compactIndex("vj")
      assert(served("after compactIndex", 2) == afterRemove)
      st.upsertBatch("vj", slice(400, 450))
      st.compact("vj")
      st.buildIndex("vj", nCentroids = 8, nProbe = 3, dir = dumpRoot)
      served("after an append refresh", 3)
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  /** The data files of an artifact's `assigned` table, by cell dir and
    * name: part-file names are job-unique, so a name both artifacts hold
    * is a file the grown one hardlinked. */
  private def assignedFiles(artifact: String): Set[String] =
    Option(new java.io.File(artifact, "assigned").listFiles()).toSeq.flatten
      .filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).toSeq.flatten
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .map(f => s"${d.getName}/${f.getName}"))
      .toSet

  test("a key deleted before it was ever dumped: no dump write while it stays deleted, the rewrite grow once upserted again") {
    // the sidecar leg of linkAppend's overlap probe: Y is not in the
    // published key table, only in its tombstone sidecar, so hardlinking
    // that sidecar into the grown artifact would keep Y dead there
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    val dumpRoot = scratchDir("graft-store-readd")
    try {
      val corpus = spark.read.parquet(s"$sf0_001/embeddings.parquet")
      def slice(lo: Int, hi: Int) =
        corpus.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select(concat(lit("k"), col("vec_id")).as("key"), col("embedding"))
      val dump = s"$dumpRoot/${MerkonStore.pathSafe("vre")}"
      def entry = graft.plans.AnnIndexRegistry.lookup(dump).get
      def dumpFiles: Set[String] = new java.io.File(dump).listFiles().toSeq
        .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
        .toSet
      st.upsertBatch("vre", slice(0, 200))
      st.buildIndex("vre", nCentroids = 4, nProbe = 4, dir = dumpRoot)
      val parent = entry.indexPath
      val files = dumpFiles

      // an insert-only wave whose delta is empty leaves the dump and the
      // artifact as they were
      st.upsertBatch("vre", slice(250, 251))
      st.removeBatch("vre", Seq("k250"))
      st.buildIndex("vre", nCentroids = 4, nProbe = 4, dir = dumpRoot)
      assert(dumpFiles == files, "an empty delta must write no dump file")
      assert(entry.indexPath == parent)

      st.upsertBatch("vre", slice(300, 301))
      st.removeBatch("vre", Seq("k300"))
      st.upsertBatch("vre", slice(300, 301))
      st.buildIndex("vre", nCentroids = 4, nProbe = 4, dir = dumpRoot)
      val grown = entry.indexPath
      assert(grown != parent, "the re-added key must grow the artifact")
      assert(assignedFiles(parent).nonEmpty &&
        (assignedFiles(parent) & assignedFiles(grown)).isEmpty,
        "a key on the published sidecar must take the rewrite, not the hardlinks")
      val qv = corpus.filter(col("vec_id") === 300).select("embedding")
        .head().getSeq[Float](0).toArray
      assert(st.getNearestMatches("vre", qv, 1, useIndex = true)
        .select("key").head().getString(0) == "k300")
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("refresh job budget: an insert-only buildIndex runs at most 13 jobs, a deletes-only one at most 2") {
    // the insert refresh decides its wave in one probe, writes the delta
    // without a checkpoint, reads the artifact's known schemas and probes
    // the key table and the sidecar for overlap together
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    val dumpRoot = scratchDir("graft-store-refresh-jobs")
    try {
      val corpus = spark.read.parquet(s"$sf0_001/embeddings.parquet")
      def slice(lo: Int, hi: Int) =
        corpus.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select(concat(lit("k"), col("vec_id")).as("key"), col("embedding"))
      val dump = s"$dumpRoot/${MerkonStore.pathSafe("vrj")}"
      def entry = graft.plans.AnnIndexRegistry.lookup(dump).get
      st.upsertBatch("vrj", slice(0, 400))
      st.compact("vrj")
      st.buildIndex("vrj", nCentroids = 8, nProbe = 3, dir = dumpRoot)
      val base = entry.indexPath

      // a wave as a service runs it: insert, delete, compact, refresh
      st.upsertBatch("vrj", slice(400, 450))
      st.removeBatch("vrj", Seq("k3", "k4"))
      st.compact("vrj")
      val (_, insertJobs) = jobsOf(
        st.buildIndex("vrj", nCentroids = 8, nProbe = 3, dir = dumpRoot))
      val grown = entry.indexPath
      assert(grown != base && assignedFiles(base).subsetOf(assignedFiles(grown)),
        "an insert-only wave must take the link-append grow")
      assert(spark.read.parquet(s"$grown/assigned").count() == 450)

      st.removeBatch("vrj", Seq("k420"))
      st.compact("vrj")
      val (_, deleteJobs) = jobsOf(
        st.buildIndex("vrj", nCentroids = 8, nProbe = 3, dir = dumpRoot))
      assert(entry.indexPath == grown, "a deletes-only refresh reuses the artifact")
      assert(insertJobs <= 13 && deleteJobs <= 2,
        s"insert-only refresh ran $insertJobs jobs (budget 13), " +
          s"deletes-only $deleteJobs (budget 2)")
    } finally graft.plans.AnnIndexRegistry.clear()
  }

  test("refresh job budget, derived geometry: an insert-only buildIndex grows the calibration from the delta, in at most 14 jobs") {
    // the serve shape: the store calibrates nProbe itself, so an insert
    // refresh also recalibrates the grown artifact; the parent's anchors
    // are scored against the delta alone, and the append's centroid
    // collect serves the registration too
    import org.apache.spark.sql.functions.{col, concat, lit}
    val st = newStore
    val dumpRoot = scratchDir("graft-store-refresh-derived")
    try {
      val corpus = spark.read.parquet(s"$sf0_001/embeddings.parquet")
      def slice(lo: Int, hi: Int) =
        corpus.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select(concat(lit("k"), col("vec_id")).as("key"), col("embedding"))
      val dump = s"$dumpRoot/${MerkonStore.pathSafe("vrd")}"
      def entry = graft.plans.AnnIndexRegistry.lookup(dump).get
      st.upsertBatch("vrd", slice(0, 400))
      st.compact("vrd")
      st.buildIndex("vrd", dir = dumpRoot)
      val base = entry

      st.upsertBatch("vrd", slice(400, 450))
      st.removeBatch("vrd", Seq("k3", "k4"))
      st.compact("vrd")
      val (_, insertJobs) = jobsOf(st.buildIndex("vrd", dir = dumpRoot))
      val grown = entry
      assert(grown.indexPath != base.indexPath &&
        assignedFiles(base.indexPath).subsetOf(assignedFiles(grown.indexPath)),
        "an insert-only wave must take the link-append grow")
      assert(grown.centroids.length == base.centroids.length && grown.servedK == 10)
      info(s"derived-geometry insert-only refresh: $insertJobs jobs")
      assert(insertJobs <= 14,
        s"derived-geometry insert-only refresh ran $insertJobs jobs (budget 14)")
    } finally graft.plans.AnnIndexRegistry.clear()
  }
}
