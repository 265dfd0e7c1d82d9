package graft.plans

import graft.SparkTestBase
import graft.functions.VectorFunctions.cosineSim
import graft.ml.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The ANN rewrite rule must serve the flagship literal-query kNN pattern
 * from the registered IVF index (cell-partition-pruned scan), leave every
 * unregistered or differently-shaped plan exact, and honor the
 * kill-switch.
 */
class AnnRewriteSpec extends AnyFunSuite with SparkTestBase {

  private def src = s"$sf0_001/embeddings.parquet"
  private def corpus = spark.read.parquet(src)

  private def queryVec(id: Long): Array[Float] =
    corpus.filter(col("vec_id") === id).select("embedding")
      .head().getSeq[Float](0).toArray

  /** The reference-shaped flagship plan: literal query vector, cosine
    * score, threshold, descending top-k (MerkonMemoryStore.cs:117-150). */
  private def flagship(qv: Array[Float], k: Int): DataFrame =
    corpus.select(col("vec_id"), col("embedding"))
      .withColumn("score", cosineSim(col("embedding"), lit(qv)))
      .filter(col("score") >= 0.0)
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)

  test("registered literal-kNN rewrites to a cell-pruned index scan; recall >= 0.9") {
    // nProbe 6/8 for k=10 on the uniform-random corpus (IVF's worst case
    // — no cluster structure; the registered nProbe is the caller's
    // recall/cost dial, same tradeoff as IvfIndex.search)
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 6)
    try {
      AnnIndexRegistry.register(spark, ivf, src, "vec_id", "embedding", nProbe = 6)

      val qv = queryVec(0L)
      val plan = flagship(qv, 10).queryExecution.executedPlan.toString
      // the corpus scan is GONE; the index's assigned table is scanned
      // with a partition filter on cell (5 of 8 cells)
      assert(plan.contains("assigned"), plan.take(3000))
      assert(plan.contains("cell"), plan.take(3000))
      assert(!plan.contains("embeddings.parquet"),
        "rewritten plan must not scan the original corpus")

      // recall against the exact plan (kill-switch = ground truth)
      val qs = (0L until 20L).map(queryVec)
      spark.conf.set(AnnIndexRule.ConfKey, "false")
      val exact = try qs.map(q => flagship(q, 10).select("vec_id")
          .collect().map(_.getLong(0)).toSet)
        finally spark.conf.unset(AnnIndexRule.ConfKey)
      val approx = qs.map(q => flagship(q, 10).select("vec_id")
        .collect().map(_.getLong(0)).toSet)
      val recall = approx.zip(exact)
        .map { case (a, e) => (a & e).size.toDouble / e.size }.sum / exact.size
      assert(recall >= 0.9, s"rewrite recall $recall")
      // scores/ordering of surfaced rows are EXACT (the rewrite only
      // narrows the candidate set): every approx hit that is also an
      // exact hit carries the identical score
      val aRows = flagship(queryVec(3L), 10).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      spark.conf.set(AnnIndexRule.ConfKey, "false")
      val eRows = try flagship(queryVec(3L), 10).collect()
          .map(r => r.getLong(0) -> r.getDouble(2)).toMap
        finally spark.conf.unset(AnnIndexRule.ConfKey)
      aRows.keySet.intersect(eRows.keySet).foreach { id =>
        assert(aRows(id) == eRows(id)) }
    } finally AnnIndexRegistry.clear()
  }

  test("tombstoned ids never surface through the rewritten plan") {
    import spark.implicits._
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 8)
    try {
      val entry = AnnIndexRegistry.register(spark, ivf, src,
        "vec_id", "embedding", nProbe = 8)
      val qv = queryVec(5L)
      assert(flagship(qv, 1).select("vec_id").head().getLong(0) == 5L)
      // delete id 5 at the published index (the store's RemoveAsync path)
      Seq(5L).toDF("id").coalesce(1).write.mode("overwrite")
        .parquet(s"${entry.indexPath}/tombstones")
      try {
        val top = flagship(qv, 10).select("vec_id").collect().map(_.getLong(0))
        assert(!top.contains(5L), "tombstoned id surfaced through the rewrite")
        assert(top.nonEmpty)
      } finally {
        val t = new org.apache.hadoop.fs.Path(s"${entry.indexPath}/tombstones")
        t.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(t, true)
      }
    } finally AnnIndexRegistry.clear()
  }

  /** The naive FILTERED flagship: metadata predicate under the sort. */
  private def filteredFlagship(qv: Array[Float], k: Int): DataFrame =
    corpus.select(col("vec_id"), col("label"), col("embedding"))
      .filter(col("label") % 4 === 1)
      .withColumn("score", cosineSim(col("embedding"), lit(qv)))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)

  test("filtered flagship rides the payload-carrying index; unregistered predicate column falls back") {
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 6)
    try {
      // payload NOT registered: the label predicate must keep the exact scan
      AnnIndexRegistry.register(spark, ivf, src, "vec_id", "embedding", nProbe = 6)
      assert(filteredFlagship(queryVec(0L), 10).queryExecution.executedPlan
        .toString.contains("embeddings.parquet"),
        "filtered plan must stay exact when the predicate column is not carried")

      // payload registered: the filtered plan scans the augmented table
      AnnIndexRegistry.register(spark, ivf, src, "vec_id", "embedding",
        nProbe = 6, payloadCols = Seq("label"))
      val plan = filteredFlagship(queryVec(0L), 10)
        .queryExecution.executedPlan.toString
      assert(plan.contains("augmented"), plan.take(3000))
      assert(!plan.contains("embeddings.parquet"),
        "rewritten filtered plan must not scan the original corpus")

      // every surfaced row satisfies the predicate (pre-filter contract)
      val rows = filteredFlagship(queryVec(0L), 10).collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getInt(1) % 4 == 1))

      // recall vs the exact filtered plan (kill-switch = ground truth)
      val qs = (0L until 20L).map(queryVec)
      spark.conf.set(AnnIndexRule.ConfKey, "false")
      val exact = try qs.map(q => filteredFlagship(q, 10).select("vec_id")
          .collect().map(_.getLong(0)).toSet)
        finally spark.conf.unset(AnnIndexRule.ConfKey)
      val approx = qs.map(q => filteredFlagship(q, 10).select("vec_id")
        .collect().map(_.getLong(0)).toSet)
      val recall = approx.zip(exact)
        .map { case (a, e) => (a & e).size.toDouble / e.size }.sum / exact.size
      assert(recall >= 0.9, s"filtered rewrite recall $recall")

      // the UNfiltered flagship still rides the plain assigned table
      val plain = flagship(queryVec(0L), 10).queryExecution.executedPlan.toString
      assert(plain.contains("assigned") && !plain.contains("embeddings.parquet"))
    } finally AnnIndexRegistry.clear()
  }

  test("compaction drops the stale augmented sidecar; filtered plans fall back, re-register restores") {
    import spark.implicits._
    // private copy of the corpus: this test mutates the published index
    val dir = scratchDir("aug-compact")
    corpus.write.parquet(s"$dir/corpus")
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 8)
    try {
      val entry = AnnIndexRegistry.register(spark, ivf, s"$dir/corpus",
        "vec_id", "embedding", nProbe = 8, cacheRoot = s"$dir/cache",
        payloadCols = Seq("label"))
      // pick an in-filter id we can kill, then verify it surfaces first
      val qv = queryVec(1L)
      def top(): Seq[Long] = filteredFlagshipOn(s"$dir/corpus", qv, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val victim = top().head
      // delete it (RemoveAsync path), still served from augmented via
      // the tombstone anti-join
      Seq(victim).toDF("id").coalesce(1).write.mode("overwrite")
        .parquet(s"${entry.indexPath}/tombstones")
      assert(!top().contains(victim), "tombstoned id surfaced via augmented")
      // the plan display truncates long file paths, so key on the index
      // table's ReadSchema spelling (id/emb) rather than the dir name —
      // the corpus scan would read vec_id/embedding instead
      assert(filteredFlagshipOn(s"$dir/corpus", qv, 10).queryExecution
        .executedPlan.toString.contains("emb:array"))
      // compaction folds tombstones into `assigned` and MUST invalidate
      // the stale augmented sidecar — otherwise the dead row would
      // resurface once the tombstone file is gone
      IvfIndex.compactOnDisk(spark, entry.indexPath)
      val planAfter = filteredFlagshipOn(s"$dir/corpus", qv, 10)
        .queryExecution.executedPlan.toString
      assert(!planAfter.contains("emb:array"),
        "filtered plan still reads the dropped augmented sidecar")
      // (the fallback is the EXACT corpus scan, where the victim row
      // legitimately still exists — index deletes are index-view state;
      // the store's remove path also deletes from the collection)
      // re-register re-materializes augmented from the compacted cells
      AnnIndexRegistry.register(spark, ivf, s"$dir/corpus",
        "vec_id", "embedding", nProbe = 8, cacheRoot = s"$dir/cache",
        payloadCols = Seq("label"))
      val planBack = filteredFlagshipOn(s"$dir/corpus", qv, 10)
        .queryExecution.executedPlan.toString
      assert(planBack.contains("emb:array"))
      assert(!top().contains(victim))
    } finally AnnIndexRegistry.clear()
  }

  /** [[flagship]] over an arbitrary corpus path. */
  private def flagshipOn(path: String, qv: Array[Float], k: Int): DataFrame =
    spark.read.parquet(path)
      .select(col("vec_id"), col("embedding"))
      .withColumn("score", cosineSim(col("embedding"), lit(qv)))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)

  test("remote-scheme corpus registers with the listing signature; rewrite serves; change falls back (r17)") {
    // the ANN twin of the rollup remote-guard spec: the pre-r17 guard
    // signed any non-file scheme "" (unguarded), so a remote corpus
    // served session-local with no staleness story; the locality-aware
    // resolver signs through the path's own FileSystem and the whole
    // lifecycle — index job, content-keyed cache, registration,
    // serve-time re-check — runs over the scheme.
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[graft.util.GraftTestFs].getName)
    val local = scratchDir("graft_ann_remote_src")
    corpus.write.mode("overwrite").parquet(local)
    val remote = s"graftfs:$local"
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 8) // full probe: exact
    try {
      AnnIndexRegistry.clear()
      val e = AnnIndexRegistry.register(spark, ivf, remote,
        "vec_id", "embedding", nProbe = 8)
      assert(e.sourceFp.startsWith("h1:"),
        s"remote corpus must carry the listing signature, got '${e.sourceFp}'")
      spark.conf.set(AnnIndexRule.StaleCheckMsKey, "0")
      val qv = queryVec(3L)
      val served = flagshipOn(remote, qv, 10)
      assert(served.queryExecution.executedPlan.toString.contains("emb:array"),
        "guarded remote registration must serve the rewrite")
      // full-probe serve is EXACT — same rows as the unregistered scan
      val ids = served.collect().map(_.getLong(0)).toSeq
      spark.conf.set(AnnIndexRule.ConfKey, "false")
      val exact =
        try flagshipOn(remote, qv, 10).collect().map(_.getLong(0)).toSeq
        finally spark.conf.unset(AnnIndexRule.ConfKey)
      assert(ids == exact, s"remote-served rows drifted: $ids vs $exact")
      // the remote corpus changes: serve-time re-check deregisters and
      // the flagship falls back to the exact scan over the NEW corpus
      corpus.limit(5).withColumn("vec_id", col("vec_id") + 100000L)
        .write.mode("append").parquet(remote)
      assert(!flagshipOn(remote, qv, 10).queryExecution.executedPlan
        .toString.contains("emb:array"),
        "stale remote index served after the corpus changed")
    } finally {
      spark.conf.unset(AnnIndexRule.StaleCheckMsKey)
      AnnIndexRegistry.clear()
    }
  }

  test("in-place corpus rewrite WITHOUT re-register falls back to the exact scan (staleness guard)") {
    // the r14 stale-serve hazard (VERDICT ask #2): the registry keyed on
    // path only, so a corpus rewritten in place without a re-register
    // silently served the OLD corpus's rows. lookupFresh re-checks the
    // registered content fingerprint at serve time (TTL-cached; 0 here =
    // every serve) and deregisters on drift — fallback, not stale rows.
    val dir = scratchDir("graft-stale-src")
    val srcPath = s"$dir/corpus"
    // a PARTITIONED corpus (files in subdirectories) — the fingerprint
    // must see nested data files or the guard is blind to exactly the
    // layout a partitioned 100 TB corpus uses (r15 review)
    corpus.filter(col("vec_id") < 400)
      .withColumn("part", col("vec_id") % 4)
      .write.partitionBy("part").parquet(srcPath)
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 6)
    try {
      AnnIndexRegistry.register(spark, ivf, srcPath, "vec_id", "embedding",
        nProbe = 6, cacheRoot = s"$dir/cache")
      spark.conf.set(AnnIndexRule.StaleCheckMsKey, "0")
      val qv = queryVec(0L)
      assert(flagshipOn(srcPath, qv, 5).queryExecution.executedPlan.toString
        .contains("emb:array"), "registered corpus must serve from the index")
      // rewrite the corpus in place — DIFFERENT rows, NO re-register
      corpus.filter(col("vec_id") >= 400)
        .withColumn("part", col("vec_id") % 4)
        .write.mode("overwrite").partitionBy("part").parquet(srcPath)
      val df = flagshipOn(srcPath, qv, 5)
      assert(!df.queryExecution.executedPlan.toString.contains("emb:array"),
        "stale index served after an in-place corpus rewrite")
      // the exact scan reads the NEW corpus: every id is >= 400, and the
      // drifted registration is gone
      val ids = df.select("vec_id").collect().map(_.getLong(0))
      assert(ids.nonEmpty && ids.forall(_ >= 400L),
        s"rows from the old corpus surfaced: ${ids.mkString(",")}")
      assert(AnnIndexRegistry.lookup(srcPath).isEmpty,
        "drifted registration must deregister")
    } finally {
      spark.conf.unset(AnnIndexRule.StaleCheckMsKey)
      AnnIndexRegistry.clear()
    }
  }

  test("the codes-table serve reads every IVF-PQ table with its registered schema: no inference job while planning") {
    val dir = scratchDir("graft-pq-schemas")
    val srcPath = s"$dir/corpus"
    corpus.write.parquet(srcPath)
    val sc = spark.sparkContext
    val group = s"pq-serve-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    try {
      spark.conf.set(AnnIndexRule.PqMinBytesKey, "0")
      val entry = AnnIndexRegistry.indexJob(spark, srcPath, "vec_id",
        "embedding", new IvfIndex(nCentroids = 8, nProbe = 6), servedK = 0)
      assert(entry.pq.map(_.schemas.keySet).contains(
        Set("codedCell", "embById", "tombstones")), entry.pq.map(_.schemas))
      // both artifacts get a tombstone sidecar, so the serve reads four
      // IVF-PQ-side tables: probed cells, its sidecar, the registered
      // sidecar and the embedding fetch table
      AnnIndexRegistry.tombstone(spark, entry,
        spark.range(1).select((col("id") + 3).as("id")))
      val q = flagshipOn(srcPath, queryVec(0L), 5)
      sc.addSparkListener(listener)
      sc.setJobGroup(group, "plan")
      try {
        q.queryExecution.optimizedPlan
        org.apache.spark.GraftTestBus.drain(sc)
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      // the fetch table's 64 bucket directories are listed in one
      // parallel job; every table's schema is the registered one
      import scala.jdk.CollectionConverters._
      val inferring = started.asScala.filterNot(_.startsWith("Listing leaf files"))
      assert(inferring.isEmpty, s"jobs while planning the served top-k: $inferring")
      assert(q.queryExecution.executedPlan.toString.contains("codes:array"),
        "the family pick must serve the codes table")
      val ids = q.select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(ids.head == 0L && !ids.contains(3L), ids)
    } finally {
      spark.conf.unset(AnnIndexRule.PqMinBytesKey)
      AnnIndexRegistry.deregister(srcPath)
      AnnIndexRegistry.clear()
    }
  }

  test("a fresh session rehydrates the persisted registration; deregister revokes it durably") {
    // VERDICT r14 ask #4: registrations were driver-JVM state, so a
    // fresh SQL session had to re-CALL build_index before its flagship
    // rode the index. register() now persists a record beside the
    // artifact (default cache root) and the rule rehydrates on a
    // lookup miss — validated against the LIVE source fingerprint, so a
    // stale record can never serve. Includes the IVF-PQ sibling: the
    // whole Entry (codebooks, shape, corpus rows) round-trips.
    val dir = scratchDir("graft-rehydrate")
    val srcPath = s"$dir/corpus"
    corpus.write.parquet(srcPath)
    try {
      // force the family pick so the rehydrated PqFamily is exercised
      spark.conf.set(AnnIndexRule.PqMinBytesKey, "0")
      val ivf = new IvfIndex(nCentroids = 8, nProbe = 6)
      AnnIndexRegistry.indexJob(spark, srcPath, "vec_id", "embedding", ivf,
        servedK = 0)
      val qv = queryVec(0L)
      def plan(): String =
        flagshipOn(srcPath, qv, 5).queryExecution.executedPlan.toString
      assert(plan().contains("codes:array"), "family pick must serve codes")

      // "fresh session": the JVM registry is gone, the record survives
      AnnIndexRegistry.clear()
      assert(AnnIndexRegistry.lookup(srcPath).isEmpty)
      assert(plan().contains("codes:array"),
        "flagship must rehydrate the persisted registration (incl. the " +
          "IVF-PQ sibling) without a re-register")
      assert(AnnIndexRegistry.lookup(srcPath).isDefined)
      assert(flagshipOn(srcPath, qv, 5).select("vec_id").head().getLong(0) == 0L)

      // durable revocation: deregister removes the persisted record too,
      // so the next matched plan keeps the exact scan instead of
      // resurrecting the registration
      AnnIndexRegistry.deregister(srcPath)
      val p = plan()
      assert(!p.contains("codes:array") && !p.contains("emb:array"),
        "deregistered path must stay exact (record not revoked?)")
    } finally {
      spark.conf.unset(AnnIndexRule.PqMinBytesKey)
      AnnIndexRegistry.deregister(srcPath)
      AnnIndexRegistry.clear()
    }
  }

  test("indexedKnnJoin: query-table kNN rides a cell equi-join, never a nested-loop join") {
    // the batch bulk-scoring path (VERDICT r14 ask #3): the rule serves
    // literal-query plans only, so a query TABLE goes through map-side
    // centroid routing + ONE equi-join on cell against the persisted
    // cell-partitioned table — at 100 TB each query's candidates shuffle
    // to its own cells; |Q| × corpus never materializes
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 4)
    try {
      AnnIndexRegistry.register(spark, ivf, src, "vec_id", "embedding",
        nProbe = 4)
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val df = AnnIndexRegistry.indexedKnnJoin(spark, src, queries, k = 3)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan.take(3000))
      assert(plan.contains("Join [cell#") || plan.contains("Join [cast(cell#"),
        s"candidate join must be an equi-join on cell:\n${plan.take(3000)}")
      // |Q| × k cardinality and agreement with the per-query driver
      // routing of IvfIndex.search over the same artifact/width
      val rows = df.collect()
      assert(rows.length == 30)
      val built = IvfIndex.load(spark,
        AnnIndexRegistry.lookup(src).get.indexPath)
      val expect = new IvfIndex(8, 4).search(built,
          corpus.filter(col("vec_id") < 10), "vec_id", "embedding", 3)
        .select("q_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        == expect, "batch join must agree with per-query index search")
    } finally AnnIndexRegistry.clear()
  }

  test("indexedKnnJoin(allowedIds): pre-filter soundness, no starvation, no BNLJ, per-query agreement") {
    // the FILTERED batch form (VERDICT r15 ask #3): the allow-list
    // semi-joins the candidate side BEFORE scoring — every surfaced
    // neighbor is in-slice by construction, and a ~25% slice still
    // fills all k slots (pre-filter, never post-filter-and-truncate)
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 4)
    try {
      AnnIndexRegistry.register(spark, ivf, src, "vec_id", "embedding",
        nProbe = 4)
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val allowed = corpus.filter(col("label") % 4 === 1)
        .select(col("vec_id").as("id"))
      val df = AnnIndexRegistry.indexedKnnJoin(spark, src, queries, k = 3,
        allowedIds = Some(allowed))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan.take(3000))
      assert(plan.contains("Join [cell#") || plan.contains("Join [cast(cell#"),
        s"candidate join must be an equi-join on cell:\n${plan.take(3000)}")
      val rows = df.collect()
      // no starvation: every query fills k from the ~25% slice
      assert(rows.length == 30, s"filtered batch starved: ${rows.length}/30")
      // soundness: every neighbor satisfies the predicate
      val allowSet = allowed.collect().map(_.getLong(0)).toSet
      assert(rows.forall(r => allowSet.contains(r.getLong(2))),
        "out-of-slice neighbor surfaced through the pre-filter")
      // agreement with the single-query filtered contract at the SAME
      // effective width (default filtered over-probe = 2x registered,
      // capped at all cells -> 8 of 8 here)
      val built = IvfIndex.load(spark,
        AnnIndexRegistry.lookup(src).get.indexPath)
      val expect = new IvfIndex(8, 8).searchFiltered(built,
          corpus.filter(col("vec_id") < 10), "vec_id", "embedding", 3, allowed)
        .select("q_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        == expect,
        "filtered batch join must agree with per-query filtered search")
    } finally AnnIndexRegistry.clear()
  }

  test("naive batch kNN-join plan is served from the rewrite rule; fences decline (r16 ask #6)") {
    // the batch twin of the flagship rewrite: the NAIVE bulk-scoring plan
    // (cross join + bare cosine + TopKByScore) over a registered corpus
    // is swapped onto the cell-routed candidate set — no API call in the
    // query. Bare cosine is the intent signal: the house EXACT spellings
    // (knn_join, exactTopK) score through round6 and must never match.
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 4)
    def naive(wrap: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
        : DataFrame =
      corpus.crossJoin(broadcast(corpus.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))))
        .select(col("q_id"), col("vec_id"),
          wrap(cosineSim(col("embedding"), col("q_emb"))).as("cos"))
        .groupBy(col("q_id"))
        .agg(graft.functions.TopKByScore(3)(col("cos"), col("vec_id")).as("hits"))
        .select(col("q_id"), posexplode(col("hits")))
        .select(col("q_id"), (col("pos") + 1).as("rank"),
          col("col.id").as("neighbor_id"), col("col.score").as("cos"))
    try {
      // durable revocation first: an earlier test's PERSISTED registration
      // for this same corpus would otherwise rehydrate into the
      // "unregistered" baseline below
      AnnIndexRegistry.deregister(src)
      AnnIndexRegistry.clear()
      // unregistered: the naive plan stays exact
      assert(!naive(identity).queryExecution.executedPlan.toString
        .contains("emb:array"), "unregistered corpus must keep the exact plan")
      val exact = naive(identity).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      AnnIndexRegistry.register(spark, ivf, src, "vec_id", "embedding",
        nProbe = 4, servedK = 3)
      val served = naive(identity)
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("emb:array"),
        s"registered naive batch plan must ride the index:\n${plan.take(3000)}")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"rewritten batch plan still cross-joins:\n${plan.take(3000)}")
      val rows = served.collect()
      assert(rows.length == 30, s"served batch join returned ${rows.length}/30")
      val recall = rows.map(r => (r.getLong(0), r.getLong(2)))
        .count(exact.contains).toDouble / 30
      assert(recall >= 0.9, s"batch rewrite recall $recall < 0.9")
      // agreement with the API path at the same registered width
      val api = AnnIndexRegistry.indexedKnnJoin(spark, src,
          corpus.filter(col("vec_id") < 10)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
          k = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        == api, "rewrite-served batch join must agree with indexedKnnJoin")
      // fences: the round6 spelling (house exact form) keeps its plan,
      // and the kill switch restores the exact plan for the bare form
      assert(!naive(c => round(c, 6)).queryExecution.executedPlan.toString
        .contains("emb:array"), "round6 exact spelling must never match")
      spark.conf.set(AnnIndexRule.ConfKey, "false")
      try assert(!naive(identity).queryExecution.executedPlan.toString
        .contains("emb:array"), "kill switch must restore the exact plan")
      finally spark.conf.unset(AnnIndexRule.ConfKey)
    } finally AnnIndexRegistry.clear()
  }

  test("indexedKnnJoin over-probes proportionally for k deeper than servedK (r16)") {
    // the rewrite's k-transfer dial on the batch path: a width
    // calibrated for servedK=3 probes ONE ~100-row cell — it cannot
    // even fill k=150 — so the registered-width call must scale
    // ceil(p * k/servedK), capped at all cells
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 1)
    try {
      AnnIndexRegistry.register(spark, ivf, src, "vec_id", "embedding",
        nProbe = 1, servedK = 3)
      val queries = corpus.filter(col("vec_id") < 2)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val deep = AnnIndexRegistry.indexedKnnJoin(spark, src, queries, k = 150)
      assert(deep.count() == 300,
        "deep-k batch join starved on the calibrated width (no over-probe)")
      // the caller's own width is still honored verbatim: one probed
      // cell holds ~1/8 of the corpus and cannot fill k=150
      val verbatim = AnnIndexRegistry.indexedKnnJoin(spark, src, queries,
        k = 150, nProbe = 1)
      assert(verbatim.count() < 300,
        "explicit nProbe must not be silently scaled")
    } finally AnnIndexRegistry.clear()
  }

  /** [[filteredFlagship]] over an arbitrary corpus path. */
  private def filteredFlagshipOn(path: String, qv: Array[Float],
      k: Int): DataFrame =
    spark.read.parquet(path)
      .select(col("vec_id"), col("label"), col("embedding"))
      .filter(col("label") % 4 === 1)
      .withColumn("score", cosineSim(col("embedding"), lit(qv)))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)

  test("the rewrite fires from pure SQL") {
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 6)
    try {
      AnnIndexRegistry.register(spark, ivf, src, "vec_id", "embedding", nProbe = 6)
      graft.functions.VectorFunctions.register(spark)
      corpus.createOrReplaceTempView("ann_sql_spec_corpus")
      val arr = queryVec(0L).map(f => s"CAST($f AS FLOAT)")
        .mkString("array(", ", ", ")")
      val df = spark.sql(
        s"""SELECT vec_id, cosine_similarity(embedding, $arr) AS score
           |FROM ann_sql_spec_corpus
           |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("assigned") && !plan.contains("embeddings.parquet"),
        plan.take(3000))
      assert(df.collect().length == 5)
    } finally AnnIndexRegistry.clear()
  }

  /** The naive THRESHOLD-ONLY flagship: relevance floor + sort, NO limit
    * (the reference's minRelevanceScore path, MerkonMemoryStore.cs:138). */
  private def thresholdFlagship(qv: Array[Float], t: Double): DataFrame =
    corpus.select(col("vec_id"), col("embedding"))
      .withColumn("score", cosineSim(col("embedding"), lit(qv)))
      .filter(col("score") >= t)
      .orderBy(col("score").desc, col("vec_id").asc)

  test("threshold-only plan rides the index with 2x over-probe; recall >= 0.9") {
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 3)
    try {
      AnnIndexRegistry.register(spark, ivf, src, "vec_id", "embedding", nProbe = 3)
      val qv = queryVec(0L)
      val df = thresholdFlagship(qv, 0.3)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("assigned"), plan.take(3000))
      assert(!plan.contains("embeddings.parquet"),
        "threshold plan must not scan the original corpus")
      // over-probe: 2 x nProbe = 6 of 8 cells in the scan's LISTING —
      // the probed set is known at plan time, so the rewrite reads only
      // the probed cell directories instead of partition-filtering the
      // whole table (the k-shaped flagship over the same registration
      // probes 3)
      def probedCells(df: DataFrame): Int =
        AnnRewriteSpec.fileScans(df.queryExecution.executedPlan)
          .map(_.relation.location.rootPaths.count(_.toString.contains("cell=")))
          .sum
      assert(probedCells(df) == 6, s"expected 6 probed cells:\n${plan.take(2000)}")
      assert(probedCells(flagship(qv, 10)) == 3, "expected 3 probed cells")

      // every surfaced row honors the floor (the filter stays in the plan)
      val rows = df.collect()
      assert(rows.forall(_.getDouble(2) >= 0.3))

      // recall vs the exact threshold scan (kill-switch = ground truth)
      val qs = (0L until 20L).map(queryVec)
      spark.conf.set(AnnIndexRule.ConfKey, "false")
      val exact = try qs.map(q => thresholdFlagship(q, 0.3).select("vec_id")
          .collect().map(_.getLong(0)).toSet)
        finally spark.conf.unset(AnnIndexRule.ConfKey)
      val approx = qs.map(q => thresholdFlagship(q, 0.3).select("vec_id")
        .collect().map(_.getLong(0)).toSet)
      // soundness: the rewrite only narrows candidates, never invents
      approx.zip(exact).foreach { case (a, e) => assert((a -- e).isEmpty) }
      val pairs = approx.zip(exact).filter(_._2.nonEmpty)
      val recall = pairs.map { case (a, e) => (a & e).size.toDouble / e.size }
        .sum / pairs.size
      assert(recall >= 0.9, s"threshold rewrite recall $recall")

      // a floor-less unlimited sorted scan is NOT an ANN query — exact
      // plan stays
      val noFloor = corpus.select(col("vec_id"), col("embedding"))
        .withColumn("score", cosineSim(col("embedding"), lit(qv)))
        .orderBy(col("score").desc, col("vec_id").asc)
      assert(noFloor.queryExecution.executedPlan.toString
        .contains("embeddings.parquet"),
        "floor-less sort must keep the exact scan")
    } finally AnnIndexRegistry.clear()
  }

  test("limit-k deeper than the calibrated contract over-probes proportionally (servedK)") {
    // a clustered corpus where the calibrated width at k=10 is a single
    // cell of ~125 rows: a k=150 flagship cannot even FILL its top-k
    // from one cell, so a verbatim registered width silently starves and
    // under-recalls exactly when the caller asks deeper than the
    // contract; servedK lets the rewrite scale the probe width
    // proportionally (ceil(p * k / servedK), capped at all cells)
    val dir = scratchDir("graft-servedk")
    graft.ClusteredCorpus.write(spark, dir, nClusters = 20, perCluster = 100)
    val src2 = s"$dir/embeddings.parquet"
    val corpus2 = spark.read.parquet(src2)
    def flagship2(qv: Array[Float], k: Int): DataFrame =
      corpus2.select(col("vec_id"), col("embedding"))
        .withColumn("score", cosineSim(col("embedding"), lit(qv)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(k)
    val cal = graft.ml.IvfGeometry.calibrated(spark, src2, "vec_id",
      "embedding", graft.ml.IvfGeometry.Contract(10, 0.95))
    try {
      // the demonstration requires the clustered calibration to land on
      // a small probe fraction (the whole point of the corpus shape)
      assert(cal.ivf.nProbe <= 2,
        s"expected a narrow clustered width, got p=${cal.ivf.nProbe}")
      val qv = corpus2.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      def servedIds(k: Int): Set[Long] = {
        val df = flagship2(qv, k)
        assert(df.queryExecution.executedPlan.toString.contains("emb:array"),
          "plan must serve from the index")
        df.select("vec_id").collect().map(_.getLong(0)).toSet
      }
      spark.conf.set(AnnIndexRule.ConfKey, "false")
      val exact150 = try flagship2(qv, 150).select("vec_id").collect()
          .map(_.getLong(0)).toSet
        finally spark.conf.unset(AnnIndexRule.ConfKey)

      // without servedK the registered width serves ANY k verbatim — the
      // 150-deep result starves below the 0.9 family contract
      AnnIndexRegistry.register(spark, cal.ivf, src2, "vec_id", "embedding",
        nProbe = cal.ivf.nProbe)
      val starved = servedIds(150)
      val starvedRecall = (starved & exact150).size.toDouble / exact150.size
      assert(starvedRecall < 0.9,
        s"demonstration needs the frozen width to under-recall at k=150, " +
          s"got $starvedRecall")

      // with the contract's k recorded, the SAME registration serves
      // k=150 at full depth and contract recall
      AnnIndexRegistry.register(spark, cal.ivf, src2, "vec_id", "embedding",
        nProbe = cal.ivf.nProbe, servedK = 10)
      val scaled = servedIds(150)
      assert(scaled.size == 150, s"k-scaled serve under-filled: ${scaled.size}")
      val recall = (scaled & exact150).size.toDouble / exact150.size
      assert(recall >= 0.9, s"k-scaled rewrite recall $recall")
      // and a query AT the contract k keeps the calibrated narrow width
      // (recall there is the calibration's own guarantee)
      spark.conf.set(AnnIndexRule.ConfKey, "false")
      val exact10 = try flagship2(qv, 10).select("vec_id").collect()
          .map(_.getLong(0)).toSet
        finally spark.conf.unset(AnnIndexRule.ConfKey)
      val at10 = servedIds(10)
      assert((at10 & exact10).size >= 9, s"contract-k recall regressed")
    } finally AnnIndexRegistry.clear()
  }

  test("V2 scans serve when pristine; pushdown-consumed filters force the exact plan") {
    // V2ScanRelationPushDown folds a partition predicate INTO the
    // FileScan and removes the Filter node from the logical plan — the
    // chain walker can no longer see it, so serving such a scan would
    // swap in the UNFILTERED index and return rows the query filtered
    // out. The guard: only a pristine scan (no consumed partition/data
    // filters) is servable.
    val dir = scratchDir("graft-v2-part")
    corpus.withColumn("lab", col("label") % 4)
      .write.mode("overwrite").partitionBy("lab").parquet(dir)
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 8)
    try {
      AnnIndexRegistry.register(spark, ivf, dir, "vec_id", "embedding",
        nProbe = 8)
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      try {
        val qv = queryVec(0L)
        def v2flagship(filtered: Boolean): DataFrame = {
          val base = spark.read.parquet(dir)
          (if (filtered) base.filter(col("lab") === 1) else base)
            .select(col("vec_id"), col("embedding"))
            .withColumn("score", cosineSim(col("embedding"), lit(qv)))
            .orderBy(col("score").desc, col("vec_id").asc)
            .limit(10)
        }
        // the unfiltered V2 scan IS served (the guard must not over-block)
        assert(v2flagship(filtered = false).queryExecution.executedPlan
          .toString.contains("emb:array"),
          "pristine V2 scan must be index-served")
        // the filtered one stays EXACT and every row honors the predicate
        val f = v2flagship(filtered = true)
        assert(!f.queryExecution.executedPlan.toString.contains("emb:array"),
          "a scan with consumed partition filters must never be served")
        val served = f.select("vec_id").collect().map(_.getLong(0)).toSet
        spark.conf.set(AnnIndexRule.ConfKey, "false")
        val exact = try v2flagship(filtered = true).select("vec_id")
            .collect().map(_.getLong(0)).toSet
          finally spark.conf.unset(AnnIndexRule.ConfKey)
        assert(served == exact, "filtered V2 flagship must stay exact")
        val labs = spark.read.parquet(dir)
          .filter(col("vec_id").isInCollection(served.toSeq))
          .select("lab").distinct().collect().map(_.getInt(0)).toSet
        assert(labs == Set(1), s"out-of-filter rows served: $labs")
      } finally spark.conf.unset("spark.sql.sources.useV1SourceList")
    } finally AnnIndexRegistry.clear()
  }

  test("non-matching shapes keep their exact plan") {
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 5)
    try {
      AnnIndexRegistry.register(spark, ivf, src, "vec_id", "embedding", nProbe = 5)
      // (a) query vector as a joined ATTRIBUTE (the oracle-checked exact
      // kNN shape) — no literal, no match
      val q = corpus.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val attrShape = corpus.crossJoin(broadcast(q))
        .select(col("vec_id"),
          cosineSim(col("embedding"), col("q_emb")).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc).limit(5)
      assert(attrShape.queryExecution.executedPlan.toString
        .contains("embeddings.parquet"))
      // (b) a plan touching a relation column the index table lacks
      // (here: projecting the embedding is fine, but sorting ASCENDING
      // breaks the kNN contract) — no match
      val asc = corpus
        .withColumn("score", cosineSim(col("embedding"), lit(queryVec(0L))))
        .orderBy(col("score").asc).limit(5)
      assert(asc.queryExecution.executedPlan.toString
        .contains("embeddings.parquet"))
      // (c) DEREGISTERED path — no match. deregister (not clear) is the
      // honest spelling since r15: registrations persist beside the
      // artifact for cross-session rehydration, and deregister revokes
      // the persisted record too — otherwise the rule would rehydrate
      // the registration right back on the next matched plan.
      AnnIndexRegistry.deregister(src)
      val after = flagship(queryVec(0L), 5)
      assert(after.queryExecution.executedPlan.toString
        .contains("embeddings.parquet"))
    } finally AnnIndexRegistry.deregister(src)
  }

  test("family pick: a large registered corpus serves from the IVF-PQ codes table, the fixture stays on IVF") {
    // a 10k × 64-dim clustered corpus (2.56 MB of raw embeddings) past a
    // 2 MiB advantage point; the 500-row fixture (128 KB) stays below it
    // under the SAME configured threshold — the pick is corpus-driven,
    // not per-query conf flipping
    val dir = scratchDir("graft-family-pick")
    graft.ClusteredCorpus.write(spark, dir, nClusters = 100, perCluster = 100)
    val bigSrc = s"$dir/embeddings.parquet"
    val bigCorpus = spark.read.parquet(bigSrc)
    def bigQueryVec(id: Long): Array[Float] =
      bigCorpus.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).toArray
    def bigFlagship(qv: Array[Float], k: Int): DataFrame =
      bigCorpus.select(col("vec_id"), col("embedding"))
        .withColumn("score", cosineSim(col("embedding"), lit(qv)))
        .filter(col("score") >= 0.0)
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(k)
    val cells = 16
    try {
      AnnIndexRegistry.register(spark, new IvfIndex(cells, 8), bigSrc,
        "vec_id", "embedding", nProbe = 8,
        ivfpq = Some(new graft.ml.IvfPqIndex(cells, 8, m = 8, kCentroids = 16)))
      AnnIndexRegistry.register(spark, new IvfIndex(8, 6), src,
        "vec_id", "embedding", nProbe = 6,
        ivfpq = Some(new graft.ml.IvfPqIndex(8, 6, m = 8, kCentroids = 16)))
      spark.conf.set(AnnIndexRule.PqMinBytesKey, (2L * 1024 * 1024).toString)
      try {
        // large corpus: the ADC codes scan serves the plan (ReadSchema
        // spellings, not paths — the plan string truncates long paths)
        val planBig = bigFlagship(bigQueryVec(0L), 10)
          .queryExecution.executedPlan.toString
        assert(planBig.contains("codes:array"), planBig.take(3000))
        assert(!planBig.contains("embeddings.parquet"),
          "family-picked plan must not scan the original corpus")
        // fixture: below the advantage point -> the IVF cell table
        val planSmall = flagship(queryVec(0L), 10)
          .queryExecution.executedPlan.toString
        assert(planSmall.contains("emb:array") &&
          !planSmall.contains("codes:array"), planSmall.take(3000))
        // recall of the codes-served plan vs the exact scan (kill-switch
        // = ground truth), 10 spread anchors on the clustered corpus
        val qs = (0L until 10L).map(i => bigQueryVec(i * 1000L))
        spark.conf.set(AnnIndexRule.ConfKey, "false")
        val exact = try qs.map(q => bigFlagship(q, 10).select("vec_id")
            .collect().map(_.getLong(0)).toSet)
          finally spark.conf.unset(AnnIndexRule.ConfKey)
        val approx = qs.map(q => bigFlagship(q, 10).select("vec_id")
          .collect().map(_.getLong(0)).toSet)
        val recall = approx.zip(exact)
          .map { case (a, e) => (a & e).size.toDouble / e.size }.sum / exact.size
        assert(recall >= 0.9, s"codes-table-served recall $recall")
        // exactness of surfaced scores: the swap only narrows candidates;
        // the chain above re-scores with exact cosine
        val aRows = bigFlagship(bigQueryVec(0L), 10).collect()
          .map(r => r.getLong(0) -> r.getDouble(2)).toMap
        spark.conf.set(AnnIndexRule.ConfKey, "false")
        val eRows = try bigFlagship(bigQueryVec(0L), 10).collect()
            .map(r => r.getLong(0) -> r.getDouble(2)).toMap
          finally spark.conf.unset(AnnIndexRule.ConfKey)
        aRows.keySet.intersect(eRows.keySet).foreach { id =>
          assert(aRows(id) == eRows(id)) }
        // threshold raised past the corpus: the same plan falls back to
        // the IVF family (the conf is the one-knob kill-switch)
        spark.conf.set(AnnIndexRule.PqMinBytesKey, Long.MaxValue.toString)
        val planOff = bigFlagship(bigQueryVec(0L), 10)
          .queryExecution.executedPlan.toString
        assert(!planOff.contains("codes:array") &&
          planOff.contains("emb:array"), planOff.take(3000))
      } finally spark.conf.unset(AnnIndexRule.PqMinBytesKey)
    } finally AnnIndexRegistry.clear()
  }

  test("family pick: a STRING-keyed corpus serves from the codes table, ids restored via the surrogate map") {
    // the reference's store keys by string (MerkonDatabase.cs:46-58): the
    // codes-table family must serve it too — the artifact is
    // surrogate-keyed (xxhash64) and the published idMap restores the
    // original ids after the shortlist fetch
    val dir = scratchDir("graft-family-str")
    corpus.select(
        concat(lit("doc-"), lpad(col("vec_id").cast("string"), 5, "0"))
          .as("doc_id"),
        col("embedding"))
      .write.parquet(s"$dir/docs.parquet")
    val strSrc = s"$dir/docs.parquet"
    val strCorpus = spark.read.parquet(strSrc)
    def strFlagship(qv: Array[Float], k: Int): DataFrame =
      strCorpus.select(col("doc_id"), col("embedding"))
        .withColumn("score", cosineSim(col("embedding"), lit(qv)))
        .filter(col("score") >= 0.0)
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(k)
    try {
      AnnIndexRegistry.register(spark, new IvfIndex(8, 6), strSrc,
        "doc_id", "embedding", nProbe = 6,
        ivfpq = Some(new graft.ml.IvfPqIndex(8, 6, m = 8, kCentroids = 16)))
      spark.conf.set(AnnIndexRule.PqMinBytesKey, "0")
      try {
        val plan = strFlagship(queryVec(0L), 10)
          .queryExecution.executedPlan.toString
        assert(plan.contains("codes:array"), plan.take(3000))
        assert(!plan.contains("docs.parquet"),
          "family-picked plan must not scan the original corpus")
        // every surfaced id is an ORIGINAL string key, never a surrogate
        val served = strFlagship(queryVec(0L), 10).collect()
        assert(served.nonEmpty &&
          served.forall(_.getString(0).startsWith("doc-")))
        // recall + surfaced-score exactness vs the kill-switched exact
        // plan (same anchors as the long-keyed rewrite spec family)
        val qs = (0L until 10L).map(i => queryVec(i * 50L))
        spark.conf.set(AnnIndexRule.ConfKey, "false")
        val exact = try qs.map(q => strFlagship(q, 10).collect()
            .map(r => r.getString(0) -> r.getDouble(2)).toMap)
          finally spark.conf.unset(AnnIndexRule.ConfKey)
        val approx = qs.map(q => strFlagship(q, 10).collect()
          .map(r => r.getString(0) -> r.getDouble(2)).toMap)
        val recall = approx.zip(exact).map { case (a, e) =>
          (a.keySet & e.keySet).size.toDouble / e.size }.sum / exact.size
        assert(recall >= 0.9, s"string-keyed codes-served recall $recall")
        approx.zip(exact).foreach { case (a, e) =>
          a.keySet.intersect(e.keySet).foreach(id => assert(a(id) == e(id))) }
      } finally spark.conf.unset(AnnIndexRule.PqMinBytesKey)
    } finally AnnIndexRegistry.clear()
  }
}

object AnnRewriteSpec {
  /** All FileSourceScanExec leaves, traversing INTO AdaptiveSparkPlanExec
    * (AQE hides its inner plan from the standard collect). */
  def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    case other =>
      (other.children ++ other.subqueries).flatMap(fileScans)
  }
}
