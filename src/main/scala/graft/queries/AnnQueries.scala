package graft.queries

import graft.QueryPack
import graft.ml.{CosineLsh, IvfGeometry, IvfIndex, IvfPqIndex, PqIndex}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor queries — the scale path for similarity
 * search and embedding dedup.
 *
 * Oracle design (r9): an approximate result set has no SQL-exact oracle —
 * WHICH neighbors come back depends on index internals no other engine
 * reproduces. But every CONTRACT these indexes make is deterministic:
 *  - cardinality: a kNN query over a corpus with >= k candidates returns
 *    exactly k rows per query (rank 1..k);
 *  - soundness: filtered search returns only in-filter ids; LSH pair
 *    search only emits pairs that exactly clear the threshold;
 *  - recall: the family recall vs the exact in-Spark top-k (itself the
 *    same spelling DuckDB verifies on the oracle-checked exact queries)
 *    meets the >= 0.9 bound AnnRecallSpec pins.
 * So each registered query emits the deterministic skeleton — (q_id,
 * rank) rows, exact pair sets, corpus id sets — with the contract checks
 * folded in as boolean columns, and the DuckDB oracle derives the same
 * skeleton from the same parquet and predicts every boolean true. The
 * result is fully hash-checked by the driver: a recall regression, a
 * short result, or a filter leak flips a value and fails the compare.
 * The informative frames (neighbor ids, scores, per-query recalls) stay
 * pinned by AnnRecallSpec / AnnLifecycleSpec / AnnRewriteSpec, which
 * exercise the index APIs directly.
 */
object AnnQueries extends QueryPack {

  /** Exact top-k per query via the bounded partial-agg top-k (same
    * tie-break as a row_number window — score desc, id asc — but only
    * partitions×k candidate rows per query cross the shuffle, never
    * corpus×|Q|). Returns (q_id, neighbor_id). */
  private def exactTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val qd = queries.select(col("q_id"), col("q_emb"))
    // spread the STREAMED side (r17): the byte-small corpus scan runs
    // every row in one task, serializing the |corpus|x|Q| scoring pass
    graft.util.Spread.byKey(corpus, "vec_id").crossJoin(broadcast(qd))
      .select(col("q_id"), col("vec_id"),
        graft.functions.VectorFunctions.cosineSim(col("embedding"), col("q_emb")).as("cos"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKByScore(k)(col("cos"), col("vec_id")).as("hits"))
      .select(col("q_id"), explode(col("hits.id")).as("neighbor_id"))
  }

  /** One exact-top-k frame per (corpus, corpus-slice, |Q|, k), pinned
    * once: the `ann_*` family's verdict riders all compare against the
    * same handful of exact frames (6 queries share the (full, 20, 3)
    * frame alone), so recomputing the brute-force probe per query paid
    * the corpus×|Q| scan up to 6× per Verify/Bench session for identical
    * rows. Entries are |Q|×k rows — driver-trivial. */
  private def exactTopKCached(s: SparkSession, dir: String, sliceTag: String,
      corpus: => DataFrame, queriesDf: => DataFrame, nQueries: Int,
      k: Int): DataFrame =
    graft.util.SharedArtifact(s, "exact_topk", Seq(s"$dir/embeddings.parquet"),
        (sliceTag, nQueries, k)) {
      // the exact frame IS the recall baseline: its bare-cosine crossJoin
      // + TopKByScore spelling is exactly what the batch-kNN rewrite
      // (r17) matches, so materialize it under the kill switch — a
      // baseline served from the index would verify the index against
      // itself
      val key = graft.plans.AnnIndexRule.ConfKey
      val prev = s.conf.getOption(key)
      s.conf.set(key, "false")
      try exactTopK(corpus, queriesDf, k).localCheckpoint()
      finally prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
    }

  /** Deterministic verdict rows for a kNN result: the (q_id, rank)
    * skeleton — |Q|×k cardinality is the driver-checked contract — plus
    * any per-row invariant columns, with the family recall vs `exact`
    * folded into `pass` on every row. localCheckpoint keeps the 1-row
    * recall aggregate from re-running the probe. */
  private def verdict(approx: DataFrame, exact: DataFrame,
      extra: Seq[String] = Nil, alsoRequire: Column = lit(true)): DataFrame = {
    val flagged = approx
      .join(exact.withColumn("hit_exact", lit(1)), Seq("q_id", "neighbor_id"), "left")
      .localCheckpoint()
    val stats = flagged.agg(
      (sum(coalesce(col("hit_exact"), lit(0))).cast("double") /
        count(lit(1))).as("recall_all"))
    flagged.crossJoin(broadcast(stats))
      .select(Seq(col("q_id"), col("rank")) ++ extra.map(col) :+
        (col("recall_all") >= 0.9 - 1e-9 && alsoRequire).as("pass"): _*)
      .orderBy(col("q_id"), col("rank"))
  }

  private def queriesOf(emb: DataFrame, n: Int): DataFrame =
    emb.filter(col("vec_id") < n)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Corpus-sized calibrated IVF geometry for this SF's embeddings
    * (VERDICT r12 ask #1 — sqrt(N) cells, recall-calibrated probe width;
    * see [[IvfGeometry]]). One contract per query shape; filtered shapes
    * size the contract k to k_query / selectivity instead of multiplying
    * nProbe blindly. */
  private def geo(s: SparkSession, dir: String,
      contract: IvfGeometry.Contract): IvfIndex =
    IvfGeometry.calibratedIvf(s, s"$dir/embeddings.parquet",
      "vec_id", "embedding", contract)

  /** recall@3 for the unfiltered k=3 kNN shapes (0.95 leaves headroom
    * over the 0.9 pass bound a regenerated corpus must still clear). */
  private[graft] val Knn3 = IvfGeometry.Contract(3, 0.95)
  /** recall@10 for the k=10 rewrite shapes. 0.97: these verdicts average
    * over 3-5 query vectors, so the anchor-mean recall needs margin for
    * small-sample variance to keep the 0.9 family bound green. */
  private[graft] val Rewrite10 = IvfGeometry.Contract(10, 0.97)
  /** k=3 under the ~25%-selective label filter: contract k = 3/0.25,
    * target 0.95 (the filtered verdicts also ride few query vectors). */
  private[graft] val Filtered3 = IvfGeometry.Contract(12, 0.95)
  /** k=10 under the same ~25% filter: contract k = 10/0.25. */
  private[graft] val Filtered10 = IvfGeometry.Contract(40, 0.95)
  /** k=3 under the ~90%-selective label-complement filter. */
  private[graft] val HardNeg3 = IvfGeometry.Contract(4, 0.95)

  /** Corpus-sized PQ shape: subspace count from the embedding dimension
    * (8-dim subvectors), codebook width from the training-set bound —
    * 16 below 256×39 rows, the standard 256 (8-bit codes) above it.
    * The fixtures stay at (8, 16); the rule is what a 100 TB corpus
    * would size to, pinned by IvfGeometrySpec's 256-branch build. */
  private def pqShape(s: SparkSession, dir: String): (Int, Int) = {
    val emb = t(s, dir, "embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    (IvfGeometry.subspacesFor(dim), IvfGeometry.codebookFor(emb.count()))
  }

  /** Exact brute-force cosine pairs at threshold — the oracle-checkable
    * skeleton shared by ann_cosine_pairs / ann_semantic_dedup (same
    * spelling as the fenced dedup_embedding_pairs_bruteforce). */
  private def exactPairs(emb: DataFrame, minCos: Double): DataFrame = {
    // spread the streamed side of the O(N²/2) scoring pass (r17)
    val a = graft.util.Spread.byKey(emb, "vec_id")
      .select(col("vec_id").as("a_id"), col("embedding").as("emb_a"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("emb_b"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round6(graft.functions.VectorFunctions.cosineSim(col("emb_a"), col("emb_b")))
          .as("score"))
      .filter(col("score") >= minCos)
  }

  /** One exact-pair frame per (corpus, threshold) — the pairs analog
    * of [[exactTopKCached]], and the r9→r10 cost attribution for
    * ann_semantic_dedup: its 1.3 s over the r8 number was exactly the
    * O(N²/2) justification rider added with the verdict oracle, computed
    * AGAIN after ann_cosine_pairs had already built the identical frame.
    * The embeddings frame is read from `dir` INSIDE the build (not taken
    * as a parameter), so a caller with a filtered slice cannot be served
    * the full-corpus pair set as its exactness oracle. */
  private def exactPairsCached(s: SparkSession, dir: String,
      minCos: Double): DataFrame =
    graft.util.SharedArtifact(s, "exact_pairs", Seq(s"$dir/embeddings.parquet"),
        minCos)(exactPairs(t(s, dir, "embeddings"), minCos).localCheckpoint())

  override def queries: Map[String, Q] = Map(
    // LSH-bucketed embedding near-dup pairs (approx analog of
    // dedup_embedding_pairs_bruteforce). Emitted rows = the EXACT pair
    // set (hash-checked vs DuckDB's own brute force, score included);
    // `pass` = the LSH probe recovered >= 0.9 of them. LSH soundness
    // (every emitted pair truly clears the threshold) is structural —
    // scoring is exact, LSH only prunes candidates — and pinned by
    // AnnRecallSpec.
    "ann_cosine_pairs" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val found = new CosineLsh().similarPairs(emb, "vec_id", "embedding",
          minCos = 0.4)
        .select(col("a_id"), col("b_id"), lit(1).as("found"))
      val flagged = exactPairsCached(s, dir, 0.4)
        .join(found, Seq("a_id", "b_id"), "left")
        .localCheckpoint()
      val stats = flagged.agg(
        (sum(coalesce(col("found"), lit(0))).cast("double") /
          count(lit(1))).as("recall"))
      flagged.crossJoin(broadcast(stats))
        .select(col("a_id"), col("b_id"), col("score"),
          (col("recall") >= 0.9 - 1e-9).as("pass"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // LSH-bucketed batch kNN join (approx analog of knn_join).
    "ann_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val approx = new CosineLsh().knnJoin(
        corpus = emb, queries = emb.filter(col("vec_id") < 20),
        idCol = "vec_id", embCol = "embedding", k = 3)
      verdict(approx, exactTopKCached(s, dir, "full", emb, queriesOf(emb, 20), 20, 3))
    }),

    // SemDeDup over the persisted IVF index's own cells — the production
    // path of the oracle-checked dedup_semantic (identical keep rule,
    // clusters = the index's KMeans cells instead of the oracle's seed
    // assignment). WHICH rows are dropped depends on cell boundaries, but
    // two invariants are deterministic and hash-checked: the id set is
    // exactly the corpus (cardinality), and every drop is justified —
    // a dropped id has SOME earlier (a_id < id) neighbor at cos >= tau in
    // the exact pair set, because a cell pair is always a corpus pair.
    // The keep-rule and tombstone interaction stay pinned by
    // IndexAppendSpec.
    "ann_semantic_dedup" -> ((s, dir) => {
      // cells only (no probe): corpus-sized cells (banded ~sqrt(N)) keep
      // the per-cell pair fan-out bounded as the corpus grows — the
      // SemDeDup scale contract spelled in IvfIndex.semanticDedup's
      // scaladoc
      val ivf = new IvfIndex(
        IvfGeometry.centroidsFor(t(s, dir, "embeddings").count()), 1)
      val built = IvfIndex.openOrBuild(s, ivf, s"$dir/embeddings.parquet",
        "vec_id", "embedding")
      val dd = IvfIndex.semanticDedup(built, tau = 0.4)
      val justified = exactPairsCached(s, dir, 0.4)
        .select(col("b_id").as("id")).distinct()
        .withColumn("justified", lit(true))
      val flagged = dd.join(justified, Seq("id"), "left")
        .select(col("id"),
          (col("kept") || coalesce(col("justified"), lit(false)))
            .as("drop_justified"))
        .localCheckpoint()
      val stats = flagged.agg(min(col("drop_justified")).as("all_ok"))
      flagged.crossJoin(broadcast(stats))
        .select(col("id"), col("drop_justified"), col("all_ok").as("pass"))
        .orderBy(col("id"))
    }),

    // IVF (KMeans coarse quantizer) batch kNN join. The synthetic corpus
    // is uniform random (worst case for IVF — no cluster structure), so a
    // high probe fraction is needed for recall 0.9; real embedding corpora
    // cluster and probe far fewer cells.
    //
    // The KMeans fit NEVER runs in the query path: openOrBuild loads the
    // prebuilt cell-partitioned index for this corpus (building and
    // persisting it once on first use — the single-node analog of the
    // explicit index job that maintains the IVF table at 100 TB).
    "ann_ivf_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = geo(s, dir, Knn3)
      val built = IvfIndex.openOrBuild(s, ivf, s"$dir/embeddings.parquet",
        "vec_id", "embedding")
      val approx = ivf.search(built, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3)
      verdict(approx, exactTopKCached(s, dir, "full", emb, queriesOf(emb, 20), 20, 3))
    }),

    // FILTERED ANN — the approximate analog of the oracle-checked
    // knn_filtered: kNN restricted to a metadata slice (label % 4 = 1,
    // ~25% of the corpus). Pre-filter semantics (the allow-list semi-join
    // cuts the cell-pruned candidates BEFORE scoring, so all k results
    // satisfy the predicate by construction) with over-probing (nProbe 6
    // of 8 vs the unfiltered query's 5) compensating the thinner cells —
    // the published filtered-ANN recipe. `in_filter` (predicate
    // satisfaction, exact) rides every row; `pass` = recall vs the exact
    // FILTERED top-k >= 0.9 AND all results in-filter.
    "ann_ivf_filtered_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val allowed = emb.filter(col("label") % 4 === 1)
        .select(col("vec_id").as("id"))
      val ivf = geo(s, dir, Filtered3)
      val built = IvfIndex.openOrBuild(s, ivf, s"$dir/embeddings.parquet",
        "vec_id", "embedding")
      val approx = ivf.searchFiltered(built, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 3, allowed)
        .join(allowed.select(col("id").as("neighbor_id"),
          lit(true).as("in_filter")), Seq("neighbor_id"), "left")
        .withColumn("in_filter", coalesce(col("in_filter"), lit(false)))
      val exact = exactTopKCached(s, dir, "label4eq1",
        emb.filter(col("label") % 4 === 1), queriesOf(emb, 20), 20, 3)
      verdict(approx, exact, extra = Seq("in_filter"),
        alsoRequire = min(col("in_filter")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
    }),

    // Hard-negative mining ON the IVF index — the production path of the
    // oracle-exact `embedding_hard_negatives` (SimilarityQueries): per
    // anchor label, one `searchFiltered` probe with the label-COMPLEMENT
    // allow-list (anchors grouped by label, so the driver-side fan-out is
    // |labels| calls, never |anchors|), nProbe 6/8 since the complement
    // keeps ~90% of candidates. Verdict rows: (q_id, rank) skeleton +
    // `in_filter` (every surfaced negative truly carries a different
    // label) + family recall >= 0.9 vs the exact labeled top-k — all
    // DuckDB-predicted booleans, hash-checked.
    "ann_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val k = 3
      val ivf = geo(s, dir, HardNeg3)
      val built = IvfIndex.openOrBuild(s, ivf, s"$dir/embeddings.parquet",
        "vec_id", "embedding")
      val anchors = emb.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("label"), col("embedding"))
        .localCheckpoint()
      val labels = anchors.select(col("label")).distinct()
        .collect().map(_.getInt(0)).sorted
      val approx = labels.map { l =>
        ivf.searchFiltered(built, anchors.filter(col("label") === l),
          "vec_id", "embedding", k,
          emb.filter(col("label") =!= l).select(col("vec_id").as("id")))
      }.reduce(_ unionByName _)
      val al = anchors.select(col("vec_id").as("q_id"),
        col("label").as("a_label"), col("embedding").as("q_emb"))
      val flagged = approx
        .join(broadcast(al.select(col("q_id"), col("a_label"))), Seq("q_id"))
        .join(emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label")), Seq("neighbor_id"))
        .withColumn("in_filter", col("n_label") =!= col("a_label"))
        .select(col("q_id"), col("neighbor_id"), col("rank"), col("in_filter"))
      val exact = emb.crossJoin(broadcast(al))
        .filter(col("label") =!= col("a_label"))
        .select(col("q_id"), col("vec_id"),
          graft.functions.VectorFunctions.cosineSim(col("embedding"), col("q_emb"))
            .as("cos"))
        .groupBy(col("q_id"))
        .agg(graft.functions.TopKByScore(k)(col("cos"), col("vec_id")).as("hits"))
        .select(col("q_id"), explode(col("hits.id")).as("neighbor_id"))
      verdict(flagged, exact, extra = Seq("in_filter"),
        alsoRequire = min(col("in_filter")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
    }),

    // Product-quantization batch kNN join — the compressed-index family
    // (codes are m bytes/vector, 32x smaller than float32): ADC lookup
    // shortlist over the code table, then exact re-rank of the shortlist
    // only. Like IVF, the build (m KMeans fits + encode) runs ONLY in
    // the index job; openOrBuild loads the persisted code table here.
    "ann_pq_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (m, kc) = pqShape(s, dir)
      val pq = new PqIndex(m = m, kCentroids = kc)
      val built = PqIndex.openOrBuild(s, pq, s"$dir/embeddings.parquet",
        "vec_id", "embedding")
      val approx = pq.search(built, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3)
      verdict(approx, exactTopKCached(s, dir, "full", emb, queriesOf(emb, 20), 20, 3))
    }),

    // IVF-PQ composite batch kNN join — the two prunings multiplied:
    // the coarse quantizer bounds WHICH rows are scanned (nProbe cells),
    // PQ bounds WHAT is scanned (m-byte codes); the shortlist re-ranks
    // exactly. Both fits live in the index job via openOrBuild.
    "ann_ivfpq_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // IVF geometry from the same knn3 calibration (the PQ error is
      // absorbed by the 192-wide ADC shortlist + exact re-rank, so the
      // coarse-quantizer operating point carries over); PQ shape from
      // the dim/training-bound rule
      val g = geo(s, dir, Knn3)
      val (m, kc) = pqShape(s, dir)
      val ivfpq = new IvfPqIndex(nCentroids = g.nCentroids, nProbe = g.nProbe,
        m = m, kCentroids = kc)
      val built = IvfPqIndex.openOrBuild(s, ivfpq, s"$dir/embeddings.parquet",
        "vec_id", "embedding")
      val approx = ivfpq.search(built, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3)
      verdict(approx, exactTopKCached(s, dir, "full", emb, queriesOf(emb, 20), 20, 3))
    }),

    // Batch query-TABLE kNN through the persisted index (VERDICT r14
    // ask #3; REWRITE-served since r17, ask #6): N query vectors arrive
    // as a TABLE, so the literal-query flagship rewrite can't see them.
    // The query below is the NAIVE bulk-scoring plan — corpus × queries
    // cross join, bare cosine, bounded TopKByScore per query, no index
    // call anywhere — and AnnIndexRule's batch matcher swaps the cross
    // join's candidate set for the cell-routed one at optimization time
    // (map-side centroid routing, ONE equi-join on cell against the
    // cell-partitioned index table — the same plan the
    // AnnIndexRegistry.indexedKnnJoin API builds; naive fallback +
    // recall pinned by AnnRewriteSpec). `idx_served` is read off the
    // executed plan (the index table spells its vector column `emb`), so
    // a rewrite that stops firing flips a hash-checked value. `pass` =
    // recall >= 0.9 vs the exact top-k.
    "ann_indexed_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = geo(s, dir, Knn3)
      graft.plans.AnnIndexRegistry.register(s, ivf, s"$dir/embeddings.parquet",
        "vec_id", "embedding", nProbe = ivf.nProbe, servedK = 3)
      val naive = emb.crossJoin(broadcast(queriesOf(emb, 20)))
        .select(col("q_id"), col("vec_id"),
          graft.functions.VectorFunctions.cosineSim(
            col("embedding"), col("q_emb")).as("cos"))
        .groupBy(col("q_id"))
        .agg(graft.functions.TopKByScore(3)(col("cos"), col("vec_id")).as("hits"))
        .select(col("q_id"), posexplode(col("hits")))
        .select(col("q_id"), (col("pos") + 1).as("rank"),
          col("col.id").as("neighbor_id"))
      val served = naive.queryExecution.executedPlan.toString
        .contains("emb:array")
      verdict(naive.withColumn("idx_served", lit(served)),
        exactTopKCached(s, dir, "full", emb, queriesOf(emb, 20), 20, 3),
        extra = Seq("idx_served"))
    }),

    // The FILTERED batch query-table kNN (VERDICT r15 ask #3): the same
    // bulk-scoring shape restricted to a metadata slice (label % 4 = 1,
    // ~25% of the corpus) — "top-k within language / license / source
    // slice", the form a nightly pipeline actually runs. Pre-filter
    // semantics through the registered index: the allow-list semi-joins
    // the cell-pruned candidate side BEFORE any scoring
    // (indexedKnnJoin's allowedIds -> VectorStreams.indexedKnnFiltered),
    // so every surfaced neighbor satisfies the predicate by construction
    // and a selective slice can never starve a query below k while
    // allowed candidates sit in the probed cells. Probe width: the
    // Filtered3 calibration (contract k = 3/0.25 — the same measured
    // over-probe rule the single-query filtered family uses), passed
    // explicitly as the known-selectivity operating point. `in_filter`
    // rides every row; `pass` = recall >= 0.9 vs the exact FILTERED
    // top-k AND all rows in-slice.
    "ann_indexed_knn_join_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val allowed = emb.filter(col("label") % 4 === 1)
        .select(col("vec_id").as("id"))
      val ivf = geo(s, dir, Filtered3)
      graft.plans.AnnIndexRegistry.register(s, ivf, s"$dir/embeddings.parquet",
        "vec_id", "embedding", nProbe = ivf.nProbe, servedK = 3)
      val approx = graft.plans.AnnIndexRegistry.indexedKnnJoin(s,
          s"$dir/embeddings.parquet", queriesOf(emb, 20), k = 3,
          nProbe = ivf.nProbe, allowedIds = Some(allowed))
        .join(allowed.select(col("id").as("neighbor_id"),
          lit(true).as("in_filter")), Seq("neighbor_id"), "left")
        .withColumn("in_filter", coalesce(col("in_filter"), lit(false)))
      val exact = exactTopKCached(s, dir, "label4eq1",
        emb.filter(col("label") % 4 === 1), queriesOf(emb, 20), 20, 3)
      verdict(approx, exact, extra = Seq("in_filter"),
        alsoRequire = min(col("in_filter")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
    }),

    // The ANN rewrite RULE in action (graft.plans.AnnIndexRule — SURVEY
    // §4's deferred custom-optimizer item): each branch below is the
    // NAIVE flagship plan — scan, literal-query cosine, descending
    // top-k — with no index call anywhere in the query code. The
    // registered rule rewrites every branch into the nProbe-cell-pruned
    // scan of the persisted IVF index at optimization time (asserted on
    // the physical plan by AnnRewriteSpec). The exact side below is the
    // partial-agg top-k — an aggregate, not a sort+limit, so the rule
    // cannot touch it — making `pass` a live recall check ON the
    // rewritten plans.
    "ann_indexed_rewrite" -> ((s, dir) => {
      val ivf = geo(s, dir, Rewrite10)
      graft.plans.AnnIndexRegistry.register(s, ivf, s"$dir/embeddings.parquet",
        "vec_id", "embedding", nProbe = ivf.nProbe, servedK = 10)
      val emb = t(s, dir, "embeddings")
      // 5 query vectors as literals (the reference-shaped call: the
      // query arrives as a parameter, not a table)
      val qvs = emb.filter(col("vec_id") < 5)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val approx = qvs.map { case (qid, qv) =>
        emb.select(col("vec_id"), col("embedding"))
          .withColumn("score",
            graft.functions.VectorFunctions.cosineSim(col("embedding"), lit(qv)))
          .filter(col("score") >= 0.0)
          .orderBy(col("score").desc, col("vec_id").asc)
          .limit(10)
          .select(lit(qid).as("q_id"), col("vec_id").as("neighbor_id"),
            col("score"))
      }.reduce(_ unionByName _)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("score").desc, col("neighbor_id"))))
      verdict(approx, exactTopKCached(s, dir, "full", emb, queriesOf(emb, 5), 5, 10))
    }),

    // The DEEP-k flagship through the rewrite (r14 post-close): the SAME
    // registration serves a limit far beyond the calibrated contract
    // depth (servedK = 10) by proportional over-probe — ceil(p·k/servedK)
    // cells, capped at all of them — so the recall contract transfers to
    // any requested k instead of silently starving on the calibrated
    // width (one cell of ~N/c rows cannot even FILL a deeper top-k;
    // AnnRewriteSpec demonstrates the starvation on a clustered corpus).
    // No cosine floor: rank ~50 on the uniform corpus sits below 0.
    "ann_indexed_deepk_rewrite" -> ((s, dir) => {
      val ivf = geo(s, dir, Rewrite10)
      graft.plans.AnnIndexRegistry.register(s, ivf, s"$dir/embeddings.parquet",
        "vec_id", "embedding", nProbe = ivf.nProbe, servedK = 10)
      val emb = t(s, dir, "embeddings")
      val qvs = emb.filter(col("vec_id") < 3)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val approx = qvs.map { case (qid, qv) =>
        emb.select(col("vec_id"), col("embedding"))
          .withColumn("score",
            graft.functions.VectorFunctions.cosineSim(col("embedding"), lit(qv)))
          .orderBy(col("score").desc, col("vec_id").asc)
          .limit(50)
          .select(lit(qid).as("q_id"), col("vec_id").as("neighbor_id"),
            col("score"))
      }.reduce(_ unionByName _)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("score").desc, col("neighbor_id"))))
      verdict(approx, exactTopKCached(s, dir, "full", emb, queriesOf(emb, 3), 3, 50))
    }),

    // The FILTERED flagship through the rewrite: the query code is the
    // naive filtered plan (scan → label predicate → literal-query cosine
    // → desc top-k — what a user writes), and registration carries the
    // predicate column into the index (`payloadCols = label`), so
    // AnnIndexRule serves it from the metadata-carrying `augmented`
    // table: cell-partition pruning FIRST, then the label predicate as a
    // pushed parquet filter on the probed cells. AnnRewriteSpec pins the
    // plan swap and the fall-back (an unregistered predicate column
    // keeps the exact scan); `in_filter`/`pass` here hash-check the
    // predicate soundness and recall of the rewritten plans themselves.
    // Geometry: the ~25% predicate thins each probed cell 4x, so the
    // calibration contract sizes k to 10/0.25 = 40 — the standard
    // filtered-ANN over-probe, derived from the measured recall curve
    // instead of hand-picked.
    "ann_indexed_filtered_rewrite" -> ((s, dir) => {
      val ivf = geo(s, dir, Filtered10)
      graft.plans.AnnIndexRegistry.register(s, ivf, s"$dir/embeddings.parquet",
        "vec_id", "embedding", nProbe = ivf.nProbe, payloadCols = Seq("label"),
        servedK = 10)
      val emb = t(s, dir, "embeddings")
      val qvs = emb.filter(col("vec_id") < 5)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val approx = qvs.map { case (qid, qv) =>
        emb.select(col("vec_id"), col("label"), col("embedding"))
          .filter(col("label") % 4 === 1)
          .withColumn("score",
            graft.functions.VectorFunctions.cosineSim(col("embedding"), lit(qv)))
          .orderBy(col("score").desc, col("vec_id").asc)
          .limit(10)
          .select(lit(qid).as("q_id"), col("vec_id").as("neighbor_id"),
            col("label"), col("score"))
      }.reduce(_ unionByName _)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("score").desc, col("neighbor_id"))))
        .withColumn("in_filter", col("label") % 4 === 1)
      val exact = exactTopKCached(s, dir, "label4eq1",
        emb.filter(col("label") % 4 === 1), queriesOf(emb, 5), 5, 10)
      verdict(approx, exact, extra = Seq("in_filter"),
        alsoRequire = min(col("in_filter")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
    }),

    // The THRESHOLD-ONLY flagship through the rewrite (VERDICT r8 ask
    // #6; reference anchor: GetNearestMatchesAsync's minRelevanceScore
    // path, MerkonMemoryStore.cs:138): each branch is the naive floor
    // plan — scan, literal-query cosine, `score >= t` filter, sort, NO
    // limit — which AnnIndexRule serves from the index with 2× over-probe
    // (a floor query asks for a neighborhood, not a fixed k). The
    // registration pins nProbe = ceil(c/2) of the corpus-sized c cells,
    // so the 2× over-probe reaches ALL cells and the rewritten result is
    // EXACTLY the threshold scan — which is the point of this registered
    // query: the full row set (neighbor ids + round6 scores) is
    // hash-checked against DuckDB's own cosine threshold scan, proving
    // the rewrite preserves per-row semantics end to end AT ANY corpus
    // size. Real cell PRUNING for this shape (partial probe, recall
    // ≥ 0.9, floor-less fallback) is pinned by AnnRewriteSpec; the
    // `rewritten` column here is read off the executed plan, so the
    // driver also sees that the index served it.
    "ann_indexed_threshold_rewrite" -> ((s, dir) => {
      val c = IvfGeometry.centroidsFor(t(s, dir, "embeddings").count())
      val ivf = new IvfIndex(c, (c + 1) / 2)
      graft.plans.AnnIndexRegistry.register(s, ivf, s"$dir/embeddings.parquet",
        "vec_id", "embedding", nProbe = ivf.nProbe)
      val emb = t(s, dir, "embeddings")
      val qvs = emb.filter(col("vec_id") < 5)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      qvs.map { case (qid, qv) =>
        val naive = emb.select(col("vec_id"), col("embedding"))
          .withColumn("score",
            graft.functions.VectorFunctions.cosineSim(col("embedding"), lit(qv)))
          .filter(col("score") >= 0.35)
          .orderBy(col("score").desc, col("vec_id").asc)
        // the index's assigned table spells the vector column `emb`
        // ("emb:array" never substrings the corpus's "embedding:array")
        val rewritten = naive.queryExecution.executedPlan.toString
          .contains("emb:array")
        naive.select(lit(qid).as("q_id"), col("vec_id").as("neighbor_id"),
          round6(col("score")).as("score"), lit(rewritten).as("rewritten"))
      }.reduce(_ unionByName _)
        .orderBy(col("q_id"), col("score").desc, col("neighbor_id"))
    }),

    // The same rewrite from PURE SQL: the query text below is exactly
    // what a SQL-surface user of the reference would write (registered
    // cosine function, view over the corpus, ORDER BY score DESC LIMIT
    // k with the query vector inlined as an array literal) — no Scala
    // DSL, no index API. AnnIndexRule rewrites the analyzed plan the
    // same way it rewrites the DataFrame form; AnnRewriteSpec pins the
    // plan shape for this path too.
    "ann_indexed_rewrite_sql" -> ((s, dir) => {
      val ivf = geo(s, dir, Rewrite10)
      graft.plans.AnnIndexRegistry.register(s, ivf, s"$dir/embeddings.parquet",
        "vec_id", "embedding", nProbe = ivf.nProbe, servedK = 10)
      graft.functions.VectorFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      emb.createOrReplaceTempView("graft_ann_sql_corpus")
      val qvs = emb.filter(col("vec_id") < 3)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1))
      val approx = qvs.map { case (qid, qv) =>
        val arr = qv.map(f => s"CAST($f AS FLOAT)").mkString("array(", ", ", ")")
        s.sql(
          s"""SELECT $qid AS q_id, vec_id AS neighbor_id, score
             |FROM (
             |  SELECT vec_id, cosine_similarity(embedding, $arr) AS score
             |  FROM graft_ann_sql_corpus
             |  WHERE cosine_similarity(embedding, $arr) >= 0.0
             |  ORDER BY score DESC, vec_id LIMIT 10
             |)""".stripMargin)
      }.reduce(_ unionByName _)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("score").desc, col("neighbor_id"))))
      verdict(approx, exactTopKCached(s, dir, "full", emb, queriesOf(emb, 3), 3, 10))
    }),

    // FAMILY SELECTION through the rewrite (VERDICT r13 ask #2): one
    // registration carries BOTH index families (IVF cell table + IVF-PQ
    // codes table over the same coarse quantizer), and AnnIndexRule picks
    // by the corpus-bytes cost rule (prefer the 32x-smaller codes scan
    // once raw embedding bytes cross spark.graft.ann.family.pqMinBytes;
    // IVF below it). Both operating points are exercised here: the `ivf`
    // branch runs under the production threshold (the fixture sits far
    // below 1 GiB -> cell-table scan), the `pq` branch lowers the
    // advantage point to 0 on the SAME registration (the conf is the
    // operating dial a 100 TB deployment sets once). `family_served` is
    // read off each EXECUTED plan — ReadSchema spellings: the codes scan
    // reads `codes:array`, the cell table `emb:array` — so a pick that
    // stops firing flips a hash-checked value. `pass` = per-family
    // recall >= 0.9 vs the exact top-k. AnnRewriteSpec pins the
    // corpus-SIZE-driven pick (a 10k corpus picks pq under the same
    // threshold the fixture picks ivf under) and score exactness.
    "ann_indexed_family_pick" -> ((s, dir) => {
      val ivf = geo(s, dir, Rewrite10)
      val (m, kc) = pqShape(s, dir)
      graft.plans.AnnIndexRegistry.register(s, ivf, s"$dir/embeddings.parquet",
        "vec_id", "embedding", nProbe = ivf.nProbe, servedK = 10,
        ivfpq = Some(new IvfPqIndex(ivf.nCentroids, ivf.nProbe,
          m = m, kCentroids = kc)))
      val emb = t(s, dir, "embeddings")
      val qvs = emb.filter(col("vec_id") < 3)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val pqKey = graft.plans.AnnIndexRule.PqMinBytesKey
      // each branch materializes (localCheckpoint) while its advantage
      // point is in force — the rewrite fires at optimization time, so
      // the conf must cover the execution, not just the plan build
      def branch(family: String, minBytes: Option[Long]): DataFrame = {
        minBytes.foreach(v => s.conf.set(pqKey, v.toString))
        try qvs.map { case (qid, qv) =>
          val naive = emb.select(col("vec_id"), col("embedding"))
            .withColumn("score",
              graft.functions.VectorFunctions.cosineSim(col("embedding"), lit(qv)))
            .filter(col("score") >= 0.0)
            .orderBy(col("score").desc, col("vec_id").asc)
            .limit(10)
          val plan = naive.queryExecution.executedPlan.toString
          val served =
            if (family == "pq") plan.contains("codes:array")
            else plan.contains("emb:array") && !plan.contains("codes:array")
          naive.select(lit(family).as("family"), lit(qid).as("q_id"),
            col("vec_id").as("neighbor_id"), col("score"),
            lit(served).as("family_served"))
        }.reduce(_ unionByName _).localCheckpoint()
        finally minBytes.foreach(_ => s.conf.unset(pqKey))
      }
      val approx = branch("ivf", None)
        .unionByName(branch("pq", Some(0L)))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("family", "q_id")
            .orderBy(col("score").desc, col("neighbor_id"))))
      val exact = exactTopKCached(s, dir, "full", emb, queriesOf(emb, 3), 3, 10)
      val flagged = approx
        .join(exact.withColumn("hit_exact", lit(1)),
          Seq("q_id", "neighbor_id"), "left")
        .localCheckpoint()
      val wf = org.apache.spark.sql.expressions.Window.partitionBy("family")
      flagged
        .withColumn("family_recall",
          sum(coalesce(col("hit_exact"), lit(0))).over(wf).cast("double") /
            count(lit(1)).over(wf))
        .select(col("family"), col("q_id"), col("rank"), col("family_served"),
          (col("family_recall") >= 0.9 - 1e-9 && col("family_served")).as("pass"))
        .orderBy(col("family"), col("q_id"), col("rank"))
    }),

    // Driver-visible ANN correctness: per-(method, query) verdict rows
    // for ALL approximate paths (LSH, IVF, PQ, IVF-PQ) against the exact
    // in-Spark top-k. `pass` pins the METHOD-aggregate recall >= 0.9
    // (the AnnRecallSpec contract — single queries legitimately dip on a
    // uniform-random corpus, the aggregate is the regression signal);
    // the (method, q_id) skeleton is the oracle-predicted cardinality.
    // Per-query recall values stay visible in AnnRecallSpec.
    // The nProbe tuning sweep — the curve an operator reads before
    // setting an IVF index's probe budget: mean recall vs exact top-3
    // at nProbe c/8, c/4, c/2, c over the corpus-sized c-cell index
    // (c = IvfGeometry.centroidsFor: pow2-banded min(sqrt(N), N/128) —
    // the oracle derives the same levels from the same parquet's row
    // count via the exact-t2 closed form). Two invariants are
    // STRUCTURAL, so the verdict rows are deterministic: recall is
    // non-decreasing in nProbe (the candidate set only grows), and at
    // nProbe == nCentroids the probe is exhaustive, so recall is exactly
    // 1.0. A broken router (cells dropped, wrong distance, tie-break
    // drift) breaks one of the two bits and fails the driver hash.
    "ann_nprobe_sweep" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val k = 3
      val c = IvfGeometry.centroidsFor(emb.count())
      val levels = Seq(math.max(1, c / 8), math.max(1, c / 4),
        math.max(1, c / 2), c)
      val approx = levels.map { p =>
        val idx = new IvfIndex(c, p)
        idx.search(IvfIndex.openOrBuild(s, idx, s"$dir/embeddings.parquet",
            "vec_id", "embedding"), q, "vec_id", "embedding", k)
          .select(lit(p).as("n_probe"), col("q_id"), col("neighbor_id"),
            lit(1).as("hit"))
      }.reduce(_ unionByName _)
      val exact = exactTopKCached(s, dir, "full", emb, queriesOf(emb, 20), 20, k)
      val recalls = exact.crossJoin(broadcast(levels.toDF("n_probe")))
        .join(approx, Seq("n_probe", "q_id", "neighbor_id"), "left")
        .groupBy(col("n_probe"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") /
          count(lit(1))).as("recall"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("n_probe")
      recalls.withColumn("prev", lag(col("recall"), 1).over(w))
        .select(col("n_probe"),
          coalesce(col("recall") >= col("prev") - 1e-9, lit(true))
            .as("monotone_ok"),
          when(col("n_probe") === c, col("recall") >= 1.0 - 1e-9)
            .otherwise(lit(true)).as("full_exact"))
        .orderBy(col("n_probe"))
    }),

    "ann_recall_audit" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val k = 3
      val lsh = new CosineLsh()
        .knnJoin(corpus = emb, queries = q, idCol = "vec_id",
          embCol = "embedding", k = k)
        .select(lit("lsh").as("method"), col("q_id"), col("neighbor_id"),
          lit(1).as("hit"))
      val ivfIdx = geo(s, dir, Knn3)
      val ivf = ivfIdx
        .search(IvfIndex.openOrBuild(s, ivfIdx, s"$dir/embeddings.parquet",
          "vec_id", "embedding"), q, "vec_id", "embedding", k)
        .select(lit("ivf").as("method"), col("q_id"), col("neighbor_id"),
          lit(1).as("hit"))
      val (mSub, kCode) = pqShape(s, dir)
      val pqIdx = new PqIndex(m = mSub, kCentroids = kCode)
      val pq = pqIdx
        .search(PqIndex.openOrBuild(s, pqIdx, s"$dir/embeddings.parquet",
          "vec_id", "embedding"), q, "vec_id", "embedding", k)
        .select(lit("pq").as("method"), col("q_id"), col("neighbor_id"),
          lit(1).as("hit"))
      val ivfpqIdx = new IvfPqIndex(nCentroids = ivfIdx.nCentroids,
        nProbe = ivfIdx.nProbe, m = mSub, kCentroids = kCode)
      val ivfpq = ivfpqIdx
        .search(IvfPqIndex.openOrBuild(s, ivfpqIdx, s"$dir/embeddings.parquet",
          "vec_id", "embedding"), q, "vec_id", "embedding", k)
        .select(lit("ivfpq").as("method"), col("q_id"), col("neighbor_id"),
          lit(1).as("hit"))
      val approx = lsh.unionByName(ivf).unionByName(pq).unionByName(ivfpq)
      val exact = exactTopKCached(s, dir, "full", emb, queriesOf(emb, 20), 20, k)
      val methods =
        { import s.implicits._; Seq("lsh", "ivf", "pq", "ivfpq").toDF("method") }
      val byQuery = exact.crossJoin(broadcast(methods))
        .join(approx, Seq("method", "q_id", "neighbor_id"), "left")
        .groupBy(col("method"), col("q_id"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)))
          .as("recall"))
      val wm = org.apache.spark.sql.expressions.Window.partitionBy("method")
      byQuery
        .withColumn("method_recall", avg(col("recall")).over(wm))
        .select(col("method"), col("q_id"),
          (col("method_recall") >= 0.9 - 1e-9).as("pass"))
        .orderBy(col("method"), col("q_id"))
    })
  )

  private val round6 = graft.QueryPack.round6Sql _

  override def oracleSql: Map[String, String] = {
    // (q_id, rank) skeleton for a |Q|×k kNN verdict: every query id under
    // `qMax` × ranks 1..k, pass predicted true. A short/long result set
    // fails the row-count compare; a recall/soundness breach flips pass.
    def knnSkeleton(qMax: Int, k: Int, extraCols: String = ""): String =
      s"""SELECT vec_id AS q_id, CAST(r AS INTEGER) AS "rank",$extraCols
         |  true AS pass
         |FROM embeddings, (SELECT unnest(generate_series(1, $k)) AS r)
         |WHERE vec_id < $qMax
         |ORDER BY q_id, "rank"""".stripMargin
    Map(
      "ann_knn_join" -> knnSkeleton(20, 3),
      "ann_indexed_knn_join" -> knnSkeleton(20, 3, " true AS idx_served,"),
      "ann_indexed_knn_join_filtered" -> knnSkeleton(20, 3, " true AS in_filter,"),
      "ann_ivf_knn" -> knnSkeleton(20, 3),
      "ann_pq_knn" -> knnSkeleton(20, 3),
      "ann_ivfpq_knn" -> knnSkeleton(20, 3),
      "ann_ivf_filtered_knn" -> knnSkeleton(20, 3, " true AS in_filter,"),
      "ann_hard_negatives" -> knnSkeleton(20, 3, " true AS in_filter,"),
      "ann_indexed_rewrite" -> knnSkeleton(5, 10),
      "ann_indexed_deepk_rewrite" -> knnSkeleton(3, 50),
      "ann_indexed_filtered_rewrite" -> knnSkeleton(5, 10, " true AS in_filter,"),
      "ann_indexed_rewrite_sql" -> knnSkeleton(3, 10),
      // both family branches return the |Q|×k skeleton with the plan-read
      // family_served flag and per-family recall folded into pass
      "ann_indexed_family_pick" ->
        """SELECT f.family, vec_id AS q_id, CAST(r AS INTEGER) AS "rank",
          |  true AS family_served, true AS pass
          |FROM embeddings,
          |  (SELECT unnest(generate_series(1, 10)) AS r),
          |  (SELECT unnest(['ivf', 'pq']) AS family) f
          |WHERE vec_id < 3
          |ORDER BY family, q_id, "rank"""".stripMargin,
      // full-probe threshold rewrite: the result is exactly the cosine
      // threshold scan, so the oracle is the REAL row set (the raw-score
      // floor matches the Spark plan's pre-round filter spelling)
      "ann_indexed_threshold_rewrite" -> {
        val cos = "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb)"
        s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
           |           FROM embeddings WHERE vec_id < 5)
           |SELECT q.q_id, e.vec_id AS neighbor_id, ${round6(cos)} AS score,
           |  true AS rewritten
           |FROM embeddings e, q
           |WHERE $cos >= 0.35
           |ORDER BY q_id, score DESC, neighbor_id""".stripMargin
      },
      // the sweep levels derive from the corpus-sized cell count —
      // IvfGeometry.centroidsFor's banded rule, computable from the same
      // parquet: t2 = min(N, (N/128)²) is EXACT in doubles, so the
      // closed-form band index floor((log2(t2) - 5) / 2) agrees with the
      // engine's integer doubling loop at every boundary
      "ann_nprobe_sweep" ->
        """WITH g AS (
          |  SELECT least(CAST(count(*) AS DOUBLE),
          |               power(count(*) / 128.0, 2)) AS t2
          |  FROM embeddings
          |), cc AS (
          |  SELECT CAST(8 * power(2, greatest(0, floor((log2(t2) - 5) / 2)))
          |              AS INTEGER) AS c
          |  FROM g
          |)
          |SELECT CAST(p AS INTEGER) AS n_probe, true AS monotone_ok,
          |  true AS full_exact
          |FROM (SELECT unnest([greatest(1, c // 8), greatest(1, c // 4),
          |                     greatest(1, c // 2), c]) AS p FROM cc)
          |ORDER BY n_probe""".stripMargin,
      "ann_recall_audit" ->
        """SELECT m.method, vec_id AS q_id, true AS pass
          |FROM embeddings,
          |  (SELECT unnest(['ivf', 'ivfpq', 'lsh', 'pq']) AS method) m
          |WHERE vec_id < 20
          |ORDER BY method, q_id""".stripMargin,
      "ann_semantic_dedup" ->
        """SELECT vec_id AS id, true AS drop_justified, true AS pass
          |FROM embeddings ORDER BY id""".stripMargin,
      "ann_cosine_pairs" -> {
        val cos = "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), " +
          "CAST(b.embedding AS DOUBLE[]))"
        s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |  ${round6(cos)} AS score, true AS pass
           |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           |WHERE ${round6(cos)} >= 0.4
           |ORDER BY a_id, b_id""".stripMargin
      }
    )
  }
}
