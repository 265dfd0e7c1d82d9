package graft.queries

import graft.QueryPack
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Iterative graph analytics over relationship tables — the Pregel-shaped
 * family next to [[graft.ml.ConnectedComponents]] (dedup clustering).
 *
 * `graph_pagerank`: PageRank over the bipartite customer↔supplier trade
 * graph (an edge where a customer's order ships a supplier's line item),
 * symmetrized so every node has out-degree ≥ 1 (no dangling-mass term).
 *
 * Scale shape: each of the fixed `Iters` rounds is ONE equi-join of the
 * rank table against the degree-annotated edge table plus one partial-agg
 * sum — the same per-round shuffle discipline as connected components.
 * The edge table (the big side at 100 TB) is repartitioned on the join
 * key ONCE and checkpointed, so every round reuses its partitioning and
 * only the (node-sized) rank table shuffles; nothing pairwise, nothing
 * driver-side except the node count.
 *
 * Determinism (what makes an exact DuckDB oracle possible for a 10-round
 * float fixpoint): per-edge contributions are round6'd then summed as
 * DECIMAL (order-independent), and each round's rank is round6'd before
 * it feeds the next round — both engines iterate over bit-identical
 * 6-dp states, so even 8 rounds deep the hashes match. The oracle unrolls
 * the loop as chained CTEs (generated below).
 */
object GraphQueries extends QueryPack {

  private val Damping = 0.85
  private val Iters = 8
  private val CustCap = 500

  override def queries: Map[String, Q] = Map(
    "graph_pagerank" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_custkey") < CustCap)
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      // node encoding: customer c -> 2c, supplier s -> 2s+1
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cust"),
          (col("l_suppkey") * 2 + 1).as("supp"))
        .distinct()
      val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(pairs.select(col("supp").as("src"), col("cust").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      // partition the big side on the per-round join key ONCE; the
      // checkpoint pins that partitioning so rounds reuse it (the
      // ConnectedComponents edge-table rule)
      val edgesDeg = edges.join(deg, "src")
        .repartition(col("src")).localCheckpoint()
      val nodes = edgesDeg.select(col("src").as("node")).distinct()
      val n = nodes.count() // one tiny driver scalar, as the PQ codebooks
      var ranks = nodes.withColumn("r", round6(lit(1.0) / n)).localCheckpoint()
      for (_ <- 1 to Iters) {
        val contrib = edgesDeg.join(ranks, edgesDeg("src") === ranks("node"))
          .select(col("dst"),
            round6(col("r") / col("deg")).cast(DecimalType(27, 6)).as("c"))
        ranks = contrib.groupBy(col("dst"))
          .agg(round6(lit(0.15) / n +
            lit(Damping) * sum(col("c")).cast("double")).as("r"))
          .select(col("dst").as("node"), col("r"))
          .localCheckpoint()
      }
      ranks.select(
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("node div 2").as("entity_key"),
          col("node"), col("r").as("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(50)
        .select(col("node_type"), col("entity_key"), col("pr"))
    }),

    // Community detection by synchronous label propagation (Raghavan et
    // al. 2007) over the same bipartite trade graph as graph_pagerank —
    // the third member of the iterative family (components = reachability,
    // PageRank = centrality, LPA = community structure). Each round every
    // node adopts its neighbors' most frequent label, ties to the
    // SMALLEST label — fully deterministic, so a fixed 4-round unrolled
    // run is exact on any engine (no float state at all: labels and
    // counts are integers, nothing to round).
    //
    // Scale shape: a round is one equi-join of the node-sized label
    // table against the once-repartitioned checkpointed edge table, a
    // (dst, lbl) count partial agg, then an argmax via max(struct) —
    // partial-agg-friendly both levels, no window sort. Same per-round
    // shuffle discipline as ConnectedComponents/PageRank: the big edge
    // side never re-shuffles.
    "graph_communities" -> ((s, dir) => {
      val Rounds = 4
      val o = t(s, dir, "orders").filter(col("o_custkey") < CustCap)
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cust"),
          (col("l_suppkey") * 2 + 1).as("supp"))
        .distinct()
      val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(pairs.select(col("supp").as("src"), col("cust").as("dst")))
        .repartition(col("src")).localCheckpoint()
      var labels = edges.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")).localCheckpoint()
      for (_ <- 1 to Rounds) {
        labels = edges.join(labels, edges("src") === labels("node"))
          .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("dst"))
          .agg(max(struct(col("cnt").as("c"), (-col("lbl")).as("nl"))).as("mx"))
          .select(col("dst").as("node"), (-col("mx.nl")).as("lbl"))
          .localCheckpoint()
      }
      // canonical LPA output: the node -> community map (hash covers every
      // node's label even where the dense trade graph collapses to few
      // communities), with community size joined from a label-sized agg
      val sizes = labels.groupBy(col("lbl"))
        .agg(count(lit(1)).as("community_size"))
      labels.join(sizes, "lbl")
        .select(
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("node div 2").as("entity_key"),
          col("node"), col("lbl").as("community"), col("community_size"))
        .orderBy(col("node"))
    }),

    // Bounded-hop single-source BFS — the reachability-with-distance
    // member of the iterative family (components = reachability classes,
    // PageRank = centrality, LPA = communities, BFS = hop distance).
    // Source is the minimum node id, derived IN-PLAN as a 1-row
    // broadcast (no driver collect, no corpus-tuned constant).
    //
    // Scale shape: textbook Pregel frontier expansion — each of the
    // `MaxHops` rounds is ONE equi-join of the (shrinking, node-sized)
    // frontier against the once-repartitioned checkpointed edge table,
    // a distinct, and a left-anti against the settled-distance table, so
    // a node is expanded exactly once and the big edge side never
    // re-shuffles. All state is integer — nothing to round — so a
    // DuckDB recursive CTE (UNION-deduped (node, d) pairs, hop-bounded)
    // reproduces it exactly.
    "graph_shortest_paths" -> ((s, dir) => {
      val MaxHops = 6
      val o = t(s, dir, "orders").filter(col("o_custkey") < CustCap)
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cust"),
          (col("l_suppkey") * 2 + 1).as("supp"))
        .distinct()
      val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(pairs.select(col("supp").as("src"), col("cust").as("dst")))
        .repartition(col("src")).localCheckpoint()
      // symmetrized graph: every node appears as a src, so min(src) is
      // the global minimum node
      val src = edges.agg(min(col("src")).as("node"))
        .withColumn("dist", lit(0))
      var settled = src.localCheckpoint()
      var frontier = settled
      for (h <- 1 to MaxHops) {
        val next = edges
          .join(frontier.select(col("node")), edges("src") === col("node"))
          .select(col("dst").as("node"), lit(h).as("dist"))
          .distinct()
          .join(settled.select(col("node").as("seen")),
            col("node") === col("seen"), "left_anti")
          .localCheckpoint()
        settled = settled.unionByName(next).localCheckpoint()
        frontier = next
      }
      settled.select(
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("node div 2").as("entity_key"),
          col("node"), col("dist"))
        .orderBy(col("node"))
    }),

    // Triangle census over a top-K similarity graph — the motif /
    // local-clustering companion to PageRank. The graph is each
    // supplier's K strongest co-suppliers (most shared parts, tie by
    // id): the same shape as an embedding kNN graph, and scale-stable
    // at any SF because K bounds out-degree regardless of corpus size
    // (an absolute co-supply threshold goes empty at sf0.001 and dense
    // at sf0.1). Counting uses DEGREE-ORDERED orientation: every edge
    // points from its (deg, id)-smaller endpoint, each triangle is
    // found exactly once at its unique two-out-edge apex, and wedge
    // fan-out is bounded by the LOWER degree of each edge — O(Σ deg^1.5)
    // candidate wedges instead of the O(Σ deg²) of naive adjacency
    // (Suri & Vassilvitskii's MR trick, here as two equi-joins). The
    // naive canonical 3-way-join oracle proves the orientation finds
    // every triangle exactly once.
    "graph_knn_triangles" -> ((s, dir) => {
      val edges = coSupplyKnnEdges(s, dir, 5)
      val deg = edges.select(col("a").as("n"))
        .unionByName(edges.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val aFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val oriented = edges
        .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
        .select(when(aFirst, col("a")).otherwise(col("b")).as("src"),
          when(aFirst, col("b")).otherwise(col("a")).as("dst"),
          when(aFirst, col("db")).otherwise(col("da")).as("ddst"))
        .localCheckpoint()
      val wedges = oriented.select(col("src"), col("dst").as("d1"),
          col("ddst").as("dd1"))
        .join(oriented.select(col("src"), col("dst").as("d2"),
          col("ddst").as("dd2")), Seq("src"))
        .filter(col("dd1") < col("dd2") ||
          (col("dd1") === col("dd2") && col("d1") < col("d2")))
      // the closing edge between d1 and d2 is oriented d1 -> d2 by the
      // same (deg, id) total order the wedge filter just applied
      val tri = wedges.join(
        oriented.select(col("src").as("d1"), col("dst").as("d2")),
        Seq("d1", "d2"))
      tri.select(explode(array(col("src"), col("d1"), col("d2")))
          .as("s_suppkey"))
        .groupBy(col("s_suppkey")).agg(count(lit(1)).as("n_triangles"))
        .join(deg.select(col("n").as("s_suppkey"), col("deg")), "s_suppkey")
        .select(col("s_suppkey"), col("deg"), col("n_triangles"))
        .orderBy(col("n_triangles").desc, col("s_suppkey"))
        .limit(20)
    }),

    // Link prediction over the same K-NN co-supply graph — the graph
    // family's fourth member (components = reachability, PageRank =
    // centrality, LPA = communities, this = missing-edge inference, the
    // "suppliers who should co-supply but don't" recommendation). Every
    // non-adjacent pair with >= 1 common neighbor is scored by
    // common-neighbor count, Jaccard overlap, and the resource-allocation
    // index (Zhou, Lü & Zhang 2009, Σ_m 1/deg(m) over shared neighbors m)
    // — RA rather than Adamic-Adar because 1/deg is an EXACTLY-ROUNDED
    // IEEE division (log is not even 1-ulp-pinned across libm builds), so
    // per-term round6 + DECIMAL sum is bit-identical on both engines:
    // the graph_pagerank determinism discipline.
    //
    // Scale shape: candidate generation is ONE self-equi-join of the
    // adjacency list on the middle node, whose fan-out is bounded by the
    // kNN construction (deg <= 2K whatever the corpus size) — no hub
    // blowup, no all-pairs anywhere. Scores are partial-agg sums, the
    // non-edge check is one anti-join on the ordered pair, and only the
    // 50-row answer ever sorts (TakeOrdered, not a global sort).
    "graph_link_predict" -> ((s, dir) => {
      val edges = coSupplyKnnEdges(s, dir, 5)
      val adj = edges.select(col("a").as("mid"), col("b").as("nb"))
        .unionByName(edges.select(col("b").as("mid"), col("a").as("nb")))
      val deg = adj.groupBy(col("mid")).agg(count(lit(1)).as("deg"))
      val adjDeg = adj.join(deg, "mid")
      val cand = adjDeg.as("x").join(adjDeg.as("y"),
          col("x.mid") === col("y.mid") && col("x.nb") < col("y.nb"))
        .groupBy(col("x.nb").as("u"), col("y.nb").as("v"))
        .agg(count(lit(1)).as("cn"),
          sum(round6(lit(1.0) / col("x.deg"))
            .cast(DecimalType(27, 6))).as("ra_sum"))
      val nonEdges = cand.join(edges,
        cand("u") === edges("a") && cand("v") === edges("b"), "left_anti")
      nonEdges
        .join(deg.select(col("mid").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("mid").as("v"), col("deg").as("dv")), "v")
        .select(col("u"), col("v"), col("cn"),
          round6(col("cn") / (col("du") + col("dv") - col("cn")))
            .as("jaccard"),
          round6(col("ra_sum").cast("double")).as("ra"))
        .orderBy(col("cn").desc, col("ra").desc, col("u"), col("v"))
        .limit(50)
    })
  )

  /** Each supplier's K strongest co-suppliers (most shared parts, tie by
    * id) as an undirected `(a < b)` edge list — the shared graph base of
    * `graph_knn_triangles` and `graph_link_predict`. Shape: the same as
    * an embedding kNN graph, scale-stable at any SF because K bounds
    * out-degree regardless of corpus size (an absolute co-supply
    * threshold goes empty at sf0.001 and dense at sf0.1).
    *
    * Discriminative-part cut: a part supplied by everyone carries no
    * co-supply signal and contributes C(fan, 2) pair rows — the same
    * document-frequency cut as dedup_span_overlap's stop-gram cap. The
    * threshold is DERIVED FROM THE FAN DISTRIBUTION in-plan (mean fan —
    * the classic above-average-df stopword rule), not a corpus-tuned
    * constant (r5 shipped FanCap=24, correct for sf0.1 only): the 1-row
    * mean broadcasts into the filter, so the same code binds
    * proportionally at every SF. At sf0.1 this keeps the pair build at
    * 6.6M rows vs the dense 17.4M of the COMPLETE co-occurrence graph,
    * where per-pair partial aggregation stops compressing because nearly
    * all supplier pairs co-occur. */
  /** One co-supply kNN edge table per (lineitem table, k) — the graph
    * analog of DedupQueries' shared near-dup pair table: BOTH consumers
    * (`graph_knn_triangles`, `graph_link_predict`) run over the
    * identical 6.6M-pair build, which re-ran per query before r17. At
    * 100 TB this IS the design: the similarity graph is a persisted
    * artifact of the graph-index job, not a per-query scan. */
  private def coSupplyKnnEdges(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int): org.apache.spark.sql.DataFrame =
    graft.util.SharedArtifact(s, "cosupply_edges", Seq(s"$dir/lineitem.parquet"),
      k)(buildCoSupplyKnnEdges(s, dir, k))

  private def buildCoSupplyKnnEdges(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int): org.apache.spark.sql.DataFrame = {
    val psAll = t(s, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()
    val fans = psAll.groupBy(col("pk")).agg(count(lit(1)).as("fan"))
    val meanFan = fans.agg(avg(col("fan")).as("cap"))
    val rareParts = fans.crossJoin(broadcast(meanFan))
      .filter(col("fan") <= col("cap"))
      .select(col("pk"))
    // NO broadcast hint on rareParts: the below-mean-fan allow-list is
    // proportional to |parts| — the one operand here not bounded by
    // construction, so at 100× part cardinality a forced broadcast is a
    // driver OOM. Let the left-semi join plan itself (AQE broadcasts it
    // while it is small, shuffles it when it is not); the df-derived cut
    // is the scale lever, not the join strategy.
    val ps = psAll.join(rareParts, Seq("pk"), "left_semi")
    val co = ps.as("x").join(ps.as("y"),
        col("x.pk") === col("y.pk") && col("x.sk") =!= col("y.sk"))
      .groupBy(col("x.sk").as("u"), col("y.sk").as("v"))
      .agg(count(lit(1)).as("n_shared"))
    // per-u strongest-k via the bounded partial-agg top-k (r17): the
    // row_number window shuffled and SORTED every co-occurring pair;
    // TopKByScore's (score desc, id asc) total order is exactly the
    // (n_shared desc, v) ranking, and a count cast to double is exact
    co.groupBy(col("u"))
      .agg(graft.functions.TopKByScore(k)(
        col("n_shared").cast("double"), col("v")).as("h"))
      .select(col("u"), explode(col("h.id")).as("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct().localCheckpoint()
  }

  override def oracleSql: Map[String, String] = Map(
    "graph_communities" -> {
      def round(i: Int): String = {
        val prev = s"l${i - 1}"
        s"""l$i AS (
           |  SELECT dst AS node, lbl FROM (
           |    SELECT e.dst, x.lbl, count(*) AS cnt,
           |      row_number() OVER (PARTITION BY e.dst
           |                         ORDER BY count(*) DESC, x.lbl) AS rk
           |    FROM edges e JOIN $prev x ON e.src = x.node
           |    GROUP BY e.dst, x.lbl)
           |  WHERE rk = 1
           |)""".stripMargin
      }
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS cust, l_suppkey * 2 + 1 AS supp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_custkey < $CustCap
         |), edges AS (
         |  SELECT cust AS src, supp AS dst FROM pairs
         |  UNION ALL
         |  SELECT supp, cust FROM pairs
         |), l0 AS (
         |  SELECT DISTINCT src AS node, src AS lbl FROM edges
         |),
         |${(1 to 4).map(round).mkString(",\n")}
         |, sizes AS (
         |  SELECT lbl, count(*) AS community_size FROM l4 GROUP BY lbl
         |)
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |    AS node_type,
         |  node // 2 AS entity_key, node, lbl AS community, community_size
         |FROM l4 JOIN sizes USING (lbl)
         |ORDER BY node""".stripMargin
    },
    "graph_shortest_paths" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS cust, l_suppkey * 2 + 1 AS supp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_custkey < $CustCap
         |), edges AS (
         |  SELECT cust AS src, supp AS dst FROM pairs
         |  UNION ALL
         |  SELECT supp, cust FROM pairs
         |), bfs(node, d) AS (
         |  SELECT min(src), 0 FROM edges
         |  UNION
         |  SELECT e.dst, b.d + 1
         |  FROM bfs b JOIN edges e ON e.src = b.node WHERE b.d < 6
         |)
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |    AS node_type,
         |  node // 2 AS entity_key, node, CAST(min(d) AS INT) AS dist
         |FROM bfs GROUP BY node
         |ORDER BY node""".stripMargin,
    "graph_pagerank" -> {
      val r6 = graft.QueryPack.round6Sql _
      def round(i: Int): String = {
        val prev = if (i == 1) "r0" else s"r${i - 1}"
        val contribSum = "CAST(CAST(sum(CAST(" +
          r6("r.r / d.deg") + " AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)"
        s"""r$i AS (
           |  SELECT e.dst AS node,
           |    ${r6(s"0.15e0 / nn.n + 0.85e0 * $contribSum")} AS r
           |  FROM edges e
           |  JOIN $prev r ON e.src = r.node
           |  JOIN deg d ON e.src = d.src
           |  CROSS JOIN nn
           |  GROUP BY e.dst, nn.n
           |)""".stripMargin
      }
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS cust, l_suppkey * 2 + 1 AS supp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_custkey < $CustCap
         |), edges AS (
         |  SELECT cust AS src, supp AS dst FROM pairs
         |  UNION ALL
         |  SELECT supp, cust FROM pairs
         |), deg AS (
         |  SELECT src, count(*) AS deg FROM edges GROUP BY src
         |), nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |), nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT node, ${r6("1e0 / nn.n")} AS r FROM nodes CROSS JOIN nn),
         |${(1 to Iters).map(round).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |    AS node_type,
         |  node // 2 AS entity_key, r AS pr
         |FROM r$Iters ORDER BY pr DESC, node LIMIT 50""".stripMargin
    },
    // Naive canonical enumeration (a<b edges, 3-way join, a<b<c) —
    // equality proves the degree-ordered orientation finds every
    // triangle exactly once.
    "graph_knn_triangles" ->
      """WITH ps_all AS (
        |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
        |), ps AS (
        |  SELECT pk, sk FROM ps_all
        |  WHERE pk IN (SELECT pk FROM ps_all GROUP BY pk
        |               HAVING count(*) <= (
        |                 SELECT avg(fan) FROM (
        |                   SELECT count(*) AS fan FROM ps_all GROUP BY pk)))
        |), co AS (
        |  SELECT x.sk AS u, y.sk AS v, count(*) AS n_shared
        |  FROM ps x JOIN ps y ON x.pk = y.pk AND x.sk <> y.sk
        |  GROUP BY x.sk, y.sk
        |), knn AS (
        |  SELECT u, v FROM (
        |    SELECT u, v, row_number() OVER (
        |      PARTITION BY u ORDER BY n_shared DESC, v) AS rk
        |    FROM co)
        |  WHERE rk <= 5
        |), edges AS MATERIALIZED (
        |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM knn
        |), deg AS (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT a AS n FROM edges UNION ALL SELECT b FROM edges)
        |  GROUP BY n
        |), tri AS (
        |  SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
        |  FROM edges e1
        |  JOIN edges e2 ON e2.a = e1.b
        |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        |), pernode AS (
        |  SELECT n AS s_suppkey, count(*) AS n_triangles
        |  FROM (SELECT unnest([n1, n2, n3]) AS n FROM tri)
        |  GROUP BY n
        |)
        |SELECT p.s_suppkey, d.deg, p.n_triangles
        |FROM pernode p JOIN deg d ON d.n = p.s_suppkey
        |ORDER BY p.n_triangles DESC, p.s_suppkey LIMIT 20""".stripMargin,

    // Same kNN edge derivation as graph_knn_triangles, then textbook
    // CN/Jaccard/RA from the adjacency list. The RA sum mirrors the
    // pagerank decimal discipline: round6 per term, DECIMAL(27,6) sum,
    // VARCHAR->DOUBLE conversion (DuckDB's direct decimal->double cast
    // is not correctly rounded).
    "graph_link_predict" -> {
      val r6 = graft.QueryPack.round6Sql _
      val raSum = "CAST(CAST(sum(CAST(" +
        r6("1e0 / d.deg") + " AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)"
      s"""WITH ps_all AS (
         |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
         |), ps AS (
         |  SELECT pk, sk FROM ps_all
         |  WHERE pk IN (SELECT pk FROM ps_all GROUP BY pk
         |               HAVING count(*) <= (
         |                 SELECT avg(fan) FROM (
         |                   SELECT count(*) AS fan FROM ps_all GROUP BY pk)))
         |), co AS (
         |  SELECT x.sk AS u, y.sk AS v, count(*) AS n_shared
         |  FROM ps x JOIN ps y ON x.pk = y.pk AND x.sk <> y.sk
         |  GROUP BY x.sk, y.sk
         |), knn AS (
         |  SELECT u, v FROM (
         |    SELECT u, v, row_number() OVER (
         |      PARTITION BY u ORDER BY n_shared DESC, v) AS rk
         |    FROM co)
         |  WHERE rk <= 5
         |), edges AS MATERIALIZED (
         |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM knn
         |), adj AS (
         |  SELECT a AS mid, b AS nb FROM edges
         |  UNION ALL SELECT b, a FROM edges
         |), deg AS (
         |  SELECT mid, count(*) AS deg FROM adj GROUP BY mid
         |), cand AS (
         |  SELECT x.nb AS u, y.nb AS v, count(*) AS cn, $raSum AS ra_raw
         |  FROM adj x
         |  JOIN adj y ON x.mid = y.mid AND x.nb < y.nb
         |  JOIN deg d ON d.mid = x.mid
         |  GROUP BY x.nb, y.nb
         |)
         |SELECT c.u, c.v, c.cn,
         |  ${r6("c.cn / (du.deg + dv.deg - c.cn)")} AS jaccard,
         |  ${r6("ra_raw")} AS ra
         |FROM cand c
         |JOIN deg du ON du.mid = c.u
         |JOIN deg dv ON dv.mid = c.v
         |WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.a = c.u AND e.b = c.v)
         |ORDER BY cn DESC, ra DESC, u, v LIMIT 50""".stripMargin
    }
  )
}
