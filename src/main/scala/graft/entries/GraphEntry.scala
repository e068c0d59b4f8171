package graft
package entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Graph
import graft.operators.Sampling.samplingHashSql
import SparkEntry.{copurchaseEdges, eventTransitions, lpaLabels}

/** The 23 `graph_*` queries: iterative and wedge-join graph analytics
  * over two shared graphs, each declared once with its Spark frame beside
  * the DuckDB oracle it must equal. 21 read the undirected part
  * co-purchase graph ([[SparkEntry.copurchaseEdges]]), whose oracles open
  * with [[copurchaseCtes]]; graph_hits and graph_reciprocity read the
  * directed event-type transition graph ([[transitionEdges]],
  * [[transitionCtes]]). The determinism rules of [[SparkEntry]] apply to
  * every entry.
  */
object GraphEntry {

  /** The directed event-type transition graph of ana_pagerank,
    * ana_pagerank_pers, graph_hits and graph_reciprocity: the memoized
    * [[SparkEntry.eventTransitions]] without self-loops, as (src, dst).
    */
  private[graft] def transitionEdges(s: SparkSession, dir: String): DataFrame =
    eventTransitions(s, dir).filter(col("from_type") =!= col("to_type"))
      .select(col("from_type").as("src"), col("to_type").as("dst"))

  /** The distinct endpoints of an edge frame (src, dst), as `node`. */
  private[graft] def nodeSet(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()

  /** [[transitionEdges]] in SQL: `tr`, each event's successor type per
    * user in (ts, event_id) order, and `e`, the distinct non-self
    * transitions (src, dst).
    */
  private[graft] val transitionCtes: String =
    """tr AS (SELECT event_type AS cur,
      |        lead(event_type) OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id) AS nxt
      |      FROM events),
      |e AS (SELECT DISTINCT cur AS src, nxt AS dst FROM tr
      |      WHERE nxt IS NOT NULL AND nxt <> cur)""".stripMargin

  /** The node set of the transition graph `e`. */
  private[graft] val transitionNodesCte: String =
    "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)"

  /** [[SparkEntry.copurchaseEdges]] in SQL, the chain 21 oracles open
    * with: `it`, the distinct (order, part) rows, and `e`, the part pairs
    * x < y that share at least 2 orders. `counted` keeps the pair count
    * `c` beside the endpoints `x`, `y`; the uncounted chain is always
    * (src, dst), and `materialized` pins both CTEs for the iterative
    * oracles. The layouts break their lines at different points, which
    * the swapped separators below keep byte for byte.
    */
  private def copurchaseCtes(x: String = "src", y: String = "dst",
                             counted: Boolean = true,
                             materialized: Boolean = false): String = {
    val (m, nl) = (if (materialized) " MATERIALIZED" else "", "\n      ")
    val (it1, it2) = if (materialized) (nl, " ") else (" ", nl)
    val (e1, e2) = if (counted) (s", count(*) AS c$nl", " ") else (" ", nl)
    s"it AS$m (SELECT DISTINCT l_orderkey AS bk,${it1}l_partkey AS pt${it2}FROM lineitem),\n" +
      s"e AS$m (SELECT l.pt AS $x, r.pt AS $y${e1}FROM it l${e2}" +
      s"JOIN it r ON l.bk = r.bk AND l.pt < r.pt${nl}GROUP BY 1, 2 HAVING count(*) >= 2)"
  }

  /** `und`, the symmetrized co-purchase edges, as a set UNION. */
  private val undCte: String =
    """und AS (SELECT src AS u, dst AS v FROM e
      |      UNION SELECT dst, src FROM e)""".stripMargin

  /** `und` as the DISTINCT of a UNION ALL. */
  private def undDistinctCte(materialized: Boolean = false): String =
    s"""und AS${if (materialized) " MATERIALIZED" else ""} (SELECT DISTINCT u, v FROM (
       |      SELECT src AS u, dst AS v FROM e
       |      UNION ALL SELECT dst, src FROM e))""".stripMargin

  /** `deg`, each node's BIGINT neighbor count over `und`. */
  private val degCte: String =
    """deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
      |      FROM und GROUP BY 1)""".stripMargin

  /** The 2-round LPA over `und` ([[SparkEntry.lpaLabels]] in SQL),
    * seeded with node % 3: `l1` holds the round-1 labels and `w2` the
    * round-2 winners, ties broken towards the smaller label.
    */
  private val lpaCtes: String =
    """nodes AS (SELECT DISTINCT u AS node FROM und),
      |l0 AS (SELECT node, node % 3 AS label FROM nodes),
      |v1 AS (SELECT und.v AS node, l0.label AS label, count(*) AS c
      |      FROM l0 JOIN und ON und.u = l0.node GROUP BY 1, 2),
      |w1 AS (SELECT node, label AS new_label FROM (
      |      SELECT node, label, row_number() OVER (PARTITION BY node
      |        ORDER BY c DESC, label) AS rn FROM v1) WHERE rn = 1),
      |l1 AS (SELECT l0.node, coalesce(w1.new_label, l0.label) AS label
      |      FROM l0 LEFT JOIN w1 ON w1.node = l0.node),
      |v2 AS (SELECT und.v AS node, l1.label AS label, count(*) AS c
      |      FROM l1 JOIN und ON und.u = l1.node GROUP BY 1, 2),
      |w2 AS (SELECT node, label AS new_label FROM (
      |      SELECT node, label, row_number() OVER (PARTITION BY node
      |        ORDER BY c DESC, label) AS rn FROM v2) WHERE rn = 1)""".stripMargin

  /** After [[lpaCtes]]: `lab`, the final labels, `el`, the label pair of
    * each directed `und` edge, and `m2`, the directed edge count.
    */
  private val labelEdgeCtes: String =
    """lab AS (SELECT l1.node AS node, coalesce(w2.new_label, l1.label)
      |        AS label FROM l1 LEFT JOIN w2 ON w2.node = l1.node),
      |el AS (SELECT lu.label AS lu, lv.label AS lv
      |      FROM und JOIN lab lu ON lu.node = und.u
      |      JOIN lab lv ON lv.node = und.v),
      |m2 AS (SELECT count(*) AS m2 FROM el)""".stripMargin

  val queries: Seq[Q] = Seq(

    // Per-node triangle counts over the part co-purchase graph (parts
    // sharing >= 2 orders) — degree-oriented O(m^1.5) wedge closure; the
    // oracle's naive a<b<c closure proves orientation-free semantics.
    Q("graph_triangles", (s, dir) =>
      Graph.triangleCounts(copurchaseEdges(s, dir)).orderBy("node"),
      // Naive a<b<c triangle closure over the same co-purchase edges —
      // exact-count parity with the Spark side's degree-oriented wedge
      // join proves the orientation is semantics-free.
      s"""WITH ${copurchaseCtes("a", "b")},
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |      FROM e e1
         |      JOIN e e2 ON e2.a = e1.b
         |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |n AS (SELECT x AS node FROM tri UNION ALL
         |      SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |SELECT node, count(*) AS n_triangles
         |FROM n GROUP BY 1 ORDER BY node""".stripMargin),

    // Log2-bucketed degree distribution of the same co-purchase graph —
    // the power-law-or-not diagnostic run before heavier graph passes;
    // <=64 histogram rows regardless of graph size.
    Q("graph_degree_hist", (s, dir) =>
      Graph.degreeHistogram(copurchaseEdges(s, dir)).orderBy("bucket"),
      // Degree = distinct-neighbor count over the same a<b edge set;
      // bucket via binary digit count (exact), bounds via power(2, b)
      // (exact in double far past any real bucket).
      s"""WITH ${copurchaseCtes("a", "b")},
         |deg AS (SELECT node, count(*) AS degree FROM (
         |          SELECT a AS node FROM e UNION ALL SELECT b FROM e)
         |        GROUP BY 1),
         |h AS (SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS bucket,
         |        degree FROM deg)
         |SELECT bucket, CAST(power(2, bucket) AS BIGINT) AS lo,
         |  CAST(power(2, bucket + 1) AS BIGINT) - 1 AS hi,
         |  count(*) AS n_nodes, max(degree) AS max_degree
         |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Truncated BFS (3 hops) from the 5 smallest-id nodes of the
    // co-purchase graph — frontier-only propagation per round; the
    // bounded-radius reachability pass.
    Q("graph_bfs_hops", (s, dir) => {
      val edges = copurchaseEdges(s, dir)
      Graph.bfsHops(edges, nodeSet(edges).orderBy("node").limit(5), 3)
        .orderBy("node")
    },
      // BFS: Bellman-Ford-shaped full-table relaxation per hop — same min
      // distance as the Spark side's frontier BFS (exact, not just
      // equivalent-in-the-limit: min over (d_k ∪ d_k-propagated) is the
      // BFS distance truncated at k).
      s"""WITH ${copurchaseCtes()},
         |$undCte,
         |nodes AS (SELECT DISTINCT u AS node FROM und),
         |seeds AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes
         |      ORDER BY node LIMIT 5),
         |d1 AS (SELECT node, min(dist) AS dist FROM (
         |      SELECT node, dist FROM seeds UNION ALL
         |      SELECT und.v, seeds.dist + 1 FROM seeds
         |        JOIN und ON und.u = seeds.node) GROUP BY 1),
         |d2 AS (SELECT node, min(dist) AS dist FROM (
         |      SELECT node, dist FROM d1 UNION ALL
         |      SELECT und.v, d1.dist + 1 FROM d1
         |        JOIN und ON und.u = d1.node) GROUP BY 1),
         |d3 AS (SELECT node, min(dist) AS dist FROM (
         |      SELECT node, dist FROM d2 UNION ALL
         |      SELECT und.v, d2.dist + 1 FROM d2
         |        JOIN und ON und.u = d2.node) GROUP BY 1)
         |SELECT node, dist FROM d3 ORDER BY node""".stripMargin),

    // Truncated closeness + harmonic centrality for the 3 lowest-id
    // landmark seeds of the co-purchase graph — per-seed BFS to depth 3
    // with the seed carried in the frontier state.
    Q("graph_closeness", (s, dir) => {
      val edges = copurchaseEdges(s, dir)
      Graph.closenessCard(edges, nodeSet(edges).orderBy("node").limit(3), 3)
        .orderBy("node")
    },
      // Per-seed BFS unrolled with the seed carried through each level's
      // min; harmonic = DECIMAL sum of 9-dp 1/d terms.
      s"""WITH ${copurchaseCtes()},
         |$undCte,
         |nodes AS (SELECT DISTINCT u AS node FROM und),
         |s0 AS (SELECT node AS seed FROM nodes ORDER BY node LIMIT 3),
         |b0 AS (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist
         |      FROM s0),
         |b1 AS (SELECT seed, node, min(dist) AS dist FROM (
         |      SELECT seed, node, dist FROM b0 UNION ALL
         |      SELECT b0.seed, und.v, b0.dist + 1 FROM b0
         |        JOIN und ON und.u = b0.node) GROUP BY 1, 2),
         |b2 AS (SELECT seed, node, min(dist) AS dist FROM (
         |      SELECT seed, node, dist FROM b1 UNION ALL
         |      SELECT b1.seed, und.v, b1.dist + 1 FROM b1
         |        JOIN und ON und.u = b1.node) GROUP BY 1, 2),
         |b3 AS (SELECT seed, node, min(dist) AS dist FROM (
         |      SELECT seed, node, dist FROM b2 UNION ALL
         |      SELECT b2.seed, und.v, b2.dist + 1 FROM b2
         |        JOIN und ON und.u = b2.node) GROUP BY 1, 2),
         |a AS (SELECT seed, count(*) AS n_reached,
         |        CAST(sum(dist) AS BIGINT) AS total_dist,
         |        CAST(sum(CAST(round((1e0 / dist) * 1000000000) / 1000000000
         |            AS DECIMAL(18,9)))
         |          AS DOUBLE) AS h
         |      FROM b3 WHERE dist > 0 GROUP BY 1)
         |SELECT s0.seed AS node, coalesce(n_reached, 0) AS n_reached,
         |  coalesce(total_dist, 0) AS total_dist,
         |  round((CAST(n_reached AS DOUBLE)
         |    / nullif(CAST(total_dist AS DOUBLE), 0e0)) * 1000000)
         |    / 1000000 AS closeness,
         |  round(coalesce(h, 0e0) * 1000000) / 1000000 AS harmonic
         |FROM s0 LEFT JOIN a USING (seed) ORDER BY node""".stripMargin),

    // Degree assortativity of the co-purchase graph — the one-scalar
    // rich-club-or-hub-spoke diagnostic behind partitioning choices.
    Q("graph_assortativity", (s, dir) =>
      Graph.assortativity(copurchaseEdges(s, dir)),
      // Assortativity: symmetric directed-edge view, five DECIMAL(38,0)
      // exact sums, one rounded Pearson division.
      s"""WITH ${copurchaseCtes()},
         |$undCte,
         |$degCte,
         |j AS (SELECT dx.deg AS x, dy.deg AS y FROM und
         |      JOIN deg dx ON dx.node = und.u
         |      JOIN deg dy ON dy.node = und.v),
         |a AS (SELECT count(*) AS m,
         |        CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         |        CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         |        CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
         |      FROM j)
         |SELECT m AS n_directed_edges,
         |  round(((CAST(m AS DOUBLE) * sxy - sx * sx)
         |    / nullif(CAST(m AS DOUBLE) * sxx - sx * sx, 0.0)) * 1000000)
         |    / 1000000
         |    AS assortativity
         |FROM a""".stripMargin),

    // Adamic–Adar link prediction over the co-purchase graph: NON-adjacent
    // part pairs ranked by hub-discounted common-neighbor mass (wedge-join
    // bounded; score >= 1.0 prunes the tail).
    Q("graph_adamic_adar", (s, dir) =>
      Graph.adamicAdar(copurchaseEdges(s, dir), 1.0).orderBy("x", "y"),
      // Adamic–Adar: per common neighbor z, weight 1/ln(deg z) rounded to
      // 9 dp and DECIMAL-summed over wedges; adjacent pairs anti-joined
      // out; score >= 1.0.
      s"""WITH ${copurchaseCtes()},
         |$undCte,
         |$degCte,
         |ww AS (SELECT und.u, und.v,
         |        CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 9)
         |          AS DECIMAL(28,9)) AS w
         |      FROM und JOIN deg ON deg.node = und.v
         |      WHERE deg >= 2),
         |wg AS (SELECT a.u AS x, b.u AS y, sum(a.w) AS aa,
         |        CAST(count(*) AS BIGINT) AS common
         |      FROM ww a JOIN ww b ON a.v = b.v AND a.u < b.u
         |      GROUP BY 1, 2),
         |na AS (SELECT wg.* FROM wg LEFT JOIN und
         |        ON und.u = wg.x AND und.v = wg.y
         |      WHERE und.u IS NULL)
         |SELECT x, y, common, CAST(round(aa, 6) AS DOUBLE) AS adamic_adar
         |FROM na WHERE CAST(round(aa, 6) AS DOUBLE) >= 1.0
         |ORDER BY x, y""".stripMargin),

    // Rich-club coefficient ladder (k=2,4,8) — do the hubs
    // preferentially interconnect (the degree-join hotspot diagnostic
    // beside graph_powerlaw's tail exponent).
    Q("graph_rich_club", (s, dir) =>
      Graph.richClub(copurchaseEdges(s, dir)).orderBy("k"),
      // Rich club: per-k induced-subgraph density via two semijoins.
      {
        def one(k: Long) =
          s"""SELECT CAST($k AS BIGINT) AS k,
             |  (SELECT count(*) FROM deg WHERE deg > $k) AS n_club,
             |  (SELECT count(*) // 2 FROM und
             |   JOIN (SELECT node FROM deg WHERE deg > $k) cu
             |     ON und.u = cu.node
             |   JOIN (SELECT node FROM deg WHERE deg > $k) cv
             |     ON und.v = cv.node) AS e_club""".stripMargin
        s"""WITH ${copurchaseCtes()},
           |$undCte,
           |$degCte,
           |l AS (${Seq(2L, 4L, 8L).map(one).mkString("\nUNION ALL ")})
           |SELECT k, n_club, e_club,
           |  round((2.0 * CAST(e_club AS DOUBLE)
           |    / nullif(CAST(n_club AS DOUBLE)
           |      * CAST(n_club - 1 AS DOUBLE), 0.0)) * 1000000) / 1000000
           |    AS phi
           |FROM l ORDER BY k""".stripMargin
      }),

    // Power-law tail MLE of the co-purchase degree distribution
    // (Clauset-Shalizi-Newman α at xmin=5) — the hub-skew scalar that
    // decides whether degree-keyed joins need salting.
    Q("graph_powerlaw", (s, dir) =>
      Graph.powerlawTail(copurchaseEdges(s, dir), 5L),
      // Clauset–Shalizi–Newman continuous MLE over the degree tail.
      s"""WITH ${copurchaseCtes()},
         |$undCte,
         |$degCte,
         |t AS (SELECT count(*) AS n_nodes FROM deg),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_tail,
         |        sum(CAST(round(ln(CAST(deg AS DOUBLE) / 5.0), 9)
         |          AS DECIMAL(28,9))) AS slog
         |      FROM deg WHERE deg >= 5)
         |SELECT n_nodes, n_tail, CAST(5 AS BIGINT) AS xmin,
         |  round((CAST(n_tail AS DOUBLE)
         |    / nullif(CAST(n_nodes AS DOUBLE), 0.0)) * 1000000) / 1000000
         |    AS tail_frac,
         |  round((1.0 + CAST(n_tail AS DOUBLE)
         |    / nullif(CAST(slog AS DOUBLE), 0.0)) * 1000000) / 1000000
         |    AS alpha_hill
         |FROM a CROSS JOIN t""".stripMargin),

    // Truncated 3-core (3 pruning rounds) of the co-purchase graph —
    // densest-region extraction; threshold-only pruning, no tie-breaks.
    Q("graph_kcore", (s, dir) =>
      Graph.kCore(copurchaseEdges(s, dir), 3, 3).orderBy("node"),
      // k-core: three unrolled pruning rounds — degree within the
      // surviving subgraph via two semijoins, threshold filter, repeat.
      s"""WITH ${copurchaseCtes()},
         |$undCte,
         |n0 AS (SELECT DISTINCT u AS node FROM und),
         |d1 AS (SELECT und.u AS node, count(*) AS degree FROM und
         |      JOIN n0 a ON a.node = und.u JOIN n0 b ON b.node = und.v
         |      GROUP BY 1),
         |s1 AS (SELECT node FROM d1 WHERE degree >= 3),
         |d2 AS (SELECT und.u AS node, count(*) AS degree FROM und
         |      JOIN s1 a ON a.node = und.u JOIN s1 b ON b.node = und.v
         |      GROUP BY 1),
         |s2 AS (SELECT node FROM d2 WHERE degree >= 3),
         |d3 AS (SELECT und.u AS node, count(*) AS degree FROM und
         |      JOIN s2 a ON a.node = und.u JOIN s2 b ON b.node = und.v
         |      GROUP BY 1)
         |SELECT node, degree FROM d3 WHERE degree >= 3
         |ORDER BY node""".stripMargin),

    // Common-neighbor Jaccard ≥ 0.25 over the co-purchase graph — the
    // item-item collaborative-filtering similarity (wedge-join bounded,
    // never |V|²).
    Q("graph_node_jaccard", (s, dir) =>
      Graph.nodeJaccard(copurchaseEdges(s, dir), 0.25).orderBy("x", "y"),
      // Node Jaccard: shared-neighbor wedge join (a.v = b.v, u-ordered),
      // exact BIGINT counts, one rounded division.
      s"""WITH ${copurchaseCtes()},
         |$undCte,
         |deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY 1),
         |cmn AS (SELECT a.u AS x, b.u AS y, count(*) AS common
         |      FROM und a JOIN und b ON a.v = b.v AND a.u < b.u
         |      GROUP BY 1, 2),
         |j AS (SELECT x, y, common,
         |        round((CAST(common AS DOUBLE)
         |          / CAST(dx.deg + dy.deg - common AS DOUBLE)) * 1000000)
         |          / 1000000 AS jaccard
         |      FROM cmn JOIN deg dx ON dx.node = x
         |      JOIN deg dy ON dy.node = y)
         |SELECT x, y, common, jaccard FROM j WHERE jaccard >= 0.25
         |ORDER BY x, y""".stripMargin),

    // Two synchronous majority-vote LPA rounds over the co-purchase
    // graph, seeded with label = node % 3, ties -> smallest label.
    Q("graph_label_prop", (s, dir) =>
      lpaLabels(s, dir).orderBy("node"),
      // LPA: two unrolled synchronous rounds, argmax by (count DESC,
      // label ASC) row_number — the same deterministic tie-break as the
      // Spark window; isolated nodes coalesce back to their own label.
      s"""WITH ${copurchaseCtes()},
         |$undCte,
         |$lpaCtes
         |SELECT l1.node AS node, coalesce(w2.new_label, l1.label) AS label
         |FROM l1 LEFT JOIN w2 ON w2.node = l1.node
         |ORDER BY l1.node""".stripMargin),

    // Newman modularity of the 2-round LPA partition, per community —
    // "did the propagation find structure" (Q = sum of q_contrib).
    Q("graph_modularity", (s, dir) =>
      Graph.modularity(copurchaseEdges(s, dir), lpaLabels(s, dir)).orderBy("label"),
      // Modularity of the same 2-round LPA labeling: per-community
      // intra-edge and degree masses over the directed edge view.
      s"""WITH ${copurchaseCtes()},
         |$undCte,
         |$lpaCtes,
         |$labelEdgeCtes,
         |degs AS (SELECT lu AS label, CAST(count(*) AS BIGINT)
         |          AS degree_sum,
         |        CAST(sum(CASE WHEN lu = lv THEN 1 ELSE 0 END) AS BIGINT)
         |          AS intra_directed
         |      FROM el GROUP BY 1),
         |sizes AS (SELECT label, count(*) AS n_nodes FROM lab GROUP BY 1)
         |SELECT sizes.label AS label, n_nodes,
         |  coalesce(intra_directed, 0) AS intra_directed,
         |  coalesce(degree_sum, 0) AS degree_sum,
         |  round((CAST(coalesce(intra_directed, 0) AS DOUBLE)
         |      / nullif(CAST(m2 AS DOUBLE), 0.0)
         |    - (CAST(coalesce(degree_sum, 0) AS DOUBLE)
         |      / nullif(CAST(m2 AS DOUBLE), 0.0))
         |      * (CAST(coalesce(degree_sum, 0) AS DOUBLE)
         |      / nullif(CAST(m2 AS DOUBLE), 0.0))) * 1000000) / 1000000
         |    AS q_contrib
         |FROM sizes LEFT JOIN degs USING (label) CROSS JOIN m2
         |ORDER BY label""".stripMargin),

    // Conductance of the same 2-round LPA communities — the boundary-
    // leakiness complement to graph_modularity's density contrast
    // (cut over min volume, the Cheeger quantity).
    Q("graph_conductance", (s, dir) =>
      Graph.conductance(copurchaseEdges(s, dir), lpaLabels(s, dir)).orderBy("label"),
      // Conductance: same LPA CTE chain as graph_modularity; on the
      // symmetrized edges a crossing undirected edge lands exactly once
      // in the (lu in C, lv outside) count, so cut and volume share one
      // aggregate; ratio DECIMAL-routed (1/128 is an exact 7-dp half).
      s"""WITH ${copurchaseCtes()},
         |$undCte,
         |$lpaCtes,
         |$labelEdgeCtes,
         |per AS (SELECT lu AS label, CAST(count(*) AS BIGINT) AS volume,
         |        CAST(sum(CASE WHEN lu <> lv THEN 1 ELSE 0 END) AS BIGINT)
         |          AS cut
         |      FROM el GROUP BY 1),
         |sizes AS (SELECT label, count(*) AS n_nodes FROM lab GROUP BY 1)
         |SELECT sizes.label AS label, n_nodes,
         |  coalesce(volume, 0) AS volume, coalesce(cut, 0) AS cut,
         |  round((CAST(coalesce(cut, 0) AS DOUBLE)
         |    / nullif(CAST(least(coalesce(volume, 0),
         |        m2 - coalesce(volume, 0)) AS DOUBLE), 0.0)) * 1000000)
         |    / 1000000 AS conductance
         |FROM sizes LEFT JOIN per USING (label) CROSS JOIN m2
         |ORDER BY label""".stripMargin),

    // k_nn(k) degree–neighbor-degree curve: the hub-and-spoke profile
    // the assortativity scalar can hide.
    Q("graph_knn_degree", (s, dir) =>
      Graph.avgNeighborDegree(copurchaseEdges(s, dir)).orderBy("deg"),
      // k_nn(k): per-node mean neighbor degree 12-dp-quantized before the
      // per-degree-class mean (both engines average identical decimals).
      s"""WITH ${copurchaseCtes(counted = false)},
         |${undDistinctCte()},
         |$degCte,
         |pn AS (SELECT und.u AS node, du.deg AS deg,
         |        CAST(round((CAST(sum(CAST(dv.deg AS DECIMAL(38,0)))
         |            AS DOUBLE) / count(*)) * 1e12) / 1e12
         |          AS DECIMAL(24,12)) AS nn12
         |      FROM und JOIN deg du ON du.node = und.u
         |      JOIN deg dv ON dv.node = und.v GROUP BY 1, 2)
         |SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes,
         |  round((CAST(sum(nn12) AS DOUBLE) / count(*)) * 1000000) / 1000000
         |    AS avg_nn_deg
         |FROM pn GROUP BY deg ORDER BY deg""".stripMargin),

    // Weak ties of the co-purchase graph: edges closing no triangle.
    Q("graph_local_bridges", (s, dir) =>
      Graph.localBridges(copurchaseEdges(s, dir)).orderBy("src", "dst"),
      // Local bridges by the NAIVE common-neighbor anti-join — Spark's
      // degree-oriented triangle-edge formulation must agree.
      s"""WITH ${copurchaseCtes(counted = false)},
         |${undDistinctCte()},
         |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst)
         |        AS b FROM e),
         |closed AS (SELECT DISTINCT e0.a, e0.b FROM e0
         |      JOIN und n1 ON n1.u = e0.a
         |      JOIN und n2 ON n2.u = e0.b AND n2.v = n1.v)
         |SELECT a AS src, b AS dst FROM e0
         |ANTI JOIN closed USING (a, b)
         |ORDER BY src, dst""".stripMargin),

    // Spectral bisection: deflated power iteration on c·I − L, sign
    // split + algebraic connectivity — "how would I shard this graph".
    Q("graph_fiedler", (s, dir) =>
      Graph.fiedlerBisection(copurchaseEdges(s, dir), 5),
      // Fiedler: 5 unrolled deflated power rounds + the final half-step
      // norm; 12-dp DECIMAL trajectory like the Spark loop.
      {
        def half(k: Int, prev: String) =
          s"""m$k AS MATERIALIZED (SELECT sx / nn.n AS mx FROM (
             |        SELECT CAST(sum(CAST(round(x * 1e12) / 1e12 AS DECIMAL(28,12)))
             |          AS DOUBLE) AS sx FROM $prev) CROSS JOIN nn),
             |s$k AS MATERIALIZED (SELECT und.u AS node,
             |        sum(CAST(round(p.x * 1e12) / 1e12 AS DECIMAL(28,12))) AS sn
             |      FROM und JOIN $prev p ON p.node = und.v GROUP BY 1),
             |y$k AS MATERIALIZED (SELECT d.node,
             |        cc.c * p.x - (CAST(d.deg AS DOUBLE) * p.x
             |          - coalesce(CAST(s$k.sn AS DOUBLE), 0.0))
             |          - cc.c * m$k.mx AS y
             |      FROM deg d JOIN $prev p ON p.node = d.node
             |      LEFT JOIN s$k ON s$k.node = d.node
             |      CROSS JOIN cc CROSS JOIN m$k),
             |n$k AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(round((y * y) * 1e12)
             |        / 1e12 AS DECIMAL(28,12))) AS DOUBLE)) AS nrm FROM y$k)""".stripMargin
        val rounds = (1 to 5).map { k =>
          half(k, if (k == 1) "x0" else s"x${k - 1}") + s""",
             |x$k AS MATERIALIZED (SELECT node, round((CASE WHEN nrm = 0
             |  THEN 0.0 ELSE y / nrm END) * 1e12) / 1e12 AS x
             |  FROM y$k CROSS JOIN n$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${copurchaseCtes(counted = false, materialized = true)},
           |${undDistinctCte(materialized = true)},
           |deg AS MATERIALIZED (SELECT u AS node,
           |      CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
           |cc AS (SELECT CAST(2 * max(deg) AS DOUBLE) AS c FROM deg),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
           |x0 AS (SELECT node, CAST(node % 2 AS DOUBLE) * 2.0 - 1.0 AS x
           |      FROM deg),
           |$rounds,
           |${half(6, "x5")},
           |sides AS (SELECT node, x > 0.0 AS pos FROM x5),
           |sizes AS (SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END)
           |        AS BIGINT) AS n_pos,
           |        CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT)
           |          AS n_neg FROM sides),
           |cut AS (SELECT CAST(sum(CASE WHEN a.pos <> b.pos THEN 1
           |        ELSE 0 END) / 2 AS BIGINT) AS cut_edges
           |      FROM und JOIN sides a ON a.node = und.u
           |      JOIN sides b ON b.node = und.v)
           |SELECT nn.n AS n_nodes, n_pos, n_neg, cut_edges,
           |  round((cc.c - n6.nrm) * 1000000) / 1000000 AS lambda2_est
           |FROM nn CROSS JOIN sizes CROSS JOIN cut
           |CROSS JOIN n6 CROSS JOIN cc""".stripMargin
      }),

    // Katz centrality over the DIRECTED part co-purchase graph (low id →
    // high id, parts sharing >= 2 orders): 3 unrolled rounds of
    // x' = 1 + 0.05·Aᵀx — walk-counting endorsement centrality, no
    // out-degree split (contrast ana_pagerank).
    Q("graph_katz", (s, dir) =>
      Graph.katzCentrality(copurchaseEdges(s, dir), 3, 0.05).orderBy("node"),
      // Katz: 3 materialized rounds (ADVICE: unrolled chains materialize
      // per round), per-hop contributions 12-dp DECIMAL(18,12) exact.
      {
        val iterCtes = (1 to 3).map { k =>
          val prev = s"x${k - 1}"
          s"""c$k AS MATERIALIZED (SELECT e.dst AS node,
             |        sum(CAST(round((0.05 * p.x) * 1e12) / 1e12
             |          AS DECIMAL(18,12))) AS s
             |      FROM e JOIN $prev p ON p.node = e.src GROUP BY 1),
             |x$k AS MATERIALIZED (SELECT n.node,
             |        1e0 + coalesce(CAST(c$k.s AS DOUBLE), 0e0) AS x
             |      FROM nodes n LEFT JOIN c$k ON c$k.node = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${copurchaseCtes(counted = false, materialized = true)},
           |nodes AS MATERIALIZED (SELECT src AS node FROM e
           |      UNION SELECT dst FROM e),
           |x0 AS (SELECT node, 1e0 AS x FROM nodes),
           |$iterCtes
           |SELECT node, round(x * 1000000) / 1000000 AS katz
           |FROM x3 ORDER BY node""".stripMargin
      }),

    // Link-prediction score panel (common neighbors / resource
    // allocation / preferential attachment) for non-adjacent part pairs
    // with >= 2 shared wedge apexes — one wedge enumeration, three
    // scores; adamic_adar's sibling with the 1/deg weight.
    Q("graph_link_pred", (s, dir) =>
      Graph.linkPredictionScores(copurchaseEdges(s, dir), 2).orderBy("x", "y"),
      // Link-prediction panel: same wedge algebra as graph_adamic_adar
      // with 1/deg weights; RA rounded on the DECIMAL before the cast.
      s"""WITH ${copurchaseCtes()},
         |${undDistinctCte()},
         |$degCte,
         |ww AS (SELECT und.u, und.v,
         |        CAST(round((1.0 / CAST(deg AS DOUBLE)) * 1000000000)
         |          / 1000000000 AS DECIMAL(28,9)) AS w
         |      FROM und JOIN deg ON deg.node = und.v
         |      WHERE deg >= 2),
         |pr AS (SELECT a.u AS x, b.u AS y,
         |        CAST(count(*) AS BIGINT) AS common, sum(a.w) AS ra
         |      FROM ww a JOIN ww b ON a.v = b.v AND a.u < b.u
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |np AS (SELECT pr.* FROM pr
         |      WHERE NOT EXISTS (SELECT 1 FROM und
         |        WHERE und.u = pr.x AND und.v = pr.y))
         |SELECT np.x, np.y, np.common,
         |  CAST(round(ra, 6) AS DOUBLE) AS resource_alloc,
         |  dx.deg * dy.deg AS pref_attach
         |FROM np JOIN deg dx ON dx.node = np.x
         |JOIN deg dy ON dy.node = np.y
         |ORDER BY np.x, np.y""".stripMargin),

    // Deterministic DeepWalk corpus: 2 hash-driven walks x 3 steps per
    // node over sorted-neighbor indices.
    Q("graph_walks", (s, dir) =>
      Graph.deterministicWalks(copurchaseEdges(s, dir))
        .orderBy("start_node", "walk", "step"),
      // Walk corpus: same sorted-neighbor indices and two-round Knuth hop
      // hash, 3 unrolled steps.
      {
        val walkHash = samplingHashSql("(f.start_node * 2 + f.walk)")
        def hop(s: Int) = s"(${samplingHashSql(s"($walkHash + $s)")})"
        val steps = (1 to 3).map { s =>
          val prev = s"f${s - 1}"
          s"""f$s AS (SELECT f.start_node, f.walk, CAST($s AS BIGINT) AS step,
             |        a.v AS cur
             |      FROM $prev f JOIN deg d ON d.node = f.cur
             |      JOIN adj a ON a.u = f.cur
             |        AND a.idx = ${hop(s)} % d.deg)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${copurchaseCtes(counted = false)},
           |${undDistinctCte()},
           |adj AS (SELECT u, v, CAST(row_number() OVER (PARTITION BY u
           |        ORDER BY v) - 1 AS BIGINT) AS idx FROM und),
           |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
           |      FROM adj GROUP BY 1),
           |f0 AS (SELECT node AS start_node, CAST(w AS BIGINT) AS walk,
           |        CAST(0 AS BIGINT) AS step, node AS cur
           |      FROM deg CROSS JOIN range(2) r(w)),
           |$steps
           |SELECT start_node, walk, step, cur AS node FROM f0
           |UNION ALL SELECT start_node, walk, step, cur FROM f1
           |UNION ALL SELECT start_node, walk, step, cur FROM f2
           |UNION ALL SELECT start_node, walk, step, cur FROM f3
           |ORDER BY start_node, walk, step""".stripMargin
      }),

    // HITS hubs/authorities (2 L1-normalized iterations) over the same
    // directed event-type transition graph as ana_pagerank — hub =
    // "links to important types", authority = "linked from good hubs";
    // the oracle unrolls the four half-steps CTE by CTE.
    Q("graph_hits", (s, dir) =>
      Graph.hits(transitionEdges(s, dir), 2).orderBy("node"),
      // HITS unrolled: each iteration = an authority half-step (DECIMAL
      // in-sum of 12-dp hubs, exact L1 total, 12-dp quotient) then a hub
      // half-step over the fresh authorities — byte-identical to the
      // Spark loop.
      {
        val iterCtes = (1 to 2).map { k =>
          val prev = if (k == 1) "hb0" else s"hb${k - 1}"
          s"""a${k}r AS (SELECT e.dst AS node,
             |        sum(CAST(round(h.hub * 1e12) / 1e12 AS DECIMAL(18,12))) AS s
             |      FROM e JOIN $prev h ON h.node = e.src GROUP BY 1),
             |a${k}t AS (SELECT coalesce(sum(s), CAST(0 AS DECIMAL(28,12)))
             |        AS tot FROM a${k}r),
             |a$k AS (SELECT n.node, CASE WHEN a${k}t.tot = 0 THEN 0e0 ELSE
             |        round((coalesce(CAST(r.s AS DOUBLE), 0e0)
             |          / CAST(a${k}t.tot AS DOUBLE)) * 1e12) / 1e12 END
             |        AS authority
             |      FROM nodes n CROSS JOIN a${k}t
             |      LEFT JOIN a${k}r r ON r.node = n.node),
             |h${k}r AS (SELECT e.src AS node,
             |        sum(CAST(round(a.authority * 1e12) / 1e12 AS DECIMAL(18,12))) AS s
             |      FROM e JOIN a$k a ON a.node = e.dst GROUP BY 1),
             |h${k}t AS (SELECT coalesce(sum(s), CAST(0 AS DECIMAL(28,12)))
             |        AS tot FROM h${k}r),
             |hb$k AS (SELECT n.node, CASE WHEN h${k}t.tot = 0 THEN 0e0 ELSE
             |        round((coalesce(CAST(r.s AS DOUBLE), 0e0)
             |          / CAST(h${k}t.tot AS DOUBLE)) * 1e12) / 1e12 END
             |        AS hub
             |      FROM nodes n CROSS JOIN h${k}t
             |      LEFT JOIN h${k}r r ON r.node = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH $transitionCtes,
           |$transitionNodesCte,
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
           |hb0 AS (SELECT node, 1e0 / nn.n AS hub FROM nodes CROSS JOIN nn),
           |$iterCtes
           |SELECT node, round(hub * 1000000) / 1000000 AS hub,
           |  round(authority * 1000000) / 1000000 AS authority
           |FROM hb2 JOIN a2 USING (node) ORDER BY node""".stripMargin
      }),

    // Reciprocity of the directed transition graph: the share of edges
    // whose reverse also occurs — near 1 the graph is effectively
    // undirected and the direction-aware scores lose meaning.
    Q("graph_reciprocity", (s, dir) =>
      Graph.reciprocity(transitionEdges(s, dir)),
      // Reciprocity: EXISTS on the swapped key mirrors the left-semi join.
      s"""WITH $transitionCtes,
         |r AS (SELECT count(*) AS n_reciprocal FROM e
         |      WHERE EXISTS (SELECT 1 FROM e e2
         |        WHERE e2.src = e.dst AND e2.dst = e.src)),
         |n AS (SELECT count(*) AS n_edges FROM e)
         |SELECT n_edges, n_reciprocal,
         |  round((CAST(n_reciprocal AS DOUBLE)
         |    / nullif(CAST(n_edges AS DOUBLE), 0e0)) * 1000000) / 1000000
         |    AS reciprocity
         |FROM n CROSS JOIN r""".stripMargin),

    // Local clustering coefficients over the same co-purchase graph —
    // every node emits (triangle-free 0, degree-1 NULL).
    Q("graph_clustering", (s, dir) =>
      Graph.clusteringCoefficients(copurchaseEdges(s, dir)).orderBy("node"),
      // Coefficient arithmetic mirrored op-for-op (double cast before the
      // degree product, ×2 then ÷, CASE for degree-1 NULL).
      s"""WITH ${copurchaseCtes("a", "b")},
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |      FROM e e1
         |      JOIN e e2 ON e2.a = e1.b
         |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |n AS (SELECT x AS node FROM tri UNION ALL
         |      SELECT y FROM tri UNION ALL SELECT z FROM tri),
         |tc AS (SELECT node, count(*) AS n_triangles FROM n GROUP BY 1),
         |deg AS (SELECT v, count(*) AS d FROM
         |      (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1)
         |SELECT deg.v AS node, deg.d AS degree,
         |  coalesce(tc.n_triangles, 0) AS n_triangles,
         |  CASE WHEN deg.d <= 1 THEN NULL
         |    ELSE round((CAST(coalesce(tc.n_triangles, 0) AS DOUBLE) * 2
         |      / (CAST(deg.d AS DOUBLE) * (deg.d - 1))) * 1000000)
         |      / 1000000 END
         |    AS clustering_coeff
         |FROM deg LEFT JOIN tc ON tc.node = deg.v
         |ORDER BY node""".stripMargin),

    // Connected components via alternating large-star/small-star
    // contraction (Kiveris et al. 2014) on the co-purchase graph —
    // O(log² n) rounds regardless of diameter (vs label-prop's
    // O(diameter)), the bounded-job-count CC for unknown similarity
    // graphs. Oracle: exact transitive-closure min per node. strict=true:
    // oracle parity assumes EXACT components, so a no-fixed-point-within-
    // maxRounds run must fail loudly here, not return under-merged labels
    // with only a stderr note (the lenient default stays for exploratory
    // callers).
    Q("graph_cc_stars", (s, dir) =>
      Graph.connectedComponentsStars(copurchaseEdges(s, dir), strict = true)
        .orderBy("node"),
      // Exact connected components: transitive-closure min per node over
      // the same co-purchase edges (the clusterLabelsCte discipline) — the
      // star-contraction result must equal the true components exactly.
      s"""WITH RECURSIVE ${copurchaseCtes()},
         |$undCte,
         |reach AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.u, e2.v FROM reach r JOIN und e2 ON r.v = e2.u)
         |SELECT u AS node, least(u, min(v)) AS component
         |FROM reach GROUP BY u ORDER BY node""".stripMargin)
  )
}
