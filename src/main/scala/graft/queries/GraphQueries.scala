package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.graph.GraphOps

/** Graph analytics over the deterministic co-purchase graph derived
  * from `lineitem` (parts co-occurring in an order) — the web-graph
  * operators of a crawl-curation pipeline: PageRank for domain
  * quality weighting, connected components for mirror-site
  * discovery, triangle counting / local clustering for link-spam
  * signals, k-hop reach for crawl-frontier sizing.
  *
  * Every oracle unrolls the same recurrence the Spark loop runs
  * (fixed iteration counts, decimal-quantized PageRank mass), so the
  * hash compare proves iteration-for-iteration equivalence, not just
  * a final rounding coincidence.
  */
object GraphQueries {

  private val PrIters = 6
  private[graft] val CcRounds = 12
  private val MinSupport = 2
  private val Hops = 3

  /** Shared SQL prologue: the distinct (order, part) base, the
    * directed k≥1 edge set (PageRank) and the undirected k≥2 edge
    * set (components / triangles / reach), mirroring
    * [[GraphOps.copurchaseEdges]] exactly.
    */
  private val edgesSql =
    """b AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |edges AS MATERIALIZED (SELECT a.p AS src, b2.p AS dst FROM b a
      |          JOIN b b2 ON a.o = b2.o AND a.p <> b2.p GROUP BY 1, 2),
      |eu AS MATERIALIZED (SELECT a.p AS src, b2.p AS dst FROM b a
      |       JOIN b b2 ON a.o = b2.o AND a.p < b2.p GROUP BY 1, 2
      |       HAVING COUNT(*) >= 2),
      |bidir AS MATERIALIZED (SELECT src, dst FROM eu
      |         UNION ALL SELECT dst AS src, src AS dst FROM eu)""".stripMargin

  /** g01: 6-iteration PageRank (damping 0.85) over the directed
    * co-purchase graph. Rank state is fixed-point BIGINT in 10⁻¹²
    * units ([[GraphOps.pageRank]]) — pure integer arithmetic, so
    * Spark's shuffled sums hash-match the oracle's sequential ones at
    * every iteration with no float rounding anywhere.
    */
  val g01_pagerank: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val edges = GraphOps.copurchaseEdges(li, minOrders = 1)
    val nodes = li.select(col("l_partkey").as("node")).distinct()
    GraphOps.pageRank(edges, nodes, PrIters)
      .select(col("node").as("part_key"), col("rank_u").as("pagerank_e12"))
  }

  val g01_sql: String = {
    // SUM(BIGINT) is HUGEINT in DuckDB — cast back; `//` floor division
    // ≡ Spark's `div` on the all-positive operands.
    val its = (1 to PrIters).map { i =>
      s"""pr$i AS MATERIALIZED (SELECT nodes.node,
         |  CAST(150000000000 // n.n
         |    + COALESCE(SUM((p.rank_u * 85) // (d.outdeg * 100)), 0)
         |    AS BIGINT) AS rank_u
         |  FROM nodes CROSS JOIN n
         |  LEFT JOIN (edges e JOIN pr${i - 1} p ON p.node = e.src
         |             JOIN deg d ON d.src = e.src) ON e.dst = nodes.node
         |  GROUP BY nodes.node, n.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |nodes AS MATERIALIZED (SELECT DISTINCT l_partkey AS node FROM lineitem),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |n AS (SELECT COUNT(*) AS n FROM nodes),
       |pr0 AS (SELECT node, CAST(1000000000000 // n.n AS BIGINT) AS rank_u
       |        FROM nodes CROSS JOIN n),
       |$its
       |SELECT node AS part_key, rank_u AS pagerank_e12 FROM pr$PrIters""".stripMargin
  }

  /** g02: connected components of the support≥2 co-purchase graph by
    * min-label propagation — Spark iterates to fixpoint and fails
    * loudly at the cap [[CcRounds]]; the oracle unrolls exactly
    * [[CcRounds]] rounds. Once converged every further round is the
    * identity, so the two agree whenever Spark returns (measured
    * 3/10/7 changing rounds at sf 0.001/0.01/0.1; a spec runs the cap
    * at sf0.01).
    */
  val g02_components: Q = (s, dir) => {
    val eu = GraphOps.copurchaseEdgesUndirected(t(s, dir, "lineitem"), MinSupport)
    val labels = GraphOps.connectedComponents(eu, CcRounds)
    labels.select(col("node").as("part_key"), col("label").as("component"),
      count(lit(1)).over(Window.partitionBy(col("label"))).as("comp_size"))
  }

  val g02_sql: String = {
    // AS MATERIALIZED: each round references the previous one twice;
    // DuckDB inlines plain CTEs, which would re-expand the whole
    // round tree exponentially (measured: "too many open files" at 12
    // rounds).
    val rounds = (1 to CcRounds).map { i =>
      s"""lab$i AS MATERIALIZED (SELECT l.node,
         |  LEAST(l.label, COALESCE(MIN(ln.label), l.label)) AS label
         |  FROM lab${i - 1} l
         |  LEFT JOIN bidir e ON e.dst = l.node
         |  LEFT JOIN lab${i - 1} ln ON ln.node = e.src
         |  GROUP BY l.node, l.label)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |lab0 AS (SELECT DISTINCT src AS node, src AS label FROM bidir),
       |$rounds
       |SELECT node AS part_key, label AS component,
       |  COUNT(*) OVER (PARTITION BY label) AS comp_size
       |FROM lab$CcRounds""".stripMargin
  }

  /** g03: per-node triangle count and local clustering coefficient on
    * the support≥2 graph. The src<dst orientation enumerates each
    * triangle once; per-node counts explode the three corners.
    */
  val g03_triangles: Q = (s, dir) => {
    val eu = GraphOps.copurchaseEdgesUndirected(t(s, dir, "lineitem"), MinSupport)
    GraphOps.triangles(eu)
      .select(col("node").as("part_key"), col("degree"), col("triangles"),
        col("clustering"))
  }

  val g03_sql: String =
    s"""WITH $edgesSql,
       |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |        FROM eu e1 JOIN eu e2 ON e1.dst = e2.src
       |        JOIN eu e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |corners AS (SELECT node, COUNT(*) AS triangles FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri) GROUP BY node),
       |deg AS (SELECT node, COUNT(*) AS degree FROM (
       |    SELECT src AS node FROM eu UNION ALL SELECT dst FROM eu)
       |  GROUP BY node)
       |SELECT d.node AS part_key, d.degree,
       |  COALESCE(c.triangles, 0) AS triangles,
       |  CASE WHEN d.degree >= 2
       |       THEN CAST((COALESCE(c.triangles, 0) * 2000000000)
       |                 // (d.degree * (d.degree - 1)) AS DOUBLE)
       |            / 1000000000.0e0
       |       ELSE 0.0e0 END AS clustering
       |FROM deg d LEFT JOIN corners c ON c.node = d.node""".stripMargin

  /** g04: exact k-hop reach (h = 1..3) from the 5 smallest nodes of
    * the support≥2 graph — multi-source BFS by frontier join +
    * distinct, the exact baseline the HyperBall-style sketches
    * approximate at scale.
    */
  val g04_khop_reach: Q = (s, dir) => {
    val eu = GraphOps.copurchaseEdgesUndirected(t(s, dir, "lineitem"), MinSupport)
    val probes = eu.select(col("src").as("probe"))
      .unionAll(eu.select(col("dst").as("probe")))
      .distinct().orderBy(col("probe")).limit(5)
    GraphOps.khopReach(eu, probes, Hops)
  }

  val g04_sql: String = {
    val hops = (1 to Hops).map { i =>
      s"""reach$i AS (SELECT DISTINCT probe, node FROM (
         |    SELECT probe, node FROM reach${i - 1}
         |    UNION ALL
         |    SELECT r.probe, e.dst AS node
         |    FROM reach${i - 1} r JOIN bidir e ON r.node = e.src))""".stripMargin
    }.mkString(",\n")
    val outs = (1 to Hops).map { i =>
      s"""SELECT probe, $i AS hop, COUNT(*) AS n_reached
         |FROM reach$i WHERE node <> probe GROUP BY probe""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $edgesSql,
       |probes AS (SELECT DISTINCT src AS probe FROM bidir ORDER BY probe LIMIT 5),
       |reach0 AS (SELECT probe, probe AS node FROM probes),
       |$hops
       |$outs""".stripMargin
  }

  /** g07: personalized PageRank from the 5 smallest nodes — teleport
    * returns to the seed set, nodes unreachable from it hold exactly
    * 0 ([[GraphOps.pageRankPersonalized]]); fixed-point integers, the
    * oracle unrolls the seeded recurrence with the teleport vector as
    * a CASE over the seeds CTE.
    */
  val g07_personalized_pagerank: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val edges = GraphOps.copurchaseEdges(li, minOrders = 1)
    val nodes = li.select(col("l_partkey").as("node")).distinct()
    val seeds = nodes.orderBy(col("node")).limit(5)
    GraphOps.pageRankPersonalized(edges, nodes, seeds, PrIters)
      .select(col("node").as("part_key"), col("rank_u").as("ppr_e12"))
  }

  val g07_sql: String = {
    val its = (1 to PrIters).map { i =>
      s"""ppr$i AS MATERIALIZED (SELECT nodes.node,
         |  CAST(CASE WHEN sd.node IS NOT NULL
         |            THEN 150000000000 // (SELECT c FROM sc) ELSE 0 END
         |    + COALESCE(SUM((p.rank_u * 85 * 1) // (d.outw * 100)), 0)
         |    AS BIGINT) AS rank_u
         |  FROM nodes
         |  LEFT JOIN seeds sd ON sd.node = nodes.node
         |  LEFT JOIN (edges e JOIN ppr${i - 1} p ON p.node = e.src
         |             JOIN pdeg d ON d.src = e.src) ON e.dst = nodes.node
         |  GROUP BY nodes.node, sd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |nodes AS MATERIALIZED (SELECT DISTINCT l_partkey AS node FROM lineitem),
       |seeds AS MATERIALIZED (SELECT node FROM nodes ORDER BY node LIMIT 5),
       |sc AS (SELECT COUNT(*) AS c FROM seeds),
       |pdeg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outw
       |                      FROM edges GROUP BY src),
       |ppr0 AS (SELECT n.node,
       |    CAST(CASE WHEN s.node IS NOT NULL
       |              THEN 1000000000000 // (SELECT c FROM sc) ELSE 0 END
       |      AS BIGINT) AS rank_u
       |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
       |$its
       |SELECT node AS part_key, rank_u AS ppr_e12 FROM ppr$PrIters""".stripMargin
  }

  private val HbK = 64

  /** g05: HyperBall-style neighborhood function — a KMV ball-size
    * estimate for EVERY node at h = 1..3, computed by iterated counter
    * merges ([[GraphOps.hyperballReach]]). The oracle computes the
    * exact balls (g04's expansion, from all nodes) and applies the
    * k-min estimator to them — so the hash match proves the
    * merge-iterated counters equal the sketch of the true ball (the
    * mergeable-set identity), not merely that two approximations
    * agree. The estimate is exact below 64 ball members.
    */
  val g05_hyperball: Q = (s, dir) => {
    val eu = GraphOps.copurchaseEdgesUndirected(t(s, dir, "lineitem"), MinSupport)
    GraphOps.hyperballReach(eu, Hops, HbK)
      .select(col("node").as("part_key"), col("hop"), col("n_ball_est"))
  }

  val g05_sql: String = {
    val hops = (1 to Hops).map { i =>
      s"""ball$i AS MATERIALIZED (SELECT DISTINCT probe, node FROM (
         |    SELECT probe, node FROM ball${i - 1}
         |    UNION ALL
         |    SELECT b.probe, e.dst AS node
         |    FROM ball${i - 1} b JOIN bidir e ON b.node = e.src))""".stripMargin
    }.mkString(",\n")
    val outs = (1 to Hops).map { i =>
      s"""SELECT probe AS part_key, $i AS hop,
         |  CASE WHEN cnt < $HbK THEN cnt
         |       ELSE CAST(floor((${HbK - 1} * 1152921504606846976.0) / mx) AS BIGINT)
         |  END AS n_ball_est
         |FROM (SELECT probe, COUNT(*) AS cnt, MAX(hv) AS mx
         |      FROM (SELECT probe, hv, ROW_NUMBER() OVER (
         |              PARTITION BY probe ORDER BY hv) AS rn
         |            FROM (SELECT DISTINCT probe,
         |                ('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15))::BIGINT AS hv
         |              FROM ball$i))
         |      WHERE rn <= $HbK GROUP BY probe)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $edgesSql,
       |ball0 AS (SELECT DISTINCT src AS probe, src AS node FROM bidir),
       |$hops
       |$outs""".stripMargin
  }

  /** g06: support-weighted PageRank — mass flows in proportion to
    * co-purchase strength, not just adjacency; still pure fixed-point
    * integers ([[GraphOps.pageRankWeighted]]), the oracle unrolls the
    * weighted recurrence.
    */
  val g06_weighted_pagerank: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val edges = GraphOps.copurchaseEdgesWeighted(li, minOrders = 1)
    val nodes = li.select(col("l_partkey").as("node")).distinct()
    GraphOps.pageRankWeighted(edges, nodes, PrIters)
      .select(col("node").as("part_key"), col("rank_u").as("pagerank_e12"))
  }

  val g06_sql: String = {
    val its = (1 to PrIters).map { i =>
      s"""wpr$i AS MATERIALIZED (SELECT nodes.node,
         |  CAST(150000000000 // n.n
         |    + COALESCE(SUM((p.rank_u * 85 * e.w) // (d.outw * 100)), 0)
         |    AS BIGINT) AS rank_u
         |  FROM nodes CROSS JOIN n
         |  LEFT JOIN (we e JOIN wpr${i - 1} p ON p.node = e.src
         |             JOIN wdeg d ON d.src = e.src) ON e.dst = nodes.node
         |  GROUP BY nodes.node, n.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |                        FROM lineitem),
       |wu AS MATERIALIZED (SELECT a.p AS src, b2.p AS dst, COUNT(*) AS w
       |      FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p GROUP BY 1, 2),
       |we AS MATERIALIZED (SELECT src, dst, w FROM wu
       |      UNION ALL SELECT dst, src, w FROM wu),
       |nodes AS MATERIALIZED (SELECT DISTINCT l_partkey AS node FROM lineitem),
       |wdeg AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS outw
       |                      FROM we GROUP BY src),
       |n AS (SELECT COUNT(*) AS n FROM nodes),
       |wpr0 AS (SELECT node, CAST(1000000000000 // n.n AS BIGINT) AS rank_u
       |         FROM nodes CROSS JOIN n),
       |$its
       |SELECT node AS part_key, rank_u AS pagerank_e12 FROM wpr$PrIters""".stripMargin
  }

  /** g08: link prediction on the support≥2 co-purchase graph — the
    * classic "parts frequently bought together that are NOT yet
    * co-purchased enough" recommendation shape, and (in the crawl
    * framing) missing-hyperlink inference. Candidates are 2-hop pairs
    * through a shared neighbor (never all-pairs: Σ deg(x)² paths, the
    * standard candidate generation — at web scale the few super-hub
    * nodes get degree-capped first, which this graph doesn't need);
    * scores are common-neighbor count, the Zhou–Lü–Zhang
    * resource-allocation index Σ_x 1/deg(x), and the neighborhood
    * Jaccard cn/(deg_a+deg_b−cn).
    *
    * Determinism: RA terms are the g01 fixed-point recipe —
    * ⌊10⁹/deg⌋ is pure integer division in both engines (round 9
    * proved `round(1.0/deg, 9)` is engine-divergent), summed as
    * BIGINT e-9 units; Jaccard is a single IEEE division of exact
    * integer casts, and the top-100 cut is totally ordered by
    * (cn, ra, a, b) — (a, b) is unique, so LIMIT is unambiguous in
    * both engines.
    */
  val g08_link_prediction: Q = (s, dir) => {
    val eu = GraphOps.copurchaseEdgesUndirected(t(s, dir, "lineitem"), MinSupport)
    val bidir = eu.unionAll(eu.select(col("dst").as("src"), col("src").as("dst")))
    val deg = bidir.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val cand = bidir.as("e1").join(bidir.as("e2"),
        col("e1.dst") === col("e2.src") && col("e1.src") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e2.dst").as("b"), col("e1.dst").as("x"))
    val scored = cand
      .join(deg.select(col("node").as("x"), col("deg").as("deg_x")), "x")
      .groupBy(col("a"), col("b"))
      .agg(
        count(lit(1)).as("common_neighbors"),
        sum(expr("1000000000L div deg_x")).as("ra_index_e9"))
      // existing edges are not predictions: eu is (src<dst)-oriented
      // and candidates are a<b, so one anti-join removes them all
      .join(eu.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
    scored
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), "b")
      .select(
        col("a").as("part_a"), col("b").as("part_b"),
        col("common_neighbors"),
        col("ra_index_e9"),
        (col("common_neighbors").cast("double") /
          (col("deg_a") + col("deg_b") - col("common_neighbors")).cast("double"))
          .as("jaccard"))
      .orderBy(col("common_neighbors").desc, col("ra_index_e9").desc,
        col("part_a").asc, col("part_b").asc)
      .limit(100)
  }

  val g08_sql: String =
    s"""WITH $edgesSql,
       |deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg
       |                     FROM bidir GROUP BY 1),
       |cand AS (SELECT e1.src AS a, e2.dst AS b, e1.dst AS x
       |  FROM bidir e1 JOIN bidir e2
       |    ON e1.dst = e2.src AND e1.src < e2.dst),
       |scored AS (SELECT c.a, c.b, COUNT(*) AS common_neighbors,
       |    CAST(SUM(1000000000 // dx.deg) AS BIGINT) AS ra_index_e9
       |  FROM cand c JOIN deg dx ON dx.node = c.x
       |  WHERE NOT EXISTS (SELECT 1 FROM eu e
       |                    WHERE e.src = c.a AND e.dst = c.b)
       |  GROUP BY c.a, c.b)
       |SELECT s.a AS part_a, s.b AS part_b, s.common_neighbors,
       |  s.ra_index_e9,
       |  CAST(s.common_neighbors AS DOUBLE)
       |    / CAST(da.deg + db.deg - s.common_neighbors AS DOUBLE) AS jaccard
       |FROM scored s
       |JOIN deg da ON da.node = s.a
       |JOIN deg db ON db.node = s.b
       |ORDER BY s.common_neighbors DESC, s.ra_index_e9 DESC, s.a, s.b
       |LIMIT 100""".stripMargin

  private val LpIters = 4

  /** g09: label-propagation communities (Raghavan et al. 2007) on the
    * support≥2 undirected graph — the density-sensitive refinement of
    * g02's reachability components (one component can hold several
    * link-farm / topic clusters; LPA separates them, CC cannot). Fixed
    * [[LpIters]] synchronous rounds with the total (count desc, label
    * asc) tie rule make the result a pure function of the edge set
    * ([[GraphOps.labelPropagation]]); the oracle unrolls the identical
    * recurrence round by round, so the hash compare proves
    * iteration-for-iteration equivalence. Output mirrors g02's shape:
    * node, final community label, community size.
    */
  val g09_label_propagation: Q = (s, dir) => {
    val eu = GraphOps.copurchaseEdgesUndirected(t(s, dir, "lineitem"), MinSupport)
    GraphOps.labelPropagation(eu, LpIters)
      .select(col("node").as("part_key"), col("label").as("community"),
        count(lit(1)).over(Window.partitionBy(col("label"))).as("comm_size"))
  }

  val g09_sql: String = {
    // AS MATERIALIZED for the same reason as g02: each round is read
    // by the next one's join AND the final window — plain CTE inlining
    // would re-expand the round tree per reference.
    val rounds = (1 to LpIters).map { i =>
      s"""lp$i AS MATERIALIZED (SELECT node, label FROM (
         |  SELECT e.dst AS node, l.label,
         |    ROW_NUMBER() OVER (PARTITION BY e.dst
         |      ORDER BY COUNT(*) DESC, l.label) AS rn
         |  FROM bidir e JOIN lp${i - 1} l ON l.node = e.src
         |  GROUP BY e.dst, l.label) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |lp0 AS (SELECT DISTINCT src AS node, src AS label FROM bidir),
       |$rounds
       |SELECT node AS part_key, label AS community,
       |  COUNT(*) OVER (PARTITION BY label) AS comm_size
       |FROM lp$LpIters""".stripMargin
  }

  private val HitsIters = 6

  /** g10: HITS hubs and authorities on the DIRECTED bipartite
    * customer→part purchase graph (distinct (o_custkey, l_partkey)
    * pairs through orders⋈lineitem) — the two-sided ranking the
    * co-purchase family cannot express: g01's PageRank on the
    * mirrored co-purchase graph ranks parts in one key space, while
    * HITS grades BOTH sides of the purchase relation at once (hub
    * customers buy authoritative parts; authoritative parts are
    * bought by hub customers), the Kleinberg mutual recurrence that
    * recommender/curation pipelines run on user–item graphs. Scores
    * are fixed-point BIGINT e-6 with exact max-normalization per
    * round ([[GraphOps.hits]] — same ranking as the L2 textbook
    * variant, zero float steps), so the oracle's round-by-round
    * unroll hash-matches at any partitioning. Output: one row per
    * (role, node) with the final score.
    */
  val g10_hits: Q = (s, dir) => {
    val edges = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      .distinct()
    GraphOps.hits(edges, HitsIters)
  }

  val g10_sql: String = {
    // SUM(BIGINT) is HUGEINT in DuckDB and raw·10⁶ stays HUGEINT —
    // exact; `//` floor ≡ Spark's `div` on the positive operands.
    val rounds = (1 to HitsIters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT dst, SUM(hub) AS raw
         |  FROM e JOIN h${i - 1} USING (src) GROUP BY dst),
         |am$i AS (SELECT MAX(raw) AS mx FROM ar$i),
         |a$i AS MATERIALIZED (SELECT dst,
         |    CAST((raw * 1000000) // mx AS BIGINT) AS auth
         |  FROM ar$i CROSS JOIN am$i),
         |hr$i AS MATERIALIZED (SELECT src, SUM(auth) AS raw
         |  FROM e JOIN a$i USING (dst) GROUP BY src),
         |hm$i AS (SELECT MAX(raw) AS mx FROM hr$i),
         |h$i AS MATERIALIZED (SELECT src,
         |    CAST((raw * 1000000) // mx AS BIGINT) AS hub
         |  FROM hr$i CROSS JOIN hm$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS src,
       |    l_partkey AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |h0 AS (SELECT DISTINCT src, CAST(1000000 AS BIGINT) AS hub FROM e),
       |$rounds
       |SELECT 'hub' AS role, src AS node, hub AS score_e6 FROM h$HitsIters
       |UNION ALL
       |SELECT 'authority' AS role, dst AS node, auth AS score_e6
       |FROM a$HitsIters""".stripMargin
  }

  /** g11: strongly connected components of the DIRECTED purchase-
    * sequence graph — the spider-trap / mirror-ring detector link
    * analysis on a real (directed) web or crawl graph needs, which
    * g02's undirected min-label CC cannot express. The graph: part →
    * part edges from consecutive `l_linenumber` positions within an
    * order, each src keeping its top-2 most-frequent followers
    * ([[GraphOps.sequenceTopFollowerEdges]] — the asymmetric cut is
    * what makes the graph genuinely directed; at sf0.01 it has 2,000
    * nodes, a 365-node giant SCC plus a 2-cycle and 1,633 singletons). Spark runs the
    * min-label settle loop ([[GraphOps.stronglyConnectedComponents]]
    * — forward/backward reachability-min to fixpoint, settle
    * f = b, remove, repeat); the oracle computes the SAME partition
    * by a COMPLETELY DIFFERENT algorithm — recursive-CTE transitive
    * closure → mutual-reachability pairs → min mutual label — so the
    * hash match certifies the operator against an independent
    * definition of "strongly connected", not a replay of its own
    * recurrence (stronger than the g01/g02 unroll discipline, viable
    * here because the closure is oracle-scale-only; the Spark side
    * never materializes it).
    *
    * Output: (part_key, scc_id = min member, scc_size).
    */
  val g11_scc: Q = (s, dir) => {
    val edges = GraphOps.sequenceTopFollowerEdges(
      t(s, dir, "lineitem"), topK = 2)
    GraphOps.stronglyConnectedComponents(edges)
      .select(col("node").as("part_key"), col("scc_id"),
        count(lit(1)).over(Window.partitionBy(col("scc_id")))
          .as("scc_size"))
  }

  val g11_sql: String =
    """WITH RECURSIVE seq AS (SELECT l_orderkey, l_partkey,
      |    LEAD(l_partkey) OVER (PARTITION BY l_orderkey
      |                          ORDER BY l_linenumber, l_partkey) AS nxt
      |  FROM lineitem),
      |pair AS (SELECT l_partkey AS src, nxt AS dst, COUNT(*) AS w
      |  FROM seq WHERE nxt IS NOT NULL AND nxt <> l_partkey
      |  GROUP BY 1, 2),
      |e AS MATERIALIZED (SELECT src, dst FROM (
      |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
      |        ORDER BY w DESC, dst ASC) AS rn
      |    FROM pair) WHERE rn <= 2),
      |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |reach AS (SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON e2.src = r.dst),
      |mut AS MATERIALIZED (SELECT a.src AS u, a.dst AS v
      |  FROM reach a JOIN reach b ON b.src = a.dst AND b.dst = a.src),
      |scc AS (SELECT n.node,
      |    LEAST(n.node, COALESCE(MIN(m.v), n.node)) AS scc_id
      |  FROM n LEFT JOIN mut m ON m.u = n.node GROUP BY n.node)
      |SELECT node AS part_key, scc_id,
      |  COUNT(*) OVER (PARTITION BY scc_id) AS scc_size
      |FROM scc""".stripMargin

  private[graft] val KcRounds = 24

  /** g12: k-core decomposition of the support≥2 co-purchase graph —
    * per-part coreness by the distributed h-index iteration
    * ([[GraphOps.coreness]]; the fixpoint equals peeling coreness,
    * spec-proven against a driver-side peeling reference). The oracle
    * unrolls EXACTLY [[KcRounds]] h-index rounds as materialized CTEs
    * (the g02 CcRounds contract — Spark fails loudly at the cap;
    * measured 20/9/4 changing rounds at sf 0.001/0.01/0.1, and a spec
    * runs the cap at both oracle scales), each round one window rank
    * + one max per node, integer state throughout, so the hash match
    * certifies round-for-round equivalence of the whole recurrence.
    */
  val g12_kcore: Q = (s, dir) => {
    val eu = GraphOps.copurchaseEdgesUndirected(t(s, dir, "lineitem"), MinSupport)
    GraphOps.coreness(eu, KcRounds)
      .select(col("node").as("part_key"), col("coreness"), col("degree"))
  }

  val g12_sql: String = {
    // AS MATERIALIZED for the g02 reason: each round reads the prior
    // one twice (the neighbor join and the node spine)
    val rounds = (1 to KcRounds).map { i =>
      s"""h$i AS MATERIALIZED (SELECT p.node,
         |  CAST(COALESCE(x.h, 0) AS BIGINT) AS h
         |  FROM h${i - 1} p LEFT JOIN (
         |    SELECT node, MAX(rn) AS h FROM (
         |      SELECT e.dst AS node, q.h AS nh,
         |        ROW_NUMBER() OVER (PARTITION BY e.dst
         |                           ORDER BY q.h DESC) AS rn
         |      FROM bidir e JOIN h${i - 1} q ON q.node = e.src)
         |    WHERE nh >= rn GROUP BY node) x ON x.node = p.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |h0 AS MATERIALIZED (SELECT src AS node,
       |  CAST(COUNT(*) AS BIGINT) AS h FROM bidir GROUP BY src),
       |$rounds
       |SELECT f.node AS part_key, f.h AS coreness, h0.h AS degree
       |FROM h$KcRounds f JOIN h0 ON h0.node = f.node""".stripMargin
  }

  private[graft] val SpRounds = 16

  /** g13: weighted shortest paths from the 5 smallest nodes of the
    * support≥2 co-purchase graph — the DISTANCE face g04's reach
    * counts lack (crawl-depth budgeting, link-proximity features).
    * Edge cost is the integer 10⁶ div support (stronger co-purchase
    * = cheaper hop), distances exact BIGINTs through the synchronous
    * Bellman–Ford relaxation ([[GraphOps.shortestPaths]]); the oracle
    * unrolls EXACTLY [[SpRounds]] relaxation rounds as materialized
    * CTEs (the g02 contract — Spark fails loudly at the cap; measured
    * 3/10/4 changing rounds at sf 0.001/0.01/0.1), so the hash match
    * certifies the whole recurrence. Unreachable pairs carry no row.
    */
  val g13_shortest_paths: Q = (s, dir) => {
    val ew = GraphOps.copurchaseEdgesWeighted(t(s, dir, "lineitem"), MinSupport)
      .where(col("src") < col("dst")) // one orientation; mirrored inside
      .select(col("src"), col("dst"),
        expr("1000000L div w").as("cost"))
    val probes = ew.select(col("src").as("probe"))
      .unionAll(ew.select(col("dst").as("probe")))
      .distinct().orderBy(col("probe")).limit(5)
    GraphOps.shortestPaths(ew, probes, SpRounds)
      .select(col("probe"), col("node").as("part_key"),
        col("dist").as("dist_u"))
  }

  val g13_sql: String = {
    val rounds = (1 to SpRounds).map { i =>
      s"""sp$i AS MATERIALIZED (SELECT probe, node,
         |    CAST(MIN(dist) AS BIGINT) AS dist FROM (
         |  SELECT p.probe, e.dst AS node, p.dist + e.cost AS dist
         |  FROM wedge e JOIN sp${i - 1} p ON p.node = e.src
         |  UNION ALL
         |  SELECT probe, node, dist FROM sp${i - 1})
         |  GROUP BY probe, node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |wc AS (SELECT a.p AS src, b2.p AS dst,
       |    CAST(1000000 // COUNT(*) AS BIGINT) AS cost
       |  FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |wedge AS MATERIALIZED (SELECT src, dst, cost FROM wc
       |  UNION ALL SELECT dst, src, cost FROM wc),
       |pr AS (SELECT DISTINCT src AS probe FROM wedge
       |       ORDER BY probe LIMIT 5),
       |sp0 AS (SELECT probe, probe AS node, CAST(0 AS BIGINT) AS dist
       |        FROM pr),
       |$rounds
       |SELECT probe, node AS part_key, dist AS dist_u
       |FROM sp$SpRounds""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "g13_shortest_paths" -> g13_shortest_paths,
    "g12_kcore" -> g12_kcore,
    "g11_scc" -> g11_scc,
    "g10_hits" -> g10_hits,
    "g09_label_propagation" -> g09_label_propagation,
    "g08_link_prediction" -> g08_link_prediction,
    "g01_pagerank"    -> g01_pagerank,
    "g06_weighted_pagerank" -> g06_weighted_pagerank,
    "g07_personalized_pagerank" -> g07_personalized_pagerank,
    "g02_components"  -> g02_components,
    "g03_triangles"   -> g03_triangles,
    "g04_khop_reach"  -> g04_khop_reach,
    "g05_hyperball"   -> g05_hyperball)

  val oracles: Map[String, String] = Map(
    "g13_shortest_paths" -> g13_sql,
    "g12_kcore" -> g12_sql,
    "g11_scc" -> g11_sql,
    "g10_hits" -> g10_sql,
    "g09_label_propagation" -> g09_sql,
    "g08_link_prediction" -> g08_sql,
    "g01_pagerank"    -> g01_sql,
    "g06_weighted_pagerank" -> g06_sql,
    "g07_personalized_pagerank" -> g07_sql,
    "g02_components"  -> g02_sql,
    "g03_triangles"   -> g03_sql,
    "g04_khop_reach"  -> g04_sql,
    "g05_hyperball"   -> g05_sql)
}
