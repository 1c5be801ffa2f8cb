package graft

import org.apache.spark.sql.functions._

import graft.functions.JaroWinklerSimilarity
import graft.graph.GraphOps
import graft.queries.GraphQueries

/** Graph-operator correctness on hand-checkable graphs, plus the
  * Jaro–Winkler expression against known published values (the same
  * constants DuckDB's `jaro_winkler_similarity` returns — validated
  * against it while designing d15's oracle).
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  private def edges(pairs: (Long, Long)*) =
    pairs.toDF("src", "dst")

  test("jaro-winkler matches the published reference values") {
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.84),
      ("CRATE", "TRACE", 0.7333333333333333), // jaro ≤ 0.7 → no boost
      ("large bolt", "large bolts", 0.9818181818181818),
      ("a", "a", 1.0),
      ("x", "y", 0.0),
      ("abc", "", 0.0),
      ("", "", 0.0)) // DuckDB: either empty → 0, even both-empty
    val got = cases.map { case (a, b, _) => (a, b) }
      .toDF("a", "b")
      .select(JaroWinklerSimilarity(col("a"), col("b")).as("jw"))
      .collect().map(_.getDouble(0))
    cases.map(_._3).zip(got).foreach { case (want, jw) =>
      assert(math.abs(jw - want) < 1e-12, s"want $want got $jw")
    }
  }

  test("jaro-winkler survives codegen on a column pipeline") {
    // Run through a filter so the expression sits inside a codegen'd
    // predicate, not just a projection.
    val n = Seq(("cold widget", "small widget"), ("cold widget", "cold widget"))
      .toDF("a", "b")
      .where(JaroWinklerSimilarity(col("a"), col("b")) >= 0.99)
      .count()
    assert(n == 1)
  }

  test("pagerank: two-node cycle splits mass evenly, sums to 1") {
    val e = edges((1L, 2L), (2L, 1L))
    val nodes = Seq(1L, 2L).toDF("node")
    val pr = GraphOps.pageRank(e, nodes, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(1L) == pr(2L))
    // 5e11 each is a fixpoint of the exact integer recurrence: no
    // truncation loss at all on this graph.
    assert(pr.values.sum == GraphOps.PrScale, s"mass ${pr.values.sum}")
  }

  test("pagerank: a sink-free star concentrates rank at the hub") {
    // 2..5 all point at 1; 1 points back at each — hub holds more.
    val spokes = (2L to 5L)
    val e = edges(spokes.map(s => (s, 1L)) ++ spokes.map(s => (1L, s)): _*)
    val nodes = (1L to 5L).toDF("node")
    val pr = GraphOps.pageRank(e, nodes, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(1L) > pr(2L) * 2)
    assert(spokes.map(pr).toSet.size == 1) // symmetric spokes tie exactly
    // truncating division loses < 1 unit per edge per iteration
    val total = pr.values.sum
    assert(total <= GraphOps.PrScale && total > GraphOps.PrScale - 100,
      s"mass $total")
  }

  test("weighted pagerank: uniform weights reduce to the unweighted rank") {
    val e = edges((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L), (1L, 3L))
    val ew = e.withColumn("w", lit(7L)) // any uniform weight cancels
    val nodes = (1L to 3L).toDF("node")
    val plain = GraphOps.pageRank(e, nodes, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val weighted = GraphOps.pageRankWeighted(ew, nodes, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain === weighted)
  }

  test("weighted pagerank: a heavy edge pulls rank toward its head") {
    // 1 splits mass to 2 (w=9) and 3 (w=1); 2 and 3 return it.
    val ew = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val nodes = (1L to 3L).toDF("node")
    val pr = GraphOps.pageRankWeighted(ew, nodes, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(2L) > pr(3L) * 3, s"$pr")
  }

  test("personalized pagerank keeps all mass inside the seed component") {
    import spark.implicits._
    // components {1,2,3} and {10,11}; seed at 1 — the far component
    // must hold EXACTLY zero
    val e = edges((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (10L, 11L), (11L, 10L))
    val nodes = Seq(1L, 2L, 3L, 10L, 11L).toDF("node")
    val seeds = Seq(1L).toDF("node")
    val pr = GraphOps.pageRankPersonalized(e, nodes, seeds, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(10L) == 0L && pr(11L) == 0L)
    assert(pr(1L) > pr(3L), s"$pr") // seed proximity orders the ranks
    val total = pr.values.sum
    assert(total <= GraphOps.PrScale && total > GraphOps.PrScale / 2,
      s"mass $total")
  }

  test("personalized pagerank seeded with every node is pagerank, row for row") {
    // a node without in-edges (4), a dangling node (5) and an isolated
    // one (6): the seed base must act as the uniform teleport on each
    val e = edges((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L), (2L, 5L))
    val nodes = (1L to 6L).toDF("node")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    Seq(0, 1, 5).foreach { iters =>
      assert(ranks(GraphOps.pageRankPersonalized(e, nodes, nodes, iters)) ===
        ranks(GraphOps.pageRank(e, nodes, iters)), s"iters=$iters")
    }
    // zero rounds return the initial ranks
    assert(ranks(GraphOps.pageRank(e, nodes, 0)) ===
      (1L to 6L).map(_ -> GraphOps.PrScale / 6))
  }

  test("connected components finds the exact partition") {
    // {1,2,3} in a path, {10,11} an edge, capped rounds ample.
    val e = edges((1L, 2L), (2L, 3L), (10L, 11L))
    val got = GraphOps.connectedComponents(e, maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("label propagation: two cliques joined by a bridge split into two communities") {
    // 1-2-3 triangle and 10-11-12 triangle, one bridge 3-10: LPA must
    // keep the cliques as separate min-label communities (CC would
    // merge everything into one label — the distinction g09 exists for)
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val got = GraphOps.labelPropagation(e, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    // clique labels converge to the clique minimum on each side
    assert(Set(got(1L), got(2L), got(3L)).size == 1)
    assert(Set(got(10L), got(11L), got(12L)).size == 1)
    assert(got(1L) != got(10L))
  }

  test("label propagation: ties go to the smallest label deterministically") {
    // node 2's neighbors 1 and 3 tie at count 1 after round 1 — the
    // (count desc, label asc) rule must pick 1 every run
    val e = edges((1L, 2L), (2L, 3L))
    val got = GraphOps.labelPropagation(e, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(2L) == 1L)
    assert(got(1L) == 2L && got(3L) == 2L) // sole neighbor's label
  }

  test("components converge within the g02 round cap on sf0.01") {
    // The oracle unrolls exactly CcRounds rounds; equality with the
    // Spark fixpoint needs convergence inside the cap at sf0.01, the
    // oracle compare's scale. The operator returns its fixpoint or throws.
    val eu = GraphOps.copurchaseEdgesUndirected(
      Tables(spark, "/root/testdata/sf0.01", "lineitem"), minOrders = 2)
    assert(GraphOps.connectedComponents(eu, GraphQueries.CcRounds).count() > 0)
  }

  test("c05 name-level closure converges within the ErRounds cap on each shipped fixture") {
    // The c05 oracle unrolls EXACTLY ErRounds min-label rounds while
    // the Spark loop early-exits at its fixpoint; agreement needs the
    // fixture's match graph to converge inside the cap. Mirror of the
    // g02 cap test so a longer-chained future fixture fails HERE, as a
    // named test, instead of surfacing as a c05 hash mismatch that
    // reads like an engine bug.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val pairs = graft.queries.Corpus.c05NamePairs(spark, dir)
      assert(GraphOps.connectedComponents(pairs, graft.queries.Corpus.ErRounds)
        .count() > 0, dir)
    }
  }

  test("c05 token blocking loses no 0.92-pair on each shipped fixture") {
    // c05's Spark side generates candidates by shared-token blocking
    // while its oracle scores the brute-force cross join — the hash
    // match is only sound if blocking drops NO pair at the threshold.
    // Pin that with data on every shipped fixture: a future corpus
    // where a ≥0.92 name pair shares no whitespace token must fail
    // HERE, as a named test, not as a c05 hash mismatch.
    import graft.functions.JaroWinklerSimilarity
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      assume(new java.io.File(s"$dir/part.parquet").exists())
      val names = Tables(spark, dir, "part")
        .groupBy(col("p_name")).agg(min(col("p_partkey")).as("name_key"))
        .localCheckpoint(true) // name frame is catalog-small by design
      val blocked = graft.queries.Corpus.c05NamePairs(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = names.as("a").crossJoin(names.as("b"))
        .where(col("a.name_key") < col("b.name_key"))
        .where(floor(JaroWinklerSimilarity(col("a.p_name"), col("b.p_name"))
          * lit(1000000.0) + lit(0.5)) >= lit(920000L))
        .select(col("a.name_key"), col("b.name_key"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(blocked == brute,
        s"$dir: blocked-only=${blocked -- brute} missed=${brute -- blocked}")
    }
  }

  test("triangles: one triangle plus a pendant edge") {
    // 1-2-3 triangle, 3-4 pendant.
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val rows = GraphOps.triangles(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 3L, 1L), (4L, 1L, 0L)))
    // node 3: deg 3, 1 triangle → clustering 2·1/(3·2) = 1/3
    assert(math.abs(rows.find(_._1 == 3L).get._4 - 0.333333333) < 1e-9)
    assert(rows.find(_._1 == 4L).get._4 == 0.0)
  }

  test("khop reach expands the frontier exactly") {
    // path 1-2-3-4: from probe 1, reach(1)=1, reach(2)=2, reach(3)=3
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L))
    val probes = Seq(1L).toDF("probe")
    val got = GraphOps.khopReach(e, probes, maxHops = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1, 1L), (2, 2L), (3, 3L)))
  }

  test("hyperball counters equal exact ball sketches (and are exact below k)") {
    // path 1-2-3-4 plus edge 10-11: all balls < k=64, so every
    // estimate must be the EXACT closed-ball size.
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val got = GraphOps.hyperballReach(e, maxHops = 2, k = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // h=1: closed neighborhoods; h=2: two-hop balls
    assert(got((1L, 1)) == 2 && got((2L, 1)) == 3 && got((10L, 1)) == 2)
    assert(got((1L, 2)) == 3 && got((2L, 2)) == 4 && got((4L, 2)) == 3)
    assert(got((10L, 2)) == 2 && got((11L, 2)) == 2)
  }

  test("hyperball estimate tracks the exact ball size once saturated") {
    // sf0.01 support>=2 graph: the giant component's 3-balls exceed
    // k=64, so the estimator kicks in; KMV error ~1/sqrt(k-2) ≈ 13%.
    // Assert median relative error across saturated balls < 20%.
    val eu = GraphOps.copurchaseEdgesUndirected(
      Tables(spark, "/root/testdata/sf0.01", "lineitem"), minOrders = 2)
    val est = GraphOps.hyperballReach(eu, maxHops = 3, k = 64)
      .where(col("hop") === 3)
    val exact = {
      val both = eu.select(col("src"), col("dst"))
        .unionAll(eu.select(col("dst").as("src"), col("src").as("dst")))
      var ball = both.select(col("src").as("probe"), col("src").as("node")).distinct()
      (1 to 3).foreach { _ =>
        ball = ball.unionAll(
          ball.join(both, ball("node") === both("src"))
            .select(col("probe"), col("dst").as("node"))).distinct()
          .localCheckpoint(true)
      }
      ball.groupBy(col("probe")).agg(count(lit(1)).as("n_exact"))
    }
    val errs = est.join(exact, est("node") === exact("probe"))
      .where(col("n_exact") >= 64)
      .select((abs(col("n_ball_est") - col("n_exact"))
        / col("n_exact")).as("err"))
      .collect().map(_.getDouble(0)).sorted
    assert(errs.nonEmpty)
    val median = errs(errs.length / 2)
    assert(median < 0.20, s"median KMV ball error $median")
  }

  test("d15 blocking loses nothing vs brute force at sf0.001") {
    // The sf0.01 CORRECTNESS row proves it at driver scale; keep the
    // invariant pinned in CI at spec scale too.
    val nm = Tables(spark, "/root/testdata/sf0.001", "part")
      .select(col("p_name")).distinct()
    val brute = nm.as("a").join(nm.as("b"), col("a.p_name") < col("b.p_name"))
      .where(JaroWinklerSimilarity(col("a.p_name"), col("b.p_name")) >= 0.85)
      .count()
    val blocked = graft.queries.Corpus.d15_jw_join(spark, "/root/testdata/sf0.001")
      .count()
    assert(blocked == brute, s"blocking dropped pairs: $blocked vs $brute")
  }

  test("hits: one round matches the hand-computed mutual recurrence") {
    // bipartite: c1→{p1,p2}, c2→{p1}, c3→{p3}
    val e = edges((1L, 101L), (1L, 102L), (2L, 101L), (3L, 103L))
    val got = GraphOps.hits(e, 1).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // a_raw: p1=2e6 p2=1e6 p3=1e6, max 2e6 → auth p1=1e6, p2=p3=5e5
    assert(got(("authority", 101L)) === 1000000L)
    assert(got(("authority", 102L)) === 500000L)
    assert(got(("authority", 103L)) === 500000L)
    // h_raw: c1=1.5e6 c2=1e6 c3=5e5, max 1.5e6 → 1e6, ⌊2/3·1e6⌋, ⌊1/3·1e6⌋
    assert(got(("hub", 1L)) === 1000000L)
    assert(got(("hub", 2L)) === 666666L)
    assert(got(("hub", 3L)) === 333333L)
  }

  test("hits: the per-round max renormalization pins both roles' maxima at the scale") {
    val e = edges((1L, 101L), (1L, 102L), (2L, 101L), (2L, 103L),
      (3L, 101L), (4L, 104L))
    val got = GraphOps.hits(e, 3).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.filterKeys(_._1 == "hub").values.max === GraphOps.HitsScale)
    assert(got.filterKeys(_._1 == "authority").values.max
      === GraphOps.HitsScale)
    // p1 (three hub buyers) must out-rank the singleton p4
    assert(got(("authority", 101L)) > got(("authority", 104L)))
    assert(got.size === 8)
  }

  /** Driver-side reference SCC: mutual-reachability via Floyd–Warshall
    * closure — a third algorithm, independent of BOTH the Spark settle
    * loop and the oracle's recursive-CTE closure.
    */
  private def refScc(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val r = Array.fill(n, n)(false)
    es.foreach { case (s, d) => r(idx(s))(idx(d)) = true }
    for (k <- 0 until n; i <- 0 until n if r(i)(k); j <- 0 until n)
      if (r(k)(j)) r(i)(j) = true
    nodes.map { v =>
      val i = idx(v)
      val mutual = nodes.filter(u => r(i)(idx(u)) && r(idx(u))(i))
      v -> (mutual :+ v).min
    }.toMap
  }

  /** Driver-side peeling reference for coreness — the textbook
    * min-degree removal, independent of the h-index iteration.
    */
  private def refCoreness(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Long]]()
    es.foreach { case (s, d) =>
      adj.getOrElseUpdate(s, scala.collection.mutable.Set()) += d
      adj.getOrElseUpdate(d, scala.collection.mutable.Set()) += s
    }
    val core = scala.collection.mutable.Map[Long, Long]()
    var k = 0L
    while (adj.nonEmpty) {
      val peel = adj.filter(_._2.size <= k).keys.toSeq
      if (peel.isEmpty) k += 1
      else peel.foreach { v =>
        core(v) = k
        adj.remove(v)
        adj.values.foreach(_ -= v)
      }
    }
    core.toMap
  }

  test("coreness: a K4 hanging off a path peels to the known cores") {
    val es = Seq[(Long, Long)](
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4
      (4L, 5L), (5L, 6L)) // tree tail
    val got = GraphOps.coreness(edges(es: _*), maxRounds = 24)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.view.mapValues(_._1).toMap ===
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L, 6L -> 1L))
    assert(got(4L)._2 === 4L) // degree rides along
    assert(got.view.mapValues(_._1).toMap === refCoreness(es))
  }

  test("coreness equals driver-side peeling on seeded random graphs") {
    val rnd = new scala.util.Random(4211)
    (1 to 2).foreach { _ =>
      val n = 30
      val es = (1 to 80).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val got = GraphOps.coreness(edges(es: _*), maxRounds = 24)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === refCoreness(es))
    }
  }

  test("coreness h-index iteration converges inside the g12 round cap on both oracle fixtures") {
    // the oracle unrolls exactly KcRounds rounds; equality with the
    // Spark fixpoint needs convergence inside the cap — the operator
    // returns its fixpoint or throws
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val eu = GraphOps.copurchaseEdgesUndirected(
        Tables(spark, dir, "lineitem"), minOrders = 2)
      assert(GraphOps.coreness(eu, GraphQueries.KcRounds).count() > 0, dir)
    }
  }

  test("shortestPaths: planted weighted graph matches driver-side Dijkstra; the cheap detour beats the direct hop") {
    import spark.implicits._
    // direct 1→3 costs 10; the detour 1→2→3 costs 3+4=7 — a BFS/hop
    // frontier would keep 10, Bellman–Ford must settle 7
    val ew = Seq((1L, 2L, 3L), (2L, 3L, 4L), (1L, 3L, 10L),
      (3L, 4L, 1L), (5L, 6L, 2L)) // {5,6} unreachable from 1
      .toDF("src", "dst", "cost")
    val probes = Seq(1L).toDF("probe")
    val got = GraphOps.shortestPaths(ew, probes, maxRounds = 16)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 0L, 2L -> 3L, 3L -> 7L, 4L -> 8L))
    // driver-side Dijkstra cross-check
    def dijkstra(es: Seq[(Long, Long, Long)], s0: Long): Map[Long, Long] = {
      val adj = es.flatMap(e => Seq((e._1, (e._2, e._3)), (e._2, (e._1, e._3))))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val dist = scala.collection.mutable.Map(s0 -> 0L)
      val pq = scala.collection.mutable.PriorityQueue((0L, s0))(
        Ordering.by(-_._1))
      while (pq.nonEmpty) {
        val (d, u) = pq.dequeue()
        if (d == dist(u))
          adj.getOrElse(u, Seq()).foreach { case (v, c) =>
            if (dist.getOrElse(v, Long.MaxValue) > d + c) {
              dist(v) = d + c; pq.enqueue((d + c, v))
            }
          }
      }
      dist.toMap
    }
    assert(got === dijkstra(Seq((1L, 2L, 3L), (2L, 3L, 4L), (1L, 3L, 10L),
      (3L, 4L, 1L), (5L, 6L, 2L)), 1L))
  }

  test("shortestPaths relaxation converges inside the g13 round cap on both oracle fixtures") {
    // the oracle unrolls exactly SpRounds rounds — the operator returns
    // its fixpoint or throws
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ew = GraphOps.copurchaseEdgesWeighted(
          Tables(spark, dir, "lineitem"), minOrders = 2)
        .where(col("src") < col("dst"))
        .select(col("src"), col("dst"), expr("1000000L div w").as("cost"))
        .localCheckpoint(true)
      val probes = ew.select(col("src").as("probe"))
        .unionAll(ew.select(col("dst").as("probe")))
        .distinct().orderBy(col("probe")).limit(5)
        .localCheckpoint(true)
      assert(GraphOps.shortestPaths(ew, probes, GraphQueries.SpRounds)
        .count() > 0, dir)
    }
  }

  private val plantedDigraph = Seq[(Long, Long)](
    (1L, 2L), (2L, 3L), (3L, 1L), // 3-cycle {1,2,3}
    (5L, 6L), (6L, 5L),           // 2-cycle {5,6}
    (3L, 4L), (4L, 5L),           // DAG chain into it
    (7L, 1L), (0L, 5L), (8L, 2L)) // ancestors outside the cycles

  test("scc: planted digraph with known components (cycles, chains, a low-label outside ancestor)") {
    // node 0 feeds the {5,6} cycle from OUTSIDE it — forward-min of
    // 5/6 is 0 but backward-min is 5, so that SCC cannot settle in
    // round 1: the test exercises a second settle round.
    val es = plantedDigraph
    val got = GraphOps.stronglyConnectedComponents(edges(es: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      4L -> 4L, 7L -> 7L, 0L -> 0L, 8L -> 8L)
    assert(got === want)
    assert(got === refScc(es))
  }

  test("scc equals brute-force mutual-reachability closure on seeded random digraphs") {
    val rnd = new scala.util.Random(1723)
    (1 to 3).foreach { _ =>
      val n = 40
      val es = (1 to 70).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val got = GraphOps.stronglyConnectedComponents(edges(es: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === refScc(es))
    }
  }

  test("scc: an empty edge set gives an empty result") {
    val got = GraphOps.stronglyConnectedComponents(edges())
    assert(got.columns.toSeq === Seq("node", "scc_id"))
    assert(got.count() === 0)
  }

  test("scc: the trim closes a pure DAG into singletons, leaving the settle loop no open node") {
    // maxOuter = 0: a settle round that found an open node would hit
    // the cap and throw
    val es = Seq[(Long, Long)]((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (0L, 5L), (6L, 2L))
    val got = GraphOps.stronglyConnectedComponents(edges(es: _*), maxOuter = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 6L).map(v => v -> v).toMap)
    assert(got === refScc(es))
  }

  test("scc: a random-id chain needing more than 24 trim rounds equals the closure reference") {
    // an 80-node path with a 2-cycle in its middle peels one node off
    // each end per trim round: 39 rounds. The settle loop closes one
    // chain node or the 2-cycle per round, so a trim stopped after 24
    // rounds would leave 31 of them and overrun maxOuter = 16
    val ids = new scala.util.Random(2718).shuffle((1L to 80L).toVector)
    val es = ids.sliding(2).map(p => (p(0), p(1))).toSeq :+ ((ids(40), ids(39)))
    val got = GraphOps.stronglyConnectedComponents(edges(es: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refScc(es))
  }

  test("scc: the settle cap fails loudly, naming the loop and its cap") {
    // the planted digraph needs more than one settle round
    val e = intercept[IllegalStateException](GraphOps
      .stronglyConnectedComponents(edges(plantedDigraph: _*), maxOuter = 1))
    assert(e.getMessage.contains("stronglyConnectedComponents settle"))
    assert(e.getMessage.contains("maxRounds=1"))
  }

  test("scc settle loop converges inside its caps on the shipped sequence graph (sf0.001)") {
    // the cap-holds assertion the g02 CcRounds discipline requires:
    // defaults maxOuter=16/maxInner=36 — a cap exception here means
    // the fixture outgrew the caps
    val li = graft.Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val e = GraphOps.sequenceTopFollowerEdges(li, topK = 2)
    val scc = GraphOps.stronglyConnectedComponents(e)
    // partition sanity: every node labeled, ids are members, and the
    // largest fixture SCC (123 nodes at sf0.001) is recovered
    val m = scc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.values.toSet.subsetOf(m.keySet))
    assert(m.groupBy(_._2).values.map(_.size).max === 123)
  }
}
