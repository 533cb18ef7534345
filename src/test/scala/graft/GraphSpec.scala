package graft

import graft.graph.GraphOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // path 1-2-3, isolated pair 10-11, bridge-free
  private lazy val edges =
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")

  test("connected components: path vs isolated pair (G1/CC)") {
    val g = GraphOps.fromEdges(spark, edges, "src", "dst")
    val cc = GraphOps.connectedComponentsDF(spark, g)
      .as[(Long, Long)].collect().toMap
    assert(cc(1L) == cc(2L) && cc(2L) == cc(3L))
    assert(cc(10L) == cc(11L))
    assert(cc(1L) != cc(10L))
    assert(cc(1L) == 1L && cc(10L) == 10L) // min-id labels
  }

  test("degrees match adjacency counts") {
    val g = GraphOps.fromEdges(spark, edges, "src", "dst")
    val d = GraphOps.degreesDF(spark, g).as[(Long, Int)].collect().toMap
    assert(d(2L) == 2 && d(1L) == 1 && d(10L) == 1)
  }

  test("label propagation: two cliques converge to two communities, deterministically") {
    // two 4-cliques joined by a single weak edge
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)) ++ Seq((4L, 11L)))
      .toDF("src", "dst")
    val g = GraphOps.fromEdges(spark, e, "src", "dst")
    val run1 = GraphOps.lpaDF(spark, g, 8).as[(Long, Long)].collect().toMap
    val run2 = GraphOps.lpaDF(spark, g, 8).as[(Long, Long)].collect().toMap
    assert(run1 == run2) // deterministic tie-breaks
    val c1 = Seq(1L, 2L, 3L).map(run1) // clique cores agree
    val c2 = Seq(12L, 13L, 14L).map(run1)
    assert(c1.distinct.size == 1 && c2.distinct.size == 1)
    assert(c1.head != c2.head)
    // the Catalyst-loop LPA (the scale path) computes the identical result
    val dfRun = GraphOps.lpaEdges(e, "src", "dst", 8)
      .as[(Long, Long)].collect().toMap
    assert(dfRun == run1)
  }

  test("broadcast and shuffle state paths produce identical labels; auto default resolves") {
    // Both join strategies for the vertex-sized loop state must be pure
    // plan choices — never result choices. The default (None) resolves
    // from a job-free statistics bound instead of hard-pinning the
    // broadcast at any size (round-6 verdict item 6).
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)) ++ Seq((4L, 11L)))
      .toDF("src", "dst")
    val lpaB = GraphOps.lpaEdges(e, "src", "dst", 4, broadcastState = Some(true))
      .as[(Long, Long)].collect().toMap
    val lpaS = GraphOps.lpaEdges(e, "src", "dst", 4, broadcastState = Some(false))
      .as[(Long, Long)].collect().toMap
    val lpaAuto = GraphOps.lpaEdges(e, "src", "dst", 4)
      .as[(Long, Long)].collect().toMap
    assert(lpaB == lpaS && lpaAuto == lpaB)
    val ccB = GraphOps.ccEdges(e, "src", "dst", broadcastState = Some(true))
      .as[(Long, Long)].collect().toMap
    val ccS = GraphOps.ccEdges(e, "src", "dst", broadcastState = Some(false))
      .as[(Long, Long)].collect().toMap
    assert(ccB == ccS)
    val prB = GraphOps.pageRankFixedPoint(e, "src", "dst", iters = 3,
      broadcastState = Some(true)).as[(Long, Long)].collect().toMap
    val prS = GraphOps.pageRankFixedPoint(e, "src", "dst", iters = 3,
      broadcastState = Some(false)).as[(Long, Long)].collect().toMap
    assert(prB == prS)
  }

  test("ccEdges (Catalyst loop) equals GraphX connectedComponents") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (20L, 21L))
      .toDF("src", "dst")
    val dfCC = GraphOps.ccEdges(e, "src", "dst")
      .as[(Long, Long)].collect().toMap
    val gxCC = GraphOps.connectedComponentsDF(
      spark, GraphOps.fromEdges(spark, e, "src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(dfCC == gxCC)
    assert(dfCC(4L) == 1L && dfCC(12L) == 10L && dfCC(21L) == 20L)
  }

  test("ccStarEdges: equals ccEdges on mixed graphs; finishes a 300-chain in O(log n) rounds") {
    // mixed shape: path + clique + isolated pair
    val e = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)) ++
      (for (a <- 20L to 23L; b <- 20L to 23L if a < b) yield (a, b))).toDF("src", "dst")
    val star = GraphOps.ccStarEdges(e, "src", "dst").as[(Long, Long)].collect().toMap
    val prop = GraphOps.ccEdges(e, "src", "dst").as[(Long, Long)].collect().toMap
    assert(star == prop)
    // a 300-vertex chain: diameter 299 ≫ ccEdges' default 20-superstep
    // budget, but pointer jumping converges in ~log2(300) rounds
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = GraphOps.ccStarEdges(chain, "src", "dst")
      .as[(Long, Long)].collect()
    assert(out.length == 300 && out.forall(_._2 == 1L))
  }

  test("communityLevels: resolution ladder coarsens monotonically") {
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    // two clique-pairs, bridged within pairs; pairs disconnected from each other
    val e = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(11L, 12L, 13L)) ++ Seq((3L, 11L)) ++
      clique(Seq(21L, 22L, 23L))).toDF("src", "dst")
    val out = GraphOps.communityLevels(spark, e, "src", "dst", iterPerLevel = 6)
      .as[(Long, Int, Long)].collect()
    val byLevel = out.groupBy(_._2).view.mapValues(_.map(x => x._1 -> x._3).toMap).toMap
    assert(byLevel.keySet == Set(0, 1, 2))
    // every vertex labeled at every level
    assert(byLevel.values.forall(_.size == 9))
    val nComm = (l: Int) => byLevel(l).values.toSet.size
    assert(nComm(0) >= nComm(1) && nComm(1) >= nComm(2))
    // coarsest level = connected components: bridged cliques merge,
    // the isolated clique stays apart
    assert(nComm(2) == 2)
    assert(byLevel(2)(1L) == byLevel(2)(12L))
    assert(byLevel(2)(1L) != byLevel(2)(21L))
  }

  test("metrics listener records action row counts (K8)") {
    val l = graft.sinks.Metrics.attach(spark)
    try {
      Seq(1, 2, 3).toDF("x").collect()
      // listener events are async — poll briefly
      val deadline = System.nanoTime() + 5000000000L
      while (l.snapshot.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(l.snapshot.nonEmpty)
      assert(l.snapshot.exists(_.wallNs > 0))
    } finally spark.listenerManager.unregister(l)
  }

  test("twoHop: neighbors via shared mids with path counts (G5)") {
    // bipartite: parts {1,2,3} × suppliers {100,101}
    val e = Seq((1L, 100L), (1L, 101L), (2L, 100L), (2L, 101L), (3L, 101L))
      .toDF("src", "dst")
    val out = GraphOps.twoHop(e, "src", "dst", anchor = 1L)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(2L -> 2L, 3L -> 1L)) // 2 via both suppliers, 3 via 101 only
  }

  test("pageRankFixedPoint: mass conserved, ordering matches GraphX staticPageRank") {
    // star K1,4 (center 0) plus a 2-path appendage: asymmetric degrees
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val scale = 1000000000000L
    val pr = GraphOps.pageRankFixedPoint(e, "src", "dst", iters = 10, scale = scale)
      .as[(Long, Long)].collect().toMap
    assert(pr.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    // integer division floors per vertex/iteration, so total mass can only
    // leak DOWN, and by < n units per division site per iteration
    assert(pr.values.sum <= scale && pr.values.sum > scale - 1000L)
    assert(pr(0L) > pr(4L) && pr(4L) > pr(1L)) // rank follows degree
    assert(Seq(1L, 2L, 3L).map(pr).distinct.size == 1) // symmetric leaves agree
    // cross-check the ordering against GraphX's double-precision
    // staticPageRank on the same undirected expansion
    val und = e.union(e.select(col("dst"), col("src")))
    val gx = GraphOps.fromEdges(spark, und, "src", "dst")
      .staticPageRank(10, resetProb = 0.15)
      .vertices.collect().toMap
    val fixedOrder = pr.toSeq.sortBy { case (id, p) => (-p, id) }.map(_._1)
    val gxOrder = gx.toSeq.sortBy { case (id, p) => (-p, id) }.map(_._1)
    assert(fixedOrder == gxOrder)
  }

  test("pageRankFixedPoint: empty edge set yields empty result, no division by zero") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.pageRankFixedPoint(empty, "src", "dst", iters = 3).count() == 0L)
  }

  test("bfsLevels: minimum hop distances, bounded at maxHops, match GraphX ShortestPaths") {
    // path 1-2-3-4-5 with a shortcut 1-3: level(3)=1, level(5)=3
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L), (7L, 8L))
      .toDF("src", "dst")
    val anchor = Seq(1L).toDF("id")
    val lv = GraphOps.bfsLevels(e, "src", "dst", anchor, maxHops = 2)
      .as[(Long, Int)].collect().toMap
    assert(lv == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2)) // 5 beyond maxHops; 7,8 unreachable
    // GraphX cross-check: Pregel-based ShortestPaths on the same expansion
    val und = e.union(e.select(col("dst"), col("src")))
    val sp = org.apache.spark.graphx.lib.ShortestPaths
      .run(GraphOps.fromEdges(spark, und, "src", "dst"), Seq(1L))
      .vertices.collect().toMap
      .flatMap { case (id, m) => m.get(1L).map(id -> _) }
    assert(sp.filter(_._2 <= 2) == lv.map { case (k, v) => k -> v })
  }

  test("clusteringCoefficients: K4 all-1, path all-0, triangle+pendant mixed") {
    // K4: every neighborhood is a clique → lcc 1.0 everywhere
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("src", "dst")
    val c4 = GraphOps.clusteringCoefficients(k4, "src", "dst")
      .select("id", "lcc").as[(Long, Double)].collect().toMap
    assert(c4 == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
    // path: no triangles → 0 everywhere (including degree-1 endpoints)
    val cp = GraphOps.clusteringCoefficients(edges, "src", "dst")
      .select("id", "lcc").as[(Long, Double)].collect().toMap
    assert(cp.values.forall(_ == 0.0) && cp.keySet == Set(1L, 2L, 3L, 10L, 11L))
    // triangle 1-2-3 with pendant 4 on vertex 1: lcc(1) = 2·1/(3·2) =
    // 0.333333 (rounded to 6), lcc(2) = lcc(3) = 1, lcc(4) = 0
    val tp = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val ct = GraphOps.clusteringCoefficients(tp, "src", "dst")
    val m = ct.select("id", "degree", "n_triangles", "lcc")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(m(1L) == ((1L, 3L, 1L, 0.333333)))
    assert(m(2L) == ((2L, 2L, 1L, 1.0)) && m(3L) == ((3L, 2L, 1L, 1.0)))
    assert(m(4L) == ((4L, 1L, 0L, 0.0)))
  }

  test("weightedPageRank: weight-1 graph equals the unweighted fixed point") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val we = e.withColumn("w", lit(1L))
    val plain = GraphOps.pageRankFixedPoint(e, "src", "dst", iters = 4,
        scale = 1000000L).as[(Long, Long)].collect().toMap
    val weighted = GraphOps.weightedPageRankFixedPoint(we, "src", "dst", "w",
        iters = 4, scale = 1000000L).as[(Long, Long)].collect().toMap
    assert(plain == weighted)
    // heavier edge pulls mass: triangle 1-2-3 + pendant 4, all weight 1
    // except edge (1,4) at weight 10 — vertex 4 must outrank vertices
    // 2 and 3 (it receives 10/12 of vertex 1's mass each step)
    val skew = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (1L, 4L, 10L))
      .toDF("src", "dst", "w")
    val pr = GraphOps.weightedPageRankFixedPoint(skew, "src", "dst", "w",
        iters = 6, scale = 1000000L).as[(Long, Long)].collect().toMap
    assert(pr(4L) > pr(2L) && pr(4L) > pr(3L))
  }

  test("neighborhoodAgg: one message-passing layer sums neighbor features exactly") {
    // path 1-2-3 with features f(1)=10.50, f(2)=20.25, f(3)=30.00
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val f = Seq((1L, 10.50), (2L, 20.25), (3L, 30.00)).toDF("id", "f")
    val out = GraphOps.neighborhoodAgg(e, "src", "dst", f, "id", "f")
      .select("id", "n_nbrs", "f_sum", "f_mean")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1L, 20.25, 20.25)))
    assert(out(2L) == ((2L, 2L, 40.50, 20.25))) // 10.50 + 30.00
    assert(out(3L) == ((3L, 1L, 20.25, 20.25)))
  }

  test("linkPredictTopK: common neighbors, Jaccard, and the hub-degree guard") {
    // parts {1,2} share suppliers {10,11}; part 3 shares only 11 with them;
    // supplier 99 is a hub touching everything
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 11L),
                (1L, 99L), (2L, 99L), (3L, 99L), (4L, 99L))
      .toDF("part", "supp")
    val top = GraphOps.linkPredictTopK(e, "part", "supp", k = 10,
        maxRightDegree = 3)
      .as[(Long, Long, Long, Double)].collect()
    // hub 99 (degree 4 > 3) pruned: pair (1,2) has cn=2 over degrees 2,2
    // → jaccard 2/(2+2-2)=1.0; (1,3)/(2,3) have cn=1 over degrees 2,1 →
    // 1/(2+1-1)=0.5; vertex 4 (hub-only) pairs with nothing
    assert(top.head == ((1L, 2L, 2L, 1.0)))
    assert(top.toSet == Set((1L, 2L, 2L, 1.0), (1L, 3L, 1L, 0.5), (2L, 3L, 1L, 0.5)))
    // without the guard the hub manufactures pairs with vertex 4
    val all = GraphOps.linkPredictTopK(e, "part", "supp", k = 10,
        maxRightDegree = 100)
      .as[(Long, Long, Long, Double)].collect()
    assert(all.exists(r => r._2 == 4L))
  }

  test("triangleCounts: K4, path, bipartite, and a brute-force cross-check") {
    // K4: every vertex is in C(3,2)=3 triangles
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("src", "dst")
    val t4 = GraphOps.triangleCounts(k4, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(t4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // path graph: no triangles (zeros, not missing rows)
    val tp = GraphOps.triangleCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(tp.values.forall(_ == 0L) && tp.keySet == Set(1L, 2L, 3L, 10L, 11L))
    // dup edges / reversed direction / self-loops don't inflate counts
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val tm = GraphOps.triangleCounts(messy, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(tm == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // brute-force cross-check on a deterministic pseudo-random graph
    val es = (for { a <- 0L until 30L; b <- 0L until 30L
                    if a < b && (a * 31 + b * 17) % 5 == 0 } yield (a, b))
    val got = GraphOps.triangleCounts(es.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    val adj = es.toSet
    def conn(x: Long, y: Long) = adj((x min y, x max y))
    val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
    val brute = verts.map(v => v -> (for {
      x <- verts; y <- verts
      if x < y && x != v && y != v && conn(v, x) && conn(v, y) && conn(x, y)
    } yield 1).size.toLong).toMap
    assert(got == brute)
  }

  test("kCorePeel: K4 core survives, pendant chain cascades off") {
    // K4 on 1-4, chain 4-5-6 hanging off: 3-core = exactly the K4;
    // 5 peels only AFTER 6 (cascade needs 2 rounds)
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val e = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    val out = GraphOps.kCorePeel(e, "src", "dst", k = 3, rounds = 3)
      .as[(Long, Boolean, Option[Long])].collect().map(r => r._1 -> r).toMap
    assert((1L to 4L).forall(out(_)._2))
    assert(!out(5L)._2 && !out(6L)._2)
    assert(out(1L)._3.contains(3L) && out(5L)._3.isEmpty)
    // bounded rounds: with rounds = 1 the not-yet-cascaded 5 still survives
    // degree-wise? no — deg(5)=2 < 3 drops round 1; but 4 keeps core deg
    val r1 = GraphOps.kCorePeel(e, "src", "dst", k = 3, rounds = 1)
      .as[(Long, Boolean, Option[Long])].collect().map(r => r._1 -> r._2).toMap
    assert(r1 == out.view.mapValues(_._2).toMap) // this cascade settles in 1
  }

  test("kCorePeel at 7 rounds leaves only its output registered") {
    // K4 with the chain 4-5-…-11 off it: round r peels vertex 12 − r, so
    // all 7 rounds (the first, then blocks of 3 and 3) move the survivors
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val e = (k4 ++ (4L until 11L).map(v => (v, v + 1L))).toDF("src", "dst")
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val entriesBefore = org.apache.spark.sql.GraftSqlBridge.cachedEntries(spark)
    val out = GraphOps.kCorePeel(e, "src", "dst", k = 2, rounds = 7)
    val own = out.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd.id
    }.toSet
    assert(own.size == 1 && sc.getPersistentRDDs.keySet -- rddsBefore == own)
    assert(org.apache.spark.sql.GraftSqlBridge.cachedEntries(spark) == entriesBefore)
    val core = out.filter(col("in_core")).select("id").as[Long].collect().toSet
    assert(core == (1L to 4L).toSet)
    GraphOps.releaseLocalCheckpoint(out)
  }

  test("hitsFixedPoint: star hub dominates, determinism, mass conservation") {
    // hub 1 points at 3 suppliers; hub 2 points at one of them
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)).toDF("src", "dst")
    val h = GraphOps.hitsFixedPoint(e, "src", "dst", iters = 2)
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // hub 1 (3 out-edges incl. the shared top authority) beats hub 2
    assert(h(1L)._1.get > h(2L)._1.get)
    // authority 10 (two in-edges) beats 11/12
    assert(h(10L)._2.get > h(11L)._2.get)
    assert(h(11L)._2 == h(12L)._2) // symmetric siblings tie exactly
    // rescaled masses stay ≤ scale and sum to ~scale (integer-div floor)
    val hubs = h.values.flatMap(_._1).sum
    val auths = h.values.flatMap(_._2).sum
    assert(hubs <= 1000000000L && hubs > 999999990L)
    assert(auths <= 1000000000L && auths > 999999990L)
    val again = GraphOps.hitsFixedPoint(e, "src", "dst", iters = 2)
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(again == h)
    // empty edge set: empty result, no division by zero
    assert(GraphOps.hitsFixedPoint(
      Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst", 2).count() == 0)
  }

  test("modularityOf: perfect split positive, single blob zero-sum") {
    // two disjoint cliques labelled by component: contributions positive,
    // and q_num matches the hand formula exactly
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val e = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(11L, 12L, 13L))).toDF("src", "dst")
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 1L), (11L, 2L), (12L, 2L), (13L, 2L))
      .toDF("id", "label")
    val m = GraphOps.modularityOf(e, "src", "dst", asg, "id", "label")
      .select("community", "e_within", "deg_sum", "q_num")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // m2 = 12 directed rows; per clique: e_within = 6, deg_sum = 6
    assert(m(1L) == (1L, 6L, 6L, 6L * 12L - 36L))
    assert(m(2L) == (2L, 6L, 6L, 6L * 12L - 36L))
    // everything in ONE community: Σ q_num = m2·m2 − m2² = 0
    val one = Seq((1L, 1L), (2L, 1L), (3L, 1L), (11L, 1L), (12L, 1L), (13L, 1L))
      .toDF("id", "label")
    val q0 = GraphOps.modularityOf(e, "src", "dst", one, "id", "label")
      .agg(sum("q_num")).as[Long].head()
    assert(q0 == 0L)
  }

  test("louvainRefine: improves a bad split, never decreases modularity, deterministic") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    // two 4-cliques + one weak bridge; a deliberately BAD assignment that
    // puts one vertex of each clique on the wrong side
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)) ++
      Seq((4L, 11L))).toDF("src", "dst")
    val bad = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L,
      11L -> 1L, 12L -> 2L, 13L -> 2L, 14L -> 2L).toDF("id", "label")
    def qTot(asg: org.apache.spark.sql.DataFrame): Long =
      GraphOps.modularityOf(e, "src", "dst", asg, "id", "label")
        .agg(sum("q_num")).as[Long].head()
    val refined = GraphOps.louvainRefine(e, "src", "dst", bad, "id", "label",
      rounds = 3)
    assert(qTot(refined) > qTot(bad)) // strictly better than the bad split
    // the two clique cores end up together
    val m = refined.as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).map(m).distinct.size == 1)
    assert(Seq(11L, 12L, 13L, 14L).map(m).distinct.size == 1)
    assert(m(1L) != m(11L))
    // deterministic: a second run is bit-identical
    val again = GraphOps.louvainRefine(e, "src", "dst", bad, "id", "label",
      rounds = 3).as[(Long, Long)].collect().toMap
    assert(again == m)
    // non-decrease also holds starting from LPA's (already good) output
    // — the acceptance gate keeps the LPA partition if no move helps
    val lpa = GraphOps.lpaEdges(e, "src", "dst", 8)
    val rl = GraphOps.louvainRefine(e, "src", "dst", lpa, "id", "label",
      rounds = 2)
    assert(qTot(rl) >= qTot(lpa))
    // vertices with no edges pass through unchanged
    val withIso = bad.unionByName(Seq(99L -> 7L).toDF("id", "label"))
    val iso = GraphOps.louvainRefine(e, "src", "dst", withIso, "id", "label",
      rounds = 1).as[(Long, Long)].collect().toMap
    assert(iso(99L) == 7L)
  }

  test("louvainRefine γ: gamma=100 is bit-identical to default; partitions coarsen monotonically as γ falls") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    // two 4-cliques + a weak bridge, refined from the FINEST assignment
    // (every vertex its own community) so the γ trade is visible: small
    // γ discounts the degree penalty → merging wins → coarser; large γ
    // penalizes harder → finer survives.
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)) ++
      Seq((4L, 11L))).toDF("src", "dst")
    val singleton = (Seq(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L))
      .map(v => v -> v).toDF("id", "label")
    def nCommunities(gammaPct: Long): Long =
      GraphOps.louvainRefine(e, "src", "dst", singleton, "id", "label",
        rounds = 3, gammaPct = gammaPct)
        .select("label").distinct().count()
    // the reference ladder's resolutions, descending γ
    val counts = Seq(200L, 100L, 50L, 10L).map(nCommunities)
    assert(counts == counts.sorted.reverse,
      s"community counts must be non-increasing as γ falls: $counts")
    // γ = 1 (gammaPct = 100) must reduce to the γ-less gain exactly
    val plain = GraphOps.louvainRefine(e, "src", "dst", singleton, "id", "label",
      rounds = 3).as[(Long, Long)].collect().toMap
    val g100 = GraphOps.louvainRefine(e, "src", "dst", singleton, "id", "label",
      rounds = 3, gammaPct = 100L).as[(Long, Long)].collect().toMap
    assert(plain == g100)
    // determinism per γ
    val again = Seq(200L, 100L, 50L, 10L).map(nCommunities)
    assert(again == counts)
  }

  test("wellConnectedSplit: splits the planted disconnected community louvainRefine keeps") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    // THE Louvain pathology (Traag et al. 2019 fig. 2 shape): two
    // triangles with NO edge between them assigned to one community 1,
    // plus a separate connected 3-clique community 2. Every triangle
    // vertex's neighbors are all inside community 1, so its only move
    // candidate is its own community — louvainRefine provably KEEPS the
    // internally disconnected community no matter how many rounds.
    val e = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L)) ++
      clique(Seq(20L, 21L, 22L))).toDF("src", "dst")
    val asg = (Seq(1L, 2L, 3L, 10L, 11L, 12L).map(_ -> 1L) ++
      Seq(20L, 21L, 22L).map(_ -> 2L)).toDF("id", "label")
    val kept = GraphOps.louvainRefine(e, "src", "dst", asg, "id", "label",
      rounds = 4).as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 10L, 11L, 12L).map(kept).distinct.size == 1,
      s"louvainRefine should keep the merged community: $kept")
    // the split phase breaks it into its two connected pieces…
    val split = GraphOps.wellConnectedSplit(e, "src", "dst", asg, "id", "label")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).map(split).distinct == Seq(1L))
    assert(Seq(10L, 11L, 12L).map(split).distinct == Seq(10L))
    // …keeps the connected community intact (relabeled to min member)…
    assert(Seq(20L, 21L, 22L).map(split).distinct == Seq(20L))
    // …and the composed leidenRefine leaves every community internally
    // connected: recompute CC within each output community and compare
    val leiden = GraphOps.leidenRefine(e, "src", "dst", asg, "id", "label",
      rounds = 4)
    val resplit = GraphOps.wellConnectedSplit(e, "src", "dst", leiden,
      "id", "label")
    assert(resplit.select(countDistinct("label")).as[Long].head() ==
      leiden.select(countDistinct("label")).as[Long].head(),
      "leidenRefine output must already be well-connected (split is a no-op)")
    // a vertex with no intra-community edge becomes a singleton
    val stranded = (Seq(1L, 2L, 3L).map(_ -> 1L) ++ Seq(20L -> 1L) ++
      Seq(21L, 22L).map(_ -> 2L)).toDF("id", "label")
    val s2 = GraphOps.wellConnectedSplit(e, "src", "dst", stranded, "id", "label")
      .as[(Long, Long)].collect().toMap
    assert(s2(20L) == 20L && s2(21L) == 21L && s2(22L) == 21L)
  }

  test("lpaLeidenRefineMulti: per-gamma chains equal refine-then-split") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)) ++
      Seq((4L, 11L), (20L, 21L))).toDF("src", "dst")
    val gammas = Seq(200L, 50L, 10L)
    val fused = GraphOps.lpaLeidenRefineMulti(e, "src", "dst",
        lpaIters = 2, rounds = 2, gammaPcts = gammas)
      .as[(Long, Long, Long)].collect().toSet
    // reference composition: per-γ refine, then per-γ split
    val refined = GraphOps.lpaLouvainRefineMulti(e, "src", "dst",
      lpaIters = 2, rounds = 2, gammaPcts = gammas)
    val perGamma = gammas.flatMap { g =>
      GraphOps.wellConnectedSplit(e, "src", "dst",
          refined.filter(col("gamma_pct") === g), "id", "label")
        .as[(Long, Long)].collect().map { case (id, l) => (g, id, l) }
    }.toSet
    assert(fused == perGamma)
    // every resolution's output is already well-connected: re-splitting
    // any γ level changes nothing
    for (g <- gammas) {
      val lvl = fused.filter(_._1 == g).toSeq.map(t => (t._2, t._3))
        .toDF("id", "label")
      val re = GraphOps.wellConnectedSplit(e, "src", "dst", lvl, "id", "label")
        .as[(Long, Long)].collect().toSet
      assert(re == fused.filter(_._1 == g).map(t => (t._2, t._3)))
    }
  }

  test("lpaLeidenRefineMulti owns one checkpoint, releases the rest, and re-reads after the release") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)) ++
      Seq((4L, 11L), (20L, 21L))).toDF("src", "dst").localCheckpoint()
    val gammas = Seq(200L, 50L, 10L)
    val expected = gammas.flatMap { g =>
      GraphOps.wellConnectedSplit(e, "src", "dst",
          GraphOps.lpaLouvainRefineMulti(e, "src", "dst", lpaIters = 2,
            rounds = 2, gammaPcts = Seq(g)), "id", "label")
        .as[(Long, Long)].collect().map { case (id, l) => (g, id, l) }
    }.toSet
    val sc = spark.sparkContext
    // the Catalyst engine (localMaxEdges = 0) and the driver engine (the
    // default threshold)
    for (catalyst <- Seq(true, false)) {
      val before = sc.getPersistentRDDs.keySet
      val entriesBefore = org.apache.spark.sql.GraftSqlBridge.cachedEntries(spark)
      val out =
        if (catalyst) GraphOps.leidenLadder(e, "src", "dst", lpaIters = 2, rounds = 2,
            gammaPcts = gammas, broadcastState = None, numPartitions = None,
            localMaxEdges = 0L) { (intra, rows) =>
          GraphOps.ccAuto(intra, "src", "dst", knownRows = Some(rows))
        }
        else GraphOps.lpaLeidenRefineMulti(e, "src", "dst",
          lpaIters = 2, rounds = 2, gammaPcts = gammas)
      // the output's plan is one RDD leaf. On the Catalyst engine it is a
      // checkpoint and the only RDD the ladder leaves registered (each
      // chain releases its own asg, dC, k and components); the driver
      // engine's is an RDD over its arrays, not a LocalRelation, and
      // leaves none. Neither leaves a cache entry.
      val leaves = out.queryExecution.analyzed.collectLeaves()
      val own = leaves.collect { case l: LogicalRDD => l.rdd.id }
      assert(leaves.size == 1 && own.size == 1, s"not one RDD leaf: $leaves")
      assert(sc.getPersistentRDDs.keySet -- before ==
        (if (catalyst) own.toSet else Set.empty[Int]), s"catalyst=$catalyst")
      assert(org.apache.spark.sql.GraftSqlBridge.cachedEntries(spark) == entriesBefore)
      // re-read after the release: a fresh plan over the output under
      // both planners (a released checkpoint once surfaced with AQE off)
      Thread.sleep(200L) // time for the asynchronous block removal
      def reread() = out.join(e.select(col("src").as("id")).distinct(), Seq("id"), "left")
        .select("gamma_pct", "id", "label").as[(Long, Long, Long)].collect().toSet
      assert(reread() == expected, s"catalyst=$catalyst")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try assert(reread() == expected, s"catalyst=$catalyst, AQE off")
      finally spark.conf.unset("spark.sql.adaptive.enabled")
      GraphOps.releaseLocalCheckpoint(out)
    }
  }

  test("wellConnectedSplit: splits a stranded community and leaves only the output") {
    // a path inside one community (split keeps it whole), a community
    // of two disconnected pairs (split in two), and a stranded vertex;
    // AlgoRandomSpec runs its intra graph under both CC engines
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 13L), (3L, 10L))
      .toDF("src", "dst").localCheckpoint()
    val asg = (Seq(1L, 2L, 3L).map(_ -> 1L) ++ Seq(10L, 11L, 12L, 13L).map(_ -> 10L) ++
      Seq(30L -> 1L)).toDF("id", "label")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = GraphOps.wellConnectedSplit(e, "src", "dst", asg, "id", "label")
    assert((sc.getPersistentRDDs.keySet -- before).size == 1,
      "left more than its output registered")
    val m = out.as[(Long, Long)].collect().toMap
    GraphOps.releaseLocalCheckpoint(out)
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      12L -> 12L, 13L -> 12L, 30L -> 30L))
  }

  test("ccAuto's local engine returns an RDD-backed frame with an exact size estimate") {
    val df = Seq(1L -> 2L, 2L -> 3L, 7L -> 8L).toDF("src", "dst")
    val out = GraphOps.ccAuto(df, "src", "dst")
    // an RDD leaf, never a LocalRelation, whose rows the optimizer would
    // evaluate at plan time to fold the filter and projection below
    val plan = out.filter(col("id") > 1L).select("component").queryExecution.optimizedPlan
    assert(plan.collectLeaves().forall(_.isInstanceOf[LogicalRDD]), plan)
    assert(org.apache.spark.sql.GraftSqlBridge.isCheckpoint(out))
    val rowBytes = org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
      .getSizePerRow(out.queryExecution.analyzed.output)
    assert(out.queryExecution.optimizedPlan.stats.sizeInBytes == rowBytes * 5)
    // releasing it is a safe no-op: the rows still read back
    GraphOps.releaseLocalCheckpoint(out)
    assert(out.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("loop-input rule: cached frames and checkpoints are materialized, scans and joins are not") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("graft_loop_input").toString
    e.write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val persisted = scan.filter(col("src") > 1L).persist()
    val eager = e.localCheckpoint()
    val lazyCp = e.localCheckpoint(eager = false)
    val underSelect = eager.select(col("dst").as("a"), col("src").as("b"))
    for ((name, df) <- Seq("persisted" -> persisted, "eager checkpoint" -> eager,
        "lazy checkpoint" -> lazyCp, "checkpoint under a select" -> underSelect))
      assert(GraphOps.loopInputMaterialized(df), s"$name should count as materialized")
    assert(!GraphOps.loopInputMaterialized(scan), "a parquet scan is not materialized")
    assert(!GraphOps.loopInputMaterialized(scan.join(e, "src")), "a join is not materialized")
    persisted.unpersist()
    Seq(eager, lazyCp).foreach(GraphOps.releaseLocalCheckpoint)
  }

  /** Runs `run` and checks that it leaves registered only the RDD of its
    * output (a cache or a checkpoint) and no cache entry but the output's
    * own. A checkpoint output must report row size × row count as its
    * size. Releases the output. */
  private def assertLeavesOnlyOutput(what: String)(run: => DataFrame): Unit = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val entriesBefore = GraftSqlBridge.cachedEntries(spark)
    val out = run
    val cached = out.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
    }.toSet
    val own = if (cached.nonEmpty) cached
      else out.queryExecution.analyzed.collectLeaves().collect { case l: LogicalRDD => l.rdd.id }.toSet
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(own.size == 1 && left == own, s"$what: left $left, output $own")
    assert(GraftSqlBridge.cachedEntries(spark) == entriesBefore + cached.size,
      s"$what left a cache entry")
    val rows = out.count()
    assert(rows > 0L)
    if (cached.isEmpty) {
      val rowBytes = EstimationUtils.getSizePerRow(out.queryExecution.analyzed.output)
      assert(out.queryExecution.optimizedPlan.stats.sizeInBytes == rowBytes * rows,
        s"$what: size estimate is not row size × $rows rows")
      GraphOps.releaseLocalCheckpoint(out)
    } else own.foreach(sc.getPersistentRDDs(_).unpersist())
  }

  test("the PageRank and BFS loops leave only their output registered, on uncached and checkpointed input") {
    val raw = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (3L, 4L, 5L), (10L, 11L, 1L))
      .toDF("src", "dst", "w")
    val anchor = Seq(1L).toDF("id")
    val loops = Seq[(String, DataFrame => DataFrame)](
      "pageRankFixedPoint" -> (GraphOps.pageRankFixedPoint(_, "src", "dst", iters = 3)),
      "personalizedPageRankFixedPoint" ->
        (GraphOps.personalizedPageRankFixedPoint(_, "src", "dst", anchor, iters = 3)),
      "weightedPageRankFixedPoint" ->
        (GraphOps.weightedPageRankFixedPoint(_, "src", "dst", "w", iters = 3)),
      "bfsLevels" -> (GraphOps.bfsLevels(_, "src", "dst", anchor, maxHops = 2)),
      "multiSourceBfs" -> (GraphOps.multiSourceBfs(_, "src", "dst", anchor, maxHops = 2)))
    val cp = raw.localCheckpoint()
    for ((input, e) <- Seq("uncached" -> raw, "checkpointed" -> cp);
         (name, run) <- loops)
      assertLeavesOnlyOutput(s"$name on the $input input")(run(e))
    GraphOps.releaseLocalCheckpoint(cp)
  }

  test("the superstep-core loops run 3+ blocks and leave only their bounded output") {
    // a 10-vertex path: ccEdges converges in 3 blocks of 4 and confirms
    // in a 4th, ccStarEdges takes several 1-round blocks, and the
    // iteration counts below give LPA (blocks of 4), PageRank (8) and
    // k-core (its first round, then blocks of 3) three blocks each
    val raw = (0L until 9L).map(v => (v, v + 1L)).toDF("src", "dst")
    val cp = raw.localCheckpoint()
    val loops = Seq[(String, DataFrame => DataFrame)](
      "lpaEdges" -> (GraphOps.lpaEdges(_, "src", "dst", maxIter = 9)),
      "ccEdges" -> (GraphOps.ccEdges(_, "src", "dst")),
      "ccStarEdges" -> (GraphOps.ccStarEdges(_, "src", "dst")),
      "pageRankFixedPoint" -> (GraphOps.pageRankFixedPoint(_, "src", "dst", iters = 17)),
      "kCorePeel" -> (GraphOps.kCorePeel(_, "src", "dst", k = 2, rounds = 8)))
    for ((input, e) <- Seq("uncached" -> raw, "checkpointed" -> cp);
         (name, run) <- loops)
      assertLeavesOnlyOutput(s"$name on the $input input")(run(e))
    // the CC engines label the path with its min id
    assert(GraphOps.ccEdges(raw, "src", "dst").as[(Long, Long)].collect().toSet ==
      (0L to 9L).map(_ -> 0L).toSet)
    GraphOps.releaseLocalCheckpoint(cp)
  }

  test("withRowBound records the row count along with the size") {
    val cp = Seq(1L -> 2L, 3L -> 4L, 5L -> 6L).toDF("src", "dst").localCheckpoint(eager = false)
    val bounded = org.apache.spark.sql.GraftSqlBridge.withRowBound(cp, 3)
    val stats = bounded.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(3)))
    assert(stats.sizeInBytes == org.apache.spark.sql.catalyst.plans.logical.statsEstimation
      .EstimationUtils.getSizePerRow(bounded.queryExecution.analyzed.output) * 3)
    GraphOps.releaseLocalCheckpoint(cp)
  }

  test("louvainRefineMulti: concurrent ladder equals sequential per-gamma runs") {
    // The multi-γ ladder materializes its γ loops CONCURRENTLY (round 14,
    // Concurrent.mapInParallel); a single-γ call short-circuits to the
    // calling thread. Equality between the 3-γ concurrent run and three
    // 1-γ sequential runs pins the determinism contract the concurrency
    // relies on — each γ loop a pure function of the materialized shared
    // start state.
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)) ++
      Seq((4L, 11L), (14L, 20L), (20L, 21L))).toDF("src", "dst")
    val asg = (1L to 4L).map(_ -> 1L).toDF("id", "label")
      .union(Seq(11L, 12L, 13L, 14L, 20L, 21L).map(_ -> 11L).toDF("id", "label"))
    val gammas = Seq(200L, 50L, 10L)
    val multi = GraphOps.louvainRefineMulti(e, "src", "dst", asg, "id", "label",
        rounds = 3, gammaPcts = gammas)
      .as[(Long, Long, Long)].collect().toSet
    val seq = gammas.flatMap { g =>
      GraphOps.louvainRefine(e, "src", "dst", asg, "id", "label",
          rounds = 3, gammaPct = g)
        .as[(Long, Long)].collect().map { case (id, l) => (g, id, l) }
    }.toSet
    assert(multi == seq)
  }

  test("Leiden ladder quality at reference scale (~100k nodes): each " +
      "gamma's refined assignment scores >= the LPA start in its own " +
      "RB-gamma measure, verified GLOBALLY with exact integers") {
    // r14 verdict item 6: modularityOf existed but nothing pinned the
    // LADDER's quality against plain LPA at the reference's published
    // community-layer scale (~99k nodes / ~124k edges). The refine gate
    // guarantees per-move non-decrease of q·m2·W − p·ΣD²; this verifies
    // the same quantity GLOBALLY via the independent modularityOf path —
    // a gate-measure bug (wrong join, wrong decimal fold) would break
    // the equality chain here even if every small-graph case passed.
    // Planted partition, hash-deterministic (no RNG state): communities
    // of 8 (ring + chord intra edges) plus sparse hash-derived inter
    // edges — ~106k edges / 100k nodes, the reference's shape.
    val n = 100000L
    val ids = spark.range(n).toDF("id")
    val intra = ids.filter(pmod(col("id"), lit(8)) =!= 7)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val chord = ids.filter(pmod(col("id"), lit(8)) === 0)
      .select(col("id").as("src"), (col("id") + 4).as("dst"))
    val inter = ids.filter(pmod(xxhash64(col("id")), lit(16)) === 0)
      .select(col("id").as("src"),
        pmod(xxhash64(col("id"), lit(1)), lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val e = intra.unionByName(chord).unionByName(inter)
      .localCheckpoint() // ladder + scorer both consume it
    val m2 = e.count() * 2
    val lpa = GraphOps.lpaEdges(e, "src", "dst", maxIter = 2).persist()
    lpa.count()
    val gammas = Seq(200L, 50L, 10L)
    val ladder = GraphOps.louvainRefineMulti(e, "src", "dst", lpa,
      "id", "label", rounds = 1, gammaPcts = gammas).persist()
    ladder.count()
    // global RB-γ numerator from modularityOf's per-community columns,
    // exact: gq·m2·Σ e_within − gp·Σ deg_sum² (W = Σ e_within over the
    // doubled edge rows — the same quantity refineCore's gate folds)
    def rbNum(asg: org.apache.spark.sql.DataFrame, g: Long): BigInt = {
      val gcd = BigInt(g).gcd(BigInt(100)).toLong
      val (gp, gq) = (g / gcd, 100L / gcd)
      val rows = GraphOps.modularityOf(e, "src", "dst", asg, "id", "label")
        .select("e_within", "deg_sum").as[(Long, Long)].collect()
      rows.iterator.map { case (ew, ds) =>
        BigInt(gq) * m2 * ew - BigInt(gp) * BigInt(ds) * ds
      }.sum
    }
    for (g <- gammas) {
      val refinedG = ladder.filter(col("gamma_pct") === g)
        .select(col("id"), col("label"))
      val (rbRefined, rbLpa) = (rbNum(refinedG, g), rbNum(lpa, g))
      assert(rbRefined >= rbLpa,
        s"gamma=$g/100: ladder RB $rbRefined < LPA RB $rbLpa")
      info(s"gamma=$g/100: RB_num LPA=$rbLpa ladder=$rbRefined " +
        s"(+${rbRefined - rbLpa})")
    }
    ladder.unpersist(blocking = false)
    lpa.unpersist(blocking = false)
  }

  test("multiSourceBfs: nearest landmark with smallest-id tie-break") {
    // path 1-2-3-4-5 with landmarks {1, 5}: 2→1, 4→5, 3 ties → 1
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val lms = Seq(1L, 5L).toDF("id")
    val out = GraphOps.multiSourceBfs(e, "src", "dst", lms, maxHops = 2)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (1L, 0) && out(5L) == (5L, 0))
    assert(out(2L) == (1L, 1) && out(4L) == (5L, 1))
    assert(out(3L) == (1L, 2)) // equidistant — smallest landmark wins
    // maxHops bounds the expansion
    val h1 = GraphOps.multiSourceBfs(e, "src", "dst", lms, maxHops = 1)
      .as[(Long, Long, Int)].collect().map(_._1).toSet
    assert(h1 == Set(1L, 2L, 4L, 5L))
  }

  test("q150 capstone: one lazy program, consistent stages, no inter-stage disk hop") {
    val q150 = SparkEntry.registry.find(_.name == "q150_graphrag_capstone").get
    val q147 = SparkEntry.registry.find(_.name == "q147_leiden_multires").get
    val sf = "/root/testdata/sf0.001"
    val out = q150.fn(spark, sf).cache()
    val rows = out.collect()
    assert(rows.nonEmpty)
    // upsert split is exactly label parity, statuses nothing else
    rows.foreach { r =>
      val label = r.getAs[Long]("label")
      val status = r.getAs[String]("status")
      assert(status == (if (label % 2 == 0) "existing" else "inserted"))
      // doc-id synthesis: level from the γ index, label verbatim
      val level = r.getAs[Int]("level")
      assert(r.getAs[String]("doc_id") == s"community_L${level}_$label")
      val gp = r.getAs[Long]("gamma_pct")
      assert(level == (if (gp == 200L) 0 else if (gp == 50L) 1 else 2))
      // name rule: "<top type> <top brand>" — both parts always present here
      assert(r.getAs[String]("name").nonEmpty)
      assert(r.getAs[Long]("member_count") >= 1L)
      // representatives are capped at 3 and never exceed the membership
      val nReps = r.getAs[String]("rep_members").split(", ").length
      assert(nReps <= 3 && nReps <= r.getAs[Long]("member_count"))
    }
    // stage consistency: the capstone's community set per γ IS the q147
    // ladder's label set (metadata/templating must not add, drop, or
    // relabel communities)
    val ladder = q147.fn(spark, sf)
      .select(col("gamma_pct"), col("label")).distinct()
      .as[(Long, Long)].collect().toSet
    val capstone = rows.map(r =>
      (r.getAs[Long]("gamma_pct"), r.getAs[Long]("label"))).toSet
    assert(capstone == ladder)
    // no inter-stage disk hop: the only file scans in the final plan are
    // the base parquet tables (part for attributes, lineitem for edges) —
    // no stage writes + re-reads an intermediate
    val scans = out.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(!scans.linesIterator.exists(l =>
        !l.contains("part.parquet") && !l.contains("lineitem.parquet")),
      s"unexpected file scan in capstone plan:\n$scans")
    // one community partitioning: base is hash-partitioned on
    // (gamma_pct, label) once, every aggregate and window above it
    // reuses that partitioning, and the upsert is a projection (no
    // anti-join of meta with itself)
    val nodes = planNodes(out.queryExecution.executedPlan)
    val antis = nodes.collect { case j: BaseJoinExec if j.joinType == LeftAnti => j }
    assert(antis.isEmpty, s"upsert still anti-joins:\n${antis.mkString("\n")}")
    def onCommunity(x: ShuffleExchangeExec) = x.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.exists(_.references.exists(a => a.name == "gamma_pct" || a.name == "label"))
      case _ => false
    }
    val exchanges = nodes.collect { case x: ShuffleExchangeExec if onCommunity(x) => x }
    val byCol = exchanges.filter(_.shuffleOrigin == REPARTITION_BY_COL)
    assert(byCol.size == 1 && byCol.head.outputPartitioning.asInstanceOf[HashPartitioning]
        .expressions.map(_.asInstanceOf[Attribute].name) == Seq("gamma_pct", "label"),
      s"want one (gamma_pct, label) repartition:\n${exchanges.mkString("\n")}")
    assert(!exchanges.exists(_.shuffleOrigin == ENSURE_REQUIREMENTS),
      s"an operator re-shuffles on the community key:\n${exchanges.mkString("\n")}")
    // exact sizes on the ladder's input and output: base's joins
    // (ladder ⋈ part ⋈ deg) are planned as broadcasts from statistics,
    // so its initial, pre-AQE plan holds no sort-merge join
    val base = nodes.collectFirst { case m: InMemoryTableScanExec
      if m.relation.output.exists(_.name == "p_type") => m.relation }.get
    val smj = planNodes(base.cachedPlan, initial = true)
      .collect { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"sort-merge joins in base's initial plan:\n${smj.mkString("\n")}")
    out.unpersist()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Every node of an executed plan: AQE's current plan (its initial,
    * pre-AQE plan when `initial`), the plans inside its query stages, and
    * each cached relation's plan (once, however many scans read it). */
  private def planNodes(root: SparkPlan, initial: Boolean = false): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def go(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => go(if (initial) a.initialPlan else a.executedPlan)
      case q: QueryStageExec => q +: go(q.plan)
      case m: InMemoryTableScanExec =>
        m +: (if (seen.add(m.relation.cacheBuilder)) go(m.relation.cachedPlan) else Nil)
      case other => other +: other.children.flatMap(go)
    }
    go(root)
  }
}
