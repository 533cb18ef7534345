package graft.queries

import graft.{Q, Tables}
import graft.graph.GraphOps
import graft.operators.{Relational => R}
import org.apache.spark.sql.functions._

/** Graph/community queries (SURVEY §2.10) over graphs derived from the
  * synthetic tables: part–supplier bipartite (lineitem co-occurrence —
  * the artists–genres analog) and customer–nation membership (the
  * artist–country analog).
  *
  * Vertex-id namespacing for bipartite graphs: left = 2k, right = 2k+1
  * (disjoint longs, reversible with shiftright). GraphX results are
  * normalized back to natural keys before comparison.
  */
object GraphQueries {

  val all: Seq[Q] = Seq(

    // G1 + A11 substrate: bipartite graph build + vertex degrees.
    Q("q39_graph_degree",
      """SELECT 'part' AS kind, CAST(l_partkey AS BIGINT) AS key,
        |       CAST(COUNT(DISTINCT l_suppkey) AS INT) AS degree
        |FROM lineitem GROUP BY l_partkey
        |UNION ALL
        |SELECT 'supplier' AS kind, CAST(l_suppkey AS BIGINT) AS key,
        |       CAST(COUNT(DISTINCT l_partkey) AS INT) AS degree
        |FROM lineitem GROUP BY l_suppkey""".stripMargin) { (s, dir) =>
      val edges = Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .select((col("l_partkey") * 2).cast("long").as("src"),
                (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      val g = GraphOps.fromEdges(s, edges, "src", "dst")
      GraphOps.degreesDF(s, g).select(
        when(pmod(col("id"), lit(2)) === 0, "part").otherwise("supplier").as("kind"),
        shiftright(col("id"), 1).as("key"),
        col("degree"))
    },

    // G5: 2-hop traversal from the min-key anchor part — parts reachable
    // via shared suppliers, with connecting-supplier counts. Expressed as
    // edge-DataFrame self-joins (the scalable form of the 2-hop Cypher,
    // ingest_graph_db.py:366-377); the anchor is a scalar subquery, not a
    // driver-side collect.
    Q("q40_two_hop",
      """WITH e AS (SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem),
        |a AS (SELECT MIN(src) AS anchor FROM e),
        |h1 AS (SELECT DISTINCT e.dst AS mid FROM e, a WHERE e.src = a.anchor)
        |SELECT e.src AS neighbor, COUNT(DISTINCT e.dst) AS n_paths
        |FROM e JOIN h1 ON e.dst = h1.mid, a
        |WHERE e.src <> a.anchor
        |GROUP BY e.src""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "lineitem")
        .select(col("l_partkey").as("src"), col("l_suppkey").as("dst")).distinct()
        // three consumers (anchor agg, hop1, main join) — materialize the
        // distinct edge set once instead of re-shuffling it per branch
        .localCheckpoint()
      val anchor = broadcast(e.agg(min("src").as("anchor")))
      val hop1 = e.join(anchor, col("src") === col("anchor"))
        .select(col("dst").as("mid")).distinct()
      e.join(hop1, col("dst") === col("mid"))
        .join(anchor, col("src") =!= col("anchor"))
        .groupBy(col("src").as("neighbor"))
        .agg(countDistinct(col("mid")).as("n_paths"))
    },

    // G1/G3: GraphX connected components on the customer–nation membership
    // graph, labels normalized to min member key (SURVEY §7.5 risk 2:
    // deterministic labeling instead of engine-internal ids).
    Q("q41_connected_components",
      """SELECT c_custkey, MIN(c_custkey) OVER (PARTITION BY c_nationkey) AS component
        |FROM customer""".stripMargin) { (s, dir) =>
      val edges = Tables(s, dir, "customer")
        .select((col("c_custkey") * 2).cast("long").as("src"),
                (col("c_nationkey") * 2 + 1).cast("long").as("dst"))
      val g = GraphOps.fromEdges(s, edges, "src", "dst")
      val cc = GraphOps.connectedComponentsDF(s, g)
      val cust = cc.filter(pmod(col("id"), lit(2)) === 0)
        .select(shiftright(col("id"), 1).as("c_custkey"), col("component"))
      val labels = cust.groupBy("component").agg(min("c_custkey").as("comp_label"))
      cust.join(labels, "component")
        .select(col("c_custkey"), col("comp_label").as("component"))
    },

    // G2: deterministic synchronous label propagation (the Leiden
    // approximation, SURVEY §7.4) on the part–supplier bipartite graph.
    // The (count desc, label asc) tie-break makes every superstep a pure
    // function of the previous labels, so the DuckDB oracle replays the
    // unrolled supersteps exactly (determinism also covered in GraphSpec).
    Q("q42_lpa_communities", lpaOracle(iters = 3)) { (s, dir) =>
      GraphOps.lpaEdges(bipartite(s, dir), "src", "dst", maxIter = 3).select(
        when(pmod(col("id"), lit(2)) === 0, "part").otherwise("supplier").as("kind"),
        shiftright(col("id"), 1).as("key"),
        col("label"))
    },

    // G2 quality refinement: Louvain-style synchronous local-move pass
    // over the LPA assignment, each round gated by the exact integer
    // modularity numerator (accept only if Q strictly improves) — the
    // modularity-OPTIMIZING step the reference's Leiden run performs
    // that plain LPA lacks. All-integer scores + (score desc, c asc)
    // argmax + the integer gate make the whole pass a pure function of
    // the input; the oracle replays LPA AND both refine rounds unrolled.
    Q("q126_louvain_refine", louvainOracle(lpaIters = 3, rounds = 2)) { (s, dir) =>
      // LPA + refine over ONE shared undirected cache/degree frame (the
      // two-call form re-shuffled the expansion; same recurrence)
      GraphOps.lpaLouvainRefineMulti(bipartite(s, dir), "src", "dst",
          lpaIters = 3, rounds = 2, gammaPcts = Seq(100L))
        .select(
          when(pmod(col("id"), lit(2)) === 0, "part").otherwise("supplier").as("kind"),
          shiftright(col("id"), 1).as("key"),
          col("label"))
    },

    // G2 resolution-parameter parity: the reference's Leiden ladder runs
    // RB-configuration modularity at resolutions [2.0, 0.5, 0.1]
    // (neo4j_helpers.py:237-268 via /root/reference); here the same three
    // γ values drive the gated local-move refinement over ONE shared LPA
    // assignment — γ is an exact reduced rational in the integer gain, so
    // every resolution's rounds replay unrolled in the oracle.
    Q("q134_louvain_multires",
      louvainGammaOracle(lpaIters = 3, rounds = 1, Seq(200L, 50L, 10L))) { (s, dir) =>
      GraphOps.lpaLouvainRefineMulti(bipartite(s, dir), "src", "dst",
          lpaIters = 3, rounds = 1, gammaPcts = Seq(200L, 50L, 10L))
        .select(col("gamma_pct"),
          when(pmod(col("id"), lit(2)) === 0, "part").otherwise("supplier").as("kind"),
          shiftright(col("id"), 1).as("key"),
          col("label"))
    },

    // G2 multi-resolution: the 3-level community ladder (fine LPA →
    // contracted LPA → components), the reference's resolution stack
    // [2.0, 0.5, 0.1]. Oracle = unrolled LPA at both levels + a recursive
    // min-reachability CTE for the component level (level structure is
    // also asserted in GraphSpec).
    Q("q60_community_levels", communityLevelsOracle(iters = 2)) { (s, dir) =>
      GraphOps.communityLevels(s, bipartite(s, dir), "src", "dst", iterPerLevel = 2).select(
        when(pmod(col("id"), lit(2)) === 0, "part").otherwise("supplier").as("kind"),
        shiftright(col("id"), 1).as("key"),
        col("level"), col("community"))
    },

    // A7-A11/G4: per-community metadata in ONE pass — member count,
    // distinct-subgroup count, top-2 most frequent attribute values —
    // replacing the reference's per-community Python filter loop
    // (detect_communities.py:294-329).
    Q("q43_community_metadata",
      """WITH base AS (
        |  SELECT n.n_regionkey AS community, c.c_mktsegment AS segment, c.c_nationkey
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |stats AS (
        |  SELECT community, COUNT(*) AS n_members,
        |         COUNT(DISTINCT c_nationkey) AS n_nations
        |  FROM base GROUP BY community),
        |cnt AS (SELECT community, segment, COUNT(*) AS cnt FROM base GROUP BY community, segment),
        |top AS (
        |  SELECT community, segment,
        |         row_number() OVER (PARTITION BY community ORDER BY cnt DESC, segment) AS rn
        |  FROM cnt),
        |ts AS (SELECT community, string_agg(segment, ', ' ORDER BY rn) AS top_segments
        |       FROM top WHERE rn <= 2 GROUP BY community)
        |SELECT s.community, s.n_members, s.n_nations, ts.top_segments
        |FROM stats s JOIN ts USING (community)""".stripMargin) { (s, dir) =>
      val c = Tables(s, dir, "customer")
      val n = broadcast(Tables(s, dir, "nation"))
      val base = c.join(n, c("c_nationkey") === n("n_nationkey"))
        .select(col("n_regionkey").as("community"), col("c_mktsegment").as("segment"),
                col("c_nationkey"))
      val stats = base.groupBy("community")
        .agg(count(lit(1)).as("n_members"), countDistinct("c_nationkey").as("n_nations"))
      val top = R.topNFrequent(base.select("community", "segment"),
          group = Seq("community"), valueCol = "segment", n = 2)
        .groupBy("community")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("rn"), col("segment")))),
            x => x.getField("segment")),
          ", ").as("top_segments"))
      stats.join(top, "community")
    },

    // G2/G5 companion: damped PageRank in fixed-point (integer) arithmetic
    // over the part–supplier bipartite graph — deterministic regardless of
    // partial-aggregation order, so the DuckDB oracle replays the exact
    // power iteration (unrolled; integer ops are bit-identical engines
    // apart). 3 iterations keeps the unrolled oracle compact; the Spark
    // loop itself takes any iteration count.
    Q("q80_pagerank", pagerankOracle(iters = 3)) { (s, dir) =>
      GraphOps.pageRankFixedPoint(bipartite(s, dir), "src", "dst", iters = 3)
        .select(
          when(pmod(col("id"), lit(2)) === 0, "part").otherwise("supplier").as("kind"),
          shiftright(col("id"), 1).as("key"),
          col("pr"))
    },

    // G5: BFS minimum-hop levels from the min-key part vertex, frontier
    // expansion bounded at 3 hops. Per-hop work is proportional to the
    // frontier's edge neighborhood (the scalable BFS shape); the oracle
    // unrolls the same frontier/anti-join recurrence.
    Q("q81_bfs_levels", bfsOracle(maxHops = 3)) { (s, dir) =>
      // persist the edge set ONCE: the anchor agg and every BFS hop scan
      // the same cache instead of re-running the lineitem distinct twice
      // (measured ~1.5s at sf0.1; at corpus scale it's a second full
      // scan+shuffle avoided). bfsLevels honors the caller's cache.
      val e = bipartite(s, dir).persist()
      val anchor = e.agg(min(col("src")).as("id"))
      val lv = GraphOps.bfsLevels(e, "src", "dst", anchor, maxHops = 3)
      e.unpersist(blocking = false)
      lv.select(
          when(pmod(col("id"), lit(2)) === 0, "part").otherwise("supplier").as("kind"),
          shiftright(col("id"), 1).as("key"),
          col("level"))
    },

    // Personalized PageRank from the min-key part vertex — the damped
    // generalization of the reference's 2-hop anchor expansion
    // (ingest_graph_db.py:366-377): rank every vertex by relevance to
    // the anchor. Same fixed-point integer arithmetic as q80, teleport
    // mass returning to the anchor only; oracle replays the unrolled
    // anchored power iteration.
    Q("q107_personalized_pagerank", pprOracle(iters = 3)) { (s, dir) =>
      val e = bipartite(s, dir).persist()
      val anchor = e.agg(min(col("src")).as("id"))
      val pr = GraphOps.personalizedPageRankFixedPoint(
        e, "src", "dst", anchor, iters = 3)
      e.unpersist(blocking = false)
      pr.select(
        when(pmod(col("id"), lit(2)) === 0, "part").otherwise("supplier").as("kind"),
        shiftright(col("id"), 1).as("key"),
        col("pr"))
    },

    // HITS hubs & authorities on the DIRECTED part→supplier graph —
    // Kleinberg's power iteration with sum-normalization in fixed-point
    // integer arithmetic (deterministic under any partial-agg order; the
    // oracle replays the unrolled iterations in BIGINT exactly).
    Q("q108_hits", hitsOracle(iters = 2)) { (s, dir) =>
      GraphOps.hitsFixedPoint(bipartite(s, dir), "src", "dst", iters = 2)
        .select(
          when(pmod(col("id"), lit(2)) === 0, "part").otherwise("supplier").as("kind"),
          shiftright(col("id"), 1).as("key"),
          col("hub"), col("auth"))
    },

    // Newman modularity of the q42 LPA assignment, per community, in
    // EXACT integer arithmetic (q_num = E2_c·m2 − D_c²) — the detector-
    // quality evaluation the reference's leidenalg call leaves implicit.
    Q("q109_modularity", modularityOracle(iters = 2)) { (s, dir) =>
      val e = bipartite(s, dir).persist()
      val asg = GraphOps.lpaEdges(e, "src", "dst", maxIter = 2)
      val out = GraphOps.modularityOf(e, "src", "dst", asg, "id", "label")
      e.unpersist(blocking = false)
      GraphOps.releaseLocalCheckpoint(asg) // out is persisted and counted
      out
    },

    // G1/CC scale path: the Catalyst min-label loop (ccEdges) on the
    // customer–nation membership graph — same semantics as q41's GraphX
    // form (GraphSpec proves the two equal on random graphs); this gives
    // the scale path its own driver-checked oracle. Components are
    // star-shaped (customer → nation), so the oracle is the per-nation
    // min-customer window; labels normalized to min member key exactly
    // as q41.
    Q("q114_cc_catalyst",
      """SELECT c_custkey, MIN(c_custkey) OVER (PARTITION BY c_nationkey) AS component
        |FROM customer""".stripMargin) { (s, dir) =>
      val edges = Tables(s, dir, "customer")
        .select((col("c_custkey") * 2).cast("long").as("src"),
                (col("c_nationkey") * 2 + 1).cast("long").as("dst"))
      val cc = GraphOps.ccEdges(edges, "src", "dst", maxIter = 8)
      val cust = cc.filter(pmod(col("id"), lit(2)) === 0)
        .select(shiftright(col("id"), 1).as("c_custkey"), col("component"))
      val labels = cust.groupBy("component").agg(min("c_custkey").as("comp_label"))
      cust.join(labels, "component")
        .select(col("c_custkey"), col("comp_label").as("component"))
    },

    // O(log n)-round CC (pointer jumping): same result as q114's
    // min-propagation loop — the high-diameter scale path where
    // O(diameter) supersteps degenerate (GraphSpec runs it on a
    // 300-vertex chain that ccEdges' default budget cannot finish).
    Q("q149_cc_pointer_jumping",
      """SELECT c_custkey, MIN(c_custkey) OVER (PARTITION BY c_nationkey) AS component
        |FROM customer""".stripMargin) { (s, dir) =>
      val edges = Tables(s, dir, "customer")
        .select((col("c_custkey") * 2).cast("long").as("src"),
                (col("c_nationkey") * 2 + 1).cast("long").as("dst"))
      val cc = GraphOps.ccStarEdges(edges, "src", "dst")
      val cust = cc.filter(pmod(col("id"), lit(2)) === 0)
        .select(shiftright(col("id"), 1).as("c_custkey"), col("component"))
      val labels = cust.groupBy("component").agg(min("c_custkey").as("comp_label"))
      cust.join(labels, "component")
        .select(col("c_custkey"), col("comp_label").as("component"))
    },

    // Incremental CC: the orderkey PATH graph (edge o—o+1 when both
    // keys exist and o%3≠0) splits into a base graph (o%5≠0) whose CC
    // labels are maintained, and a batch (o%5=0) folded in via
    // incrementalCC — batch edges genuinely MERGE old components. The
    // oracle is full CC over old ∪ new stated in closed form: path-graph
    // components are gaps-and-islands, component = last run start ≤ v.
    // Equality proves incremental ≡ full recomputation.
    Q("q138_incremental_cc",
      """WITH ok AS (SELECT DISTINCT o_orderkey AS o FROM orders),
        |e AS (SELECT a.o AS src, b.o AS dst
        |      FROM ok a JOIN ok b ON b.o = a.o + 1 WHERE a.o % 3 <> 0),
        |v AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
        |s AS (SELECT v.id,
        |        CASE WHEN NOT EXISTS (SELECT 1 FROM e WHERE e.dst = v.id)
        |             THEN v.id END AS st
        |      FROM v)
        |SELECT id, MAX(st) OVER (ORDER BY id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS component
        |FROM s""".stripMargin) { (s, dir) =>
      val ok = Tables(s, dir, "orders").select(col("o_orderkey").as("o")).distinct()
      val e = ok.as("a").join(ok.as("b"), col("b.o") === col("a.o") + 1)
        .filter(col("a.o") % 3 =!= 0)
        .select(col("a.o").as("src"), col("b.o").as("dst"))
        .persist()
      val old = e.filter(col("src") % 5 =!= 0)
      val batch = e.filter(col("src") % 5 === 0)
      // the base labeling on the driver: a sparse path graph whose
      // components hold at most 4 vertices (fuzzyDedup's 2M threshold)
      val base = GraphOps.ccAuto(old, "src", "dst", localMaxEdges = 2000000L)
      val out = GraphOps.incrementalCC(base, batch, "src", "dst")
      e.unpersist(blocking = false) // out is a materialized checkpoint
      out
    },

    // WEIGHTED PageRank: edges weighted by lineitem co-occurrence count
    // (the GraphRAG relationship-strength signal — how often a part and
    // a supplier actually transact, not just whether they ever did).
    // share(u→v) = (pr·w) div W_u, all-BIGINT; oracle replays the
    // unrolled weighted iterations exactly.
    Q("q116_weighted_pagerank", weightedPagerankOracle(iters = 3)) { (s, dir) =>
      val we = Tables(s, dir, "lineitem")
        .groupBy((col("l_partkey") * 2).cast("long").as("src"),
                 (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
        .agg(count(lit(1)).as("w"))
      GraphOps.weightedPageRankFixedPoint(we, "src", "dst", "w", iters = 3)
        .select(
          when(pmod(col("id"), lit(2)) === 0, "part").otherwise("supplier").as("kind"),
          shiftright(col("id"), 1).as("key"),
          col("pr"))
    },

    // Neighborhood feature aggregation — one message-passing layer over
    // the bipartite graph with vertex features (part retail price /
    // supplier account balance): per vertex the count, decimal-exact
    // sum, and mean of neighbor features (the GraphSAGE-mean step a
    // graph-retrieval ranker runs over entity attributes).
    Q("q118_neighborhood_agg",
      """WITH e AS (SELECT DISTINCT CAST(l_partkey*2 AS BIGINT) AS src,
        |                           CAST(l_suppkey*2+1 AS BIGINT) AS dst FROM lineitem),
        |und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
        |f AS (SELECT CAST(p_partkey*2 AS BIGINT) AS id, p_retailprice AS f FROM part
        |      UNION ALL
        |      SELECT CAST(s_suppkey*2+1 AS BIGINT) AS id, s_acctbal AS f FROM supplier),
        |agg AS (SELECT u.src AS id, COUNT(*) AS n_nbrs,
        |               CAST(SUM(CAST(f.f AS DECIMAL(18,2))) AS DOUBLE) AS f_sum
        |        FROM und u JOIN f ON u.dst = f.id GROUP BY u.src)
        |SELECT CASE WHEN id % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
        |       id // 2 AS key, n_nbrs, f_sum,
        |       CAST(floor(f_sum / n_nbrs * 1000000.0) AS DOUBLE) / 1000000.0 AS f_mean
        |FROM agg""".stripMargin) { (s, dir) =>
      val feats = Tables(s, dir, "part")
        .select((col("p_partkey") * 2).cast("long").as("id"),
                col("p_retailprice").as("f"))
        .unionByName(Tables(s, dir, "supplier")
          .select((col("s_suppkey") * 2 + 1).cast("long").as("id"),
                  col("s_acctbal").as("f")))
      GraphOps.neighborhoodAgg(bipartite(s, dir), "src", "dst", feats, "id", "f")
        .select(
          when(pmod(col("id"), lit(2)) === 0, "part").otherwise("supplier").as("kind"),
          shiftright(col("id"), 1).as("key"),
          col("n_nbrs"), col("f_sum"), col("f_mean"))
    },

    // Common-neighbor / Jaccard link prediction on the ORDER-basket
    // projection: top-50 part pairs co-occurring in the most orders
    // (market-basket link prediction; right vertices are orders with
    // bounded degree ≤ lineitems/order, and the hub guard caps the
    // quadratic wedge fan-out Σ d_r² structurally. The supplier
    // projection is the cautionary counterexample: every supplier
    // serves ~500 parts, the projection is near-complete, and the
    // pairing explodes to ~10⁸ rows — measured 137s at sf0.1 before
    // switching the right side to orders, ~1s after).
    Q("q119_link_prediction",
      """WITH e AS (SELECT DISTINCT l_partkey AS a, l_orderkey AS r FROM lineitem),
        |keep AS (SELECT r FROM e GROUP BY r HAVING COUNT(*) <= 100),
        |ek AS (SELECT e.a, e.r FROM e JOIN keep USING (r)),
        |deg AS (SELECT a, COUNT(*) AS d FROM ek GROUP BY a),
        |p AS (SELECT x.a AS x, y.a AS y, COUNT(*) AS cn
        |      FROM ek x JOIN ek y ON x.r = y.r AND x.a < y.a
        |      GROUP BY x.a, y.a)
        |SELECT p.x, p.y, p.cn,
        |       ROUND(CAST(p.cn AS DOUBLE) / (dx.d + dy.d - p.cn), 6) AS jaccard
        |FROM p JOIN deg dx ON p.x = dx.a JOIN deg dy ON p.y = dy.a
        |ORDER BY p.cn DESC, p.x, p.y LIMIT 50""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "lineitem")
        .select(col("l_partkey").as("part"), col("l_orderkey").as("ord"))
      GraphOps.linkPredictTopK(e, "part", "ord", k = 50, maxRightDegree = 100L)
    },

    // Multi-source BFS: hop distance to the NEAREST of 3 landmark parts
    // (ties → smallest landmark) — the GraphRAG "distance to anchor
    // entities" partition, one frontier expansion for all landmarks.
    Q("q112_landmark_bfs", landmarkBfsOracle(maxHops = 2)) { (s, dir) =>
      val e = bipartite(s, dir).persist()
      val landmarks = e.select(col("src").as("id")).distinct()
        .orderBy(col("id").asc).limit(3)
      val lv = GraphOps.multiSourceBfs(e, "src", "dst", landmarks, maxHops = 2)
      e.unpersist(blocking = false)
      lv.select(
        when(pmod(col("id"), lit(2)) === 0, "part").otherwise("supplier").as("kind"),
        shiftright(col("id"), 1).as("key"),
        col("level"),
        shiftright(col("landmark"), 1).as("landmark_key"))
    },

    // G2 Leiden guarantee (Traag et al. 2019; the reference runs
    // leidenalg WITH this phase, neo4j_helpers.py:237-268): LPA → gated
    // Louvain refine → WELL-CONNECTEDNESS SPLIT, on the part
    // co-purchase graph (parts sharing an order). Deliberately
    // UNIPARTITE: synchronous LPA on the bipartite part–supplier graph
    // provably never mixes sides (labels swap id-parity every
    // superstep), so its intra-community edge set is empty and the
    // split would be vacuous there. The oracle unrolls LPA and the
    // refine round exactly as q126, then replays the constrained CC as
    // a min-reachability recursive CTE over intra-community edges.
    Q("q140_leiden_split", leidenSplitOracle(lpaIters = 2, rounds = 1)) { (s, dir) =>
      // o % 5 sample: the full co-purchase graph is ~1.2M edges at sf0.1
      // and the refine+split semantics need structure, not volume — the
      // deterministic order sample keeps ~240k edges and the same
      // disconnected-community pathology the split exists for
      val e = countedCoPurchase(s, dir, orderMod = 5)
      val refined = GraphOps.lpaLouvainRefineMulti(e, "src", "dst",
          lpaIters = 2, rounds = 1, gammaPcts = Seq(100L))
        .select(col("id"), col("label"))
      GraphOps.wellConnectedSplit(e, "src", "dst", refined, "id", "label")
        .select(col("id").as("key"), col("label"))
    },

    // The reference's FULL community stack in one operator: the 3-γ
    // resolution ladder (RB-configuration [2.0, 0.5, 0.1]) with the
    // well-connectedness split applied per resolution — leidenalg's
    // find_partition × 3 resolutions (neo4j_helpers.py:237-268). Each γ
    // runs as one concurrent chain from its refine rounds through its
    // split, and the three chains meet once, in the ladder's output
    // checkpoint. o % 10 sample keeps the 3-γ composite in the
    // q134/q140 cost family.
    Q("q147_leiden_multires",
      leidenMultiOracle(lpaIters = 2, rounds = 1, Seq(200L, 50L, 10L),
        orderMod = 10)) { (s, dir) =>
      val e = countedCoPurchase(s, dir, orderMod = 10)
      GraphOps.lpaLeidenRefineMulti(e, "src", "dst",
          lpaIters = 2, rounds = 1, gammaPcts = Seq(200L, 50L, 10L))
        .select(col("gamma_pct"), col("id").as("key"), col("label"))
    },

    // The reference's CAPSTONE DAG as ONE lazy program — the path every
    // real user runs end-to-end: graph build → full Leiden ladder
    // (q147's per-γ chains, refine rounds → split, meeting in one
    // output checkpoint) → per-community metadata in single groupBys
    // (q43's one-pass rewrite of detect_communities.py:294-330's
    // per-community Python loop) → community name rule + doc-id
    // templating (generate_community_summaries.py:28-50,
    // ingest_community_summaries.py:156) → idempotent upsert status
    // (ingest_community_summaries.py:136-178).
    // No stage materializes to disk. The metadata stage is planned on
    // ONE community partitioning, chosen once (stage 3), and the upsert
    // is a projection over it (stage 5).
    // Analog mapping: parts = artists, p_brand = genre,
    // p_type = country, co-purchase degree = similar_artists
    // connectivity (detect_communities.py:138-165), γ index = level.
    Q("q150_graphrag_capstone",
      graphragCapstoneOracle(lpaIters = 2, rounds = 1, Seq(200L, 50L, 10L),
        orderMod = 10)) { (s, dir) =>
      // the ladder loop and the degree agg both consume e; with e and
      // the ladder bounded by their counts, ladder ⋈ part ⋈ deg plans
      // as broadcasts before AQE has run a stage
      val e = countedCoPurchase(s, dir, orderMod = 10)
      // Stages 1-2: build + the multi-resolution Leiden ladder
      val ladder = GraphOps.lpaLeidenRefineMulti(e, "src", "dst",
        lpaIters = 2, rounds = 1, gammaPcts = Seq(200L, 50L, 10L))
      // connectivity = undirected co-purchase degree (the reference ranks
      // representatives by similar_artists list length)
      val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      // Stage 3: member attributes; persisted because four aggregations
      // (stats, brand top-N, container top-1, representatives) branch on
      // it. Hash-partitioned on (gamma_pct, label) first: every later
      // groupBy, window and join keys on that pair or a superset of it,
      // which this one partitioning satisfies with no further exchange.
      val part = Tables(s, dir, "part").select(
        col("p_partkey").cast("long").as("id"), col("p_brand"), col("p_type"))
      val base = ladder.join(part, "id").join(deg, Seq("id"), "left")
        .select(col("gamma_pct"), col("label"), col("id"),
          col("p_brand"), col("p_type"),
          coalesce(col("deg"), lit(0L)).as("deg"))
        .repartition(col("gamma_pct"), col("label"))
        .persist()
      val grp = Seq("gamma_pct", "label")
      val stats = base.groupBy(grp.map(col): _*)
        .agg(count(lit(1)).as("member_count"),
          countDistinct("p_brand").as("n_brands"))
      // ONE agg yields both the joined top-2 string and the top-1 value
      // (element 1 of the same rn-sorted array) — one community-sized
      // join fewer than separate top_brands/brand1 frames
      val brandAgg = R.topNFrequent(
          base.select("gamma_pct", "label", "p_brand"), grp, "p_brand", n = 2)
        .groupBy(grp.map(col): _*)
        .agg(transform(array_sort(collect_list(struct(col("rn"), col("p_brand")))),
          x => x.getField("p_brand")).as("brands"))
        .select(col("gamma_pct"), col("label"),
          array_join(col("brands"), ", ").as("top_brands"),
          element_at(col("brands"), 1).as("brand1"))
      val cont1 = R.topNFrequent(
          base.select("gamma_pct", "label", "p_type"), grp, "p_type", n = 1)
        .select(col("gamma_pct"), col("label"), col("p_type").as("cont1"))
      // representatives: top-3 by (connectivity desc, id asc), joined in
      // rank order (negated deg in the sort struct = desc)
      val reps = R.topKPerGroup(base.select("gamma_pct", "label", "id", "deg"),
          grp, Seq(col("deg").desc, col("id").asc), k = 3)
        .groupBy(grp.map(col): _*)
        .agg(array_join(
          transform(array_sort(collect_list(struct((-col("deg")).as("nd"), col("id")))),
            x => x.getField("id").cast("string")),
          ", ").as("rep_members"))
      // Stage 4: name rule (top country + top genre, with the reference's
      // fallback structure) + doc-id synthesis. The joins broadcast their
      // small sides; shuffled-hash joins over the shared partitioning
      // (no broadcast jobs) measured no faster.
      val meta = stats
        .join(brandAgg, grp).join(cont1, grp).join(reps, grp)
        .withColumn("level",
          when(col("gamma_pct") === 200, 0).when(col("gamma_pct") === 50, 1)
            .otherwise(2))
        .withColumn("name",
          when(col("cont1").isNotNull && col("cont1") =!= "",
            concat(col("cont1"), lit(" "), coalesce(col("brand1"), lit("Electronic"))))
            .otherwise(coalesce(col("brand1"), lit("Electronic"))))
        .withColumn("doc_id",
          concat(lit("community_L"), col("level").cast("string"),
            lit("_"), col("label").cast("string")))
        .drop("brand1", "cont1")
      // Stage 5: idempotent upsert — "already in the collection" modeled as
      // the deterministic even-label half, every other community inserted.
      // (gamma_pct, label) is unique and non-null in meta, so q54's
      // existing ∪ anti-join split is exactly one CASE projection (the
      // oracle's form); the anti-join form planned all of meta twice.
      meta.withColumn("status",
        when(pmod(col("label"), lit(2)) === 0, lit("existing"))
          .otherwise(lit("inserted")))
    },
  )

  /** The part co-purchase UNIPARTITE graph (parts sharing an order),
    * deterministically sampled to orders with key % orderMod = 0 —
    * per-order C(k,2) pairs, never a global part×part product. */
  private def coPurchase(s: org.apache.spark.sql.SparkSession, dir: String,
      orderMod: Int): org.apache.spark.sql.DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .filter(col("l_orderkey") % orderMod === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").cast("long").as("src"), col("b.p").cast("long").as("dst"))
      .distinct()
  }

  /** [[coPurchase]] as a lazy checkpoint, counted, and bounded by that
    * count. The count materializes the checkpoint. The co-purchase
    * join's statistics overestimate ~10^7×: sized from them, the loops
    * would keep the session partition floor; unbounded, the ladder's
    * broadcast decision would pay an exact vertex count and joins over
    * the edges would plan shuffles until AQE had run their stages. With
    * the count recorded as the row count, the loops size their
    * partitions from it. */
  private def countedCoPurchase(s: org.apache.spark.sql.SparkSession, dir: String,
      orderMod: Int): org.apache.spark.sql.DataFrame = {
    val e = coPurchase(s, dir, orderMod).localCheckpoint(eager = false)
    org.apache.spark.sql.GraftSqlBridge.withRowBound(e, e.count())
  }

  /** The part–supplier bipartite edge set shared by the graph queries
    * (part → 2k, supplier → 2k+1). */
  private def bipartite(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .select((col("l_partkey") * 2).cast("long").as("src"),
              (col("l_suppkey") * 2 + 1).cast("long").as("dst"))

  /** Shared oracle prelude: the bipartite edge set, its undirected
    * expansion, and per-vertex degrees — the exact frames
    * pageRankFixedPoint / bfsLevels build internally. */
  private def graphPrelude: String =
    """WITH e AS (SELECT DISTINCT CAST(l_partkey*2 AS BIGINT) AS src,
      |                           CAST(l_suppkey*2+1 AS BIGINT) AS dst FROM lineitem),
      |und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e)""".stripMargin

  private def kindKey: String =
    "CASE WHEN id % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind, id // 2 AS key"

  /** Unrolled fixed-point PageRank: share = pr // deg, incoming = Σ shares
    * on dst, new = base + (85·incoming) // 100. All-BIGINT ops (`//` floor
    * division ≡ Spark `div` on the nonnegative mass values), so each CTE
    * is bit-identical to one Spark iteration. */
  private def pagerankOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""s$i AS (SELECT u.dst AS id, CAST(SUM(pr${i - 1}.pr // d.deg) AS BIGINT) AS s
         |  FROM und u JOIN pr${i - 1} ON u.src = pr${i - 1}.id JOIN deg d ON u.src = d.id
         |  GROUP BY u.dst),
         |pr$i AS (SELECT d.id, (SELECT base FROM p) + (85 * COALESCE(s$i.s, 0)) // 100 AS pr
         |  FROM deg d LEFT JOIN s$i ON d.id = s$i.id)""".stripMargin
    }.mkString(",\n")
    s"""$graphPrelude,
       |deg AS (SELECT src AS id, COUNT(*) AS deg FROM und GROUP BY src),
       |p AS (SELECT 1000000000000 // COUNT(*) AS unit,
       |             (15 * (1000000000000 // COUNT(*))) // 100 AS base FROM deg),
       |pr0 AS (SELECT id, (SELECT unit FROM p) AS pr FROM deg),
       |$steps
       |SELECT $kindKey, pr FROM pr$iters""".stripMargin
  }

  /** Unrolled WEIGHTED fixed-point PageRank: per-edge share =
    * (pr·w) // W_u with W_u = Σ w, new = base + (85·Σ shares) // 100.
    * All-BIGINT (`//` floor ≡ Spark `div` on the nonnegative mass), so
    * each CTE is bit-identical to one Spark iteration of
    * GraphOps.weightedPageRankFixedPoint. Weights = lineitem
    * co-occurrence counts per (part, supplier) pair. */
  private def weightedPagerankOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""s$i AS (SELECT u.dst AS id,
         |    CAST(SUM((pr${i - 1}.pr * u.w) // d.wd) AS BIGINT) AS s
         |  FROM und u JOIN pr${i - 1} ON u.src = pr${i - 1}.id JOIN deg d ON u.src = d.id
         |  GROUP BY u.dst),
         |pr$i AS (SELECT d.id, (SELECT base FROM p) + (85 * COALESCE(s$i.s, 0)) // 100 AS pr
         |  FROM deg d LEFT JOIN s$i ON d.id = s$i.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT CAST(l_partkey*2 AS BIGINT) AS src,
       |                  CAST(l_suppkey*2+1 AS BIGINT) AS dst,
       |                  COUNT(*) AS w
       |           FROM lineitem GROUP BY 1, 2),
       |und AS (SELECT src, dst, w FROM e UNION ALL SELECT dst AS src, src AS dst, w FROM e),
       |deg AS (SELECT src AS id, SUM(w) AS wd FROM und GROUP BY src),
       |p AS (SELECT 1000000000000 // COUNT(*) AS unit,
       |             (15 * (1000000000000 // COUNT(*))) // 100 AS base FROM deg),
       |pr0 AS (SELECT id, (SELECT unit FROM p) AS pr FROM deg),
       |$steps
       |SELECT $kindKey, pr FROM pr$iters""".stripMargin
  }

  /** Unrolled anchored (personalized) fixed-point PageRank: pr0 = scale
    * on the anchor, 0 elsewhere; per step the (100−d)% teleport base
    * returns to the anchor only. All-BIGINT ops ≡ one Spark iteration. */
  private def pprOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""s$i AS (SELECT u.dst AS id, CAST(SUM(pr${i - 1}.pr // d.deg) AS BIGINT) AS s
         |  FROM und u JOIN pr${i - 1} ON u.src = pr${i - 1}.id JOIN deg d ON u.src = d.id
         |  GROUP BY u.dst),
         |pr$i AS (SELECT d.id,
         |  (CASE WHEN d.id = (SELECT id FROM anc) THEN (15 * 1000000000000) // 100
         |        ELSE 0 END) + (85 * COALESCE(s$i.s, 0)) // 100 AS pr
         |  FROM deg d LEFT JOIN s$i ON d.id = s$i.id)""".stripMargin
    }.mkString(",\n")
    s"""$graphPrelude,
       |deg AS (SELECT src AS id, COUNT(*) AS deg FROM und GROUP BY src),
       |anc AS (SELECT MIN(src) AS id FROM e),
       |pr0 AS (SELECT id, CASE WHEN id = (SELECT id FROM anc)
       |                        THEN 1000000000000 ELSE 0 END AS pr FROM deg),
       |$steps
       |SELECT $kindKey, pr FROM pr$iters""".stripMargin
  }

  /** Unrolled deterministic LPA supersteps over `und` (an undirected,
    * possibly-multi edge CTE named `undName`): count neighbor labels,
    * argmax with the (count desc, label asc) tie-break — one CTE pair per
    * superstep, prefixed `p`. Mirrors GraphOps.lpaEdges exactly,
    * including multi-edge message counts (self-loops vote twice, once per
    * direction of the undirected expansion). */
  private def lpaSteps(undName: String, p: String, iters: Int): String = {
    val init = s"${p}0 AS (SELECT DISTINCT src AS id, src AS label FROM $undName)"
    val steps = (1 to iters).map { i =>
      s"""${p}m$i AS (SELECT u.src AS id, l.label, COUNT(*) AS cnt
         |  FROM $undName u JOIN ${p}${i - 1} l ON u.dst = l.id GROUP BY u.src, l.label),
         |${p}$i AS (SELECT id, label FROM (
         |  SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, label) AS rn
         |  FROM ${p}m$i) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"$init,\n$steps"
  }

  /** Unrolled Louvain refinement: LPA prelude, then per round —
    * community degree sums D_c, neighbor-community edge counts k_{v→c},
    * own-community candidate union, integer-score argmax
    * (m2·k_{v→c} − k_v·(D_c − [c=c_v]·k_v); ties → smallest c), and the
    * exact-integer acceptance gate Q_num = m2·W − Σ D_c² (reject ⇒ the
    * assignment carries forward unchanged, which fixed-points the
    * remaining rounds — bit-identical to the engine's early stop).
    *
    * DuckDB-performance shape (round-6 lesson): every multiply-referenced
    * CTE is `AS MATERIALIZED` and the m2 scalar rides in via CROSS JOIN —
    * DuckDB 1.0 INLINES plain CTEs per reference, and a scalar subquery
    * inside the argmax window's ORDER BY made one round's `mv` take 155 s
    * + 11 GB of spill at sf0.1 (0.5 s materialized+hoisted); with the
    * rounds chained, the inlined tree re-expanded geometrically and the
    * full oracle ran the sf0.1 sweep's disk dry. */
  /** Per-round refine CTEs for one resolution: all CTE names carry `sfx`
    * so several resolutions can share one prelude (und/lpa/deg/mm). The
    * γ-gain and gate use the reduced rational γ = gp/gq exactly as
    * GraphOps.louvainRefine does; gp = gq = 1 is classic modularity. */
  private def louvainSteps(sfx: String, a0: String, rounds: Int,
      gp: Long, gq: Long): String = {
    def qnumCte(name: String, asg: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT $gq * mm.m2 * w.w - $gp * d2.d2 AS qn FROM mm
         |  CROSS JOIN (SELECT COUNT(*) AS w FROM und u
         |    JOIN $asg x ON u.src = x.id JOIN $asg y ON u.dst = y.id
         |    WHERE x.c = y.c) w
         |  CROSS JOIN (SELECT SUM(dd.d * dd.d) AS d2 FROM
         |    (SELECT SUM(kv) AS d FROM $asg JOIN deg USING (id) GROUP BY c) dd) d2)""".stripMargin
    val init =
      s"""a${sfx}0 AS MATERIALIZED (SELECT id, c FROM $a0),
         |${qnumCte(s"q${sfx}0", s"a${sfx}0")}""".stripMargin
    val steps = (1 to rounds).map { i =>
      val p = i - 1
      s"""dc$sfx$i AS MATERIALIZED (
         |  SELECT c, SUM(kv) AS dc FROM a$sfx$p JOIN deg USING (id) GROUP BY c),
         |k$sfx$i AS MATERIALIZED (
         |  SELECT u.src AS id, a.c, COUNT(*) AS kvc
         |  FROM und u JOIN a$sfx$p a ON u.dst = a.id GROUP BY u.src, a.c),
         |cand$sfx$i AS MATERIALIZED (SELECT id, c, MAX(kvc) AS kvc FROM (
         |  SELECT id, c, kvc FROM k$sfx$i
         |  UNION ALL SELECT id, c, 0 AS kvc FROM a$sfx$p) t GROUP BY id, c),
         |mv$sfx$i AS MATERIALIZED (SELECT id, c FROM (
         |  SELECT n.id, n.c, ROW_NUMBER() OVER (PARTITION BY n.id ORDER BY
         |    ($gq * mm.m2 * n.kvc
         |     - $gp * d.kv * (dc$sfx$i.dc - CASE WHEN n.c = a.c THEN d.kv ELSE 0 END)) DESC,
         |    n.c) AS rn
         |  FROM cand$sfx$i n
         |  JOIN a$sfx$p a ON n.id = a.id
         |  JOIN deg d ON n.id = d.id
         |  JOIN dc$sfx$i ON n.c = dc$sfx$i.c
         |  CROSS JOIN mm) t WHERE rn = 1),
         |${qnumCte(s"qm$sfx$i", s"mv$sfx$i")},
         |acc$sfx$i AS MATERIALIZED (
         |  SELECT qm$sfx$i.qn > q$sfx$p.qn AS ok FROM qm$sfx$i, q$sfx$p),
         |a$sfx$i AS MATERIALIZED (SELECT a.id,
         |  CASE WHEN acc$sfx$i.ok THEN m.c ELSE a.c END AS c
         |  FROM a$sfx$p a JOIN mv$sfx$i m USING (id) CROSS JOIN acc$sfx$i),
         |q$sfx$i AS MATERIALIZED (SELECT CASE WHEN acc$sfx$i.ok
         |  THEN qm$sfx$i.qn ELSE q$sfx$p.qn END AS qn FROM acc$sfx$i, qm$sfx$i, q$sfx$p)""".stripMargin
    }.mkString(",\n")
    s"$init,\n$steps"
  }

  /** Shared prelude for the louvain oracles: edge set, undirected
    * expansion, unrolled LPA, degrees, m2, and the LPA assignment as
    * `abase`. */
  private def louvainPrelude(lpaIters: Int): String =
    s"""WITH e AS (SELECT DISTINCT CAST(l_partkey*2 AS BIGINT) AS src,
       |                           CAST(l_suppkey*2+1 AS BIGINT) AS dst FROM lineitem),
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
       |${lpaSteps("und", "l", lpaIters)},
       |deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS kv FROM und GROUP BY src),
       |mm AS MATERIALIZED (SELECT COUNT(*) AS m2 FROM und),
       |abase AS MATERIALIZED (SELECT id, label AS c FROM l$lpaIters)""".stripMargin

  private def louvainOracle(lpaIters: Int, rounds: Int): String =
    s"""${louvainPrelude(lpaIters)},
       |${louvainSteps("", "abase", rounds, gp = 1L, gq = 1L)}
       |SELECT $kindKey, c AS label FROM a$rounds""".stripMargin

  /** q140 oracle: the co-purchase unipartite graph, unrolled LPA +
    * γ=1 refine round(s) (identical CTE machinery to louvainOracle),
    * then Leiden's well-connectedness split replayed as constrained
    * min-reachability: a recursive CTE over INTRA-community edges only
    * (components can't span communities), MIN(seed) per vertex = the
    * engine's min-member sub-component label; vertices with no
    * intra-community edge fall through the LEFT JOIN to their own id
    * (singletons). */
  private def leidenSplitOracle(lpaIters: Int, rounds: Int): String =
    s"""WITH RECURSIVE
       |li AS MATERIALIZED (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS o,
       |                                    CAST(l_partkey AS BIGINT) AS p
       |                    FROM lineitem WHERE l_orderkey % 5 = 0),
       |e AS MATERIALIZED (SELECT DISTINCT a.p AS src, b.p AS dst
       |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
       |${lpaSteps("und", "l", lpaIters)},
       |deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS kv FROM und GROUP BY src),
       |mm AS MATERIALIZED (SELECT COUNT(*) AS m2 FROM und),
       |abase AS MATERIALIZED (SELECT id, label AS c FROM l$lpaIters),
       |${louvainSteps("", "abase", rounds, gp = 1L, gq = 1L)},
       |af AS MATERIALIZED (SELECT id, c FROM a$rounds),
       |intra AS MATERIALIZED (
       |  SELECT u.src, u.dst FROM und u
       |  JOIN af x ON u.src = x.id JOIN af y ON u.dst = y.id WHERE x.c = y.c),
       |reach AS (SELECT src AS id, src AS comp FROM intra
       |          UNION
       |          SELECT u.src AS id, r.comp FROM intra u JOIN reach r ON u.dst = r.id),
       |cc AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
       |SELECT af.id AS key, COALESCE(cc.comp, af.id) AS label
       |FROM af LEFT JOIN cc USING (id)""".stripMargin

  /** Multi-resolution ladder: the refine replayed once per γ over the
    * SHARED prelude — the reference's resolutions [2.0, 0.5, 0.1] as
    * gammaPct [200, 50, 10], each gcd-reduced exactly as the engine
    * does. */
  private def louvainGammaOracle(lpaIters: Int, rounds: Int,
      gammaPcts: Seq[Long]): String = {
    val blocks = gammaPcts.map { g =>
      val gcd = java.math.BigInteger.valueOf(g)
        .gcd(java.math.BigInteger.valueOf(100L)).longValueExact()
      louvainSteps(s"g$g", "abase", rounds, gp = g / gcd, gq = 100L / gcd)
    }.mkString(",\n")
    val sel = gammaPcts.map { g =>
      s"SELECT $g AS gamma_pct, $kindKey, c AS label FROM ag$g$rounds"
    }.mkString("\nUNION ALL\n")
    s"""${louvainPrelude(lpaIters)},
       |$blocks
       |$sel""".stripMargin
  }

  /** Shared CTE body for the multi-resolution Leiden oracles (q147,
    * q150): co-purchase prelude, shared unrolled LPA, one louvainSteps
    * block per γ (exact reduced rationals, as q134), then per γ the
    * constrained min-reachability split (the q140 pattern). Returns
    * (cteBody, ladderSelect) where ladderSelect is the γ-tagged union
    * yielding (gamma_pct, key, label). */
  private def leidenMultiBody(lpaIters: Int, rounds: Int,
      gammaPcts: Seq[Long], orderMod: Int): (String, String) = {
    val blocks = gammaPcts.map { g =>
      val gcd = java.math.BigInteger.valueOf(g)
        .gcd(java.math.BigInteger.valueOf(100L)).longValueExact()
      louvainSteps(s"g$g", "abase", rounds, gp = g / gcd, gq = 100L / gcd)
    }.mkString(",\n")
    val perG = gammaPcts.map { g =>
      s"""afg$g AS MATERIALIZED (SELECT id, c FROM ag$g$rounds),
         |intrag$g AS MATERIALIZED (
         |  SELECT u.src, u.dst FROM und u
         |  JOIN afg$g x ON u.src = x.id JOIN afg$g y ON u.dst = y.id
         |  WHERE x.c = y.c),
         |reachg$g AS (SELECT src AS id, src AS comp FROM intrag$g
         |          UNION
         |          SELECT u.src AS id, r.comp
         |          FROM intrag$g u JOIN reachg$g r ON u.dst = r.id),
         |ccg$g AS (SELECT id, MIN(comp) AS comp FROM reachg$g GROUP BY id)""".stripMargin
    }.mkString(",\n")
    val sels = gammaPcts.map { g =>
      s"""SELECT $g AS gamma_pct, a.id AS key, COALESCE(ccg$g.comp, a.id) AS label
         |FROM afg$g a LEFT JOIN ccg$g ON a.id = ccg$g.id""".stripMargin
    }.mkString("\nUNION ALL\n")
    val body =
      s"""WITH RECURSIVE
         |li AS MATERIALIZED (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS o,
         |                                    CAST(l_partkey AS BIGINT) AS p
         |                    FROM lineitem WHERE l_orderkey % $orderMod = 0),
         |e AS MATERIALIZED (SELECT DISTINCT a.p AS src, b.p AS dst
         |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
         |und AS MATERIALIZED (
         |  SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
         |${lpaSteps("und", "l", lpaIters)},
         |deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS kv FROM und GROUP BY src),
         |mm AS MATERIALIZED (SELECT COUNT(*) AS m2 FROM und),
         |abase AS MATERIALIZED (SELECT id, label AS c FROM l$lpaIters),
         |$blocks,
         |$perG""".stripMargin
    (body, sels)
  }

  /** q147 oracle: the ladder body's γ-tagged union, verbatim. */
  private def leidenMultiOracle(lpaIters: Int, rounds: Int,
      gammaPcts: Seq[Long], orderMod: Int): String = {
    val (body, sels) = leidenMultiBody(lpaIters, rounds, gammaPcts, orderMod)
    s"$body\n$sels"
  }

  /** q150 oracle: the full capstone replay — the q147 ladder as a CTE,
    * then the metadata aggregations (member count, brand top-2 /
    * container top-1 with the (cnt DESC, value ASC) tie-break, degree-
    * ranked representatives), the name/doc-id templating, and the
    * upsert status split. γ → level via position in `gammaPcts`. */
  private def graphragCapstoneOracle(lpaIters: Int, rounds: Int,
      gammaPcts: Seq[Long], orderMod: Int): String = {
    val (body, sels) = leidenMultiBody(lpaIters, rounds, gammaPcts, orderMod)
    val levelCase = gammaPcts.zipWithIndex.init
      .map { case (g, i) => s"WHEN s.gamma_pct = $g THEN $i" }
      .mkString("CASE ", " ", s" ELSE ${gammaPcts.size - 1} END")
    s"""$body,
       |ladder AS MATERIALIZED (
       |$sels),
       |base AS MATERIALIZED (
       |  SELECT l.gamma_pct, l.label, l.key AS id, p.p_brand, p.p_type,
       |         COALESCE(d.kv, 0) AS deg
       |  FROM ladder l JOIN part p ON l.key = p.p_partkey
       |  LEFT JOIN deg d ON l.key = d.id),
       |stats AS (SELECT gamma_pct, label, COUNT(*) AS member_count,
       |                 COUNT(DISTINCT p_brand) AS n_brands
       |          FROM base GROUP BY 1, 2),
       |bcnt AS (SELECT gamma_pct, label, p_brand, COUNT(*) AS cnt
       |         FROM base GROUP BY 1, 2, 3),
       |btop AS (SELECT gamma_pct, label, p_brand, row_number() OVER (
       |           PARTITION BY gamma_pct, label ORDER BY cnt DESC, p_brand) AS rn
       |         FROM bcnt),
       |tb AS (SELECT gamma_pct, label, string_agg(p_brand, ', ' ORDER BY rn) AS top_brands
       |       FROM btop WHERE rn <= 2 GROUP BY 1, 2),
       |b1 AS (SELECT gamma_pct, label, p_brand AS brand1 FROM btop WHERE rn = 1),
       |ccnt AS (SELECT gamma_pct, label, p_type, COUNT(*) AS cnt
       |         FROM base GROUP BY 1, 2, 3),
       |c1 AS (SELECT gamma_pct, label, p_type AS cont1 FROM (
       |         SELECT gamma_pct, label, p_type, row_number() OVER (
       |           PARTITION BY gamma_pct, label ORDER BY cnt DESC, p_type) AS rn
       |         FROM ccnt) t WHERE rn = 1),
       |reps AS (SELECT gamma_pct, label,
       |           string_agg(CAST(id AS VARCHAR), ', ' ORDER BY rn) AS rep_members
       |         FROM (SELECT gamma_pct, label, id, row_number() OVER (
       |                 PARTITION BY gamma_pct, label ORDER BY deg DESC, id) AS rn
       |               FROM base) t WHERE rn <= 3 GROUP BY 1, 2),
       |meta AS (
       |  SELECT s.gamma_pct, s.label, s.member_count, s.n_brands,
       |         tb.top_brands, reps.rep_members,
       |         $levelCase AS level,
       |         CASE WHEN c1.cont1 IS NOT NULL AND c1.cont1 <> ''
       |              THEN c1.cont1 || ' ' || COALESCE(b1.brand1, 'Electronic')
       |              ELSE COALESCE(b1.brand1, 'Electronic') END AS name
       |  FROM stats s
       |  JOIN tb USING (gamma_pct, label) JOIN b1 USING (gamma_pct, label)
       |  JOIN c1 USING (gamma_pct, label) JOIN reps USING (gamma_pct, label))
       |SELECT gamma_pct, label, member_count, n_brands, top_brands, rep_members,
       |       level, name,
       |       'community_L' || CAST(level AS VARCHAR) || '_' || CAST(label AS VARCHAR) AS doc_id,
       |       CASE WHEN label % 2 = 0 THEN 'existing' ELSE 'inserted' END AS status
       |FROM meta""".stripMargin
  }

  private def lpaOracle(iters: Int): String =
    s"""$graphPrelude,
       |${lpaSteps("und", "l", iters)}
       |SELECT $kindKey, label FROM l$iters""".stripMargin

  /** Unrolled community ladder: LPA on the raw graph (level 0), LPA with
    * self-votes on the community-contracted graph (level 1), recursive
    * min-reachability components of the contracted graph (level 2) —
    * mirroring GraphOps.communityLevels frame by frame. */
  private def communityLevelsOracle(iters: Int): String =
    s"""WITH RECURSIVE
       |e AS (SELECT DISTINCT CAST(l_partkey*2 AS BIGINT) AS src,
       |                      CAST(l_suppkey*2+1 AS BIGINT) AS dst FROM lineitem),
       |und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
       |${lpaSteps("und", "l", iters)},
       |asg0 AS (SELECT id, label AS c0 FROM l$iters),
       |ce AS (SELECT DISTINCT a1.c0 AS src, a2.c0 AS dst
       |       FROM e JOIN asg0 a1 ON e.src = a1.id JOIN asg0 a2 ON e.dst = a2.id
       |       WHERE a1.c0 <> a2.c0),
       |cv AS (SELECT src AS v FROM ce UNION SELECT dst AS v FROM ce),
       |ws AS (SELECT src, dst FROM ce UNION ALL SELECT v AS src, v AS dst FROM cv),
       |und1 AS (SELECT src, dst FROM ws UNION ALL SELECT dst AS src, src AS dst FROM ws),
       |${lpaSteps("und1", "k", iters)},
       |ccund AS (SELECT src, dst FROM ce UNION ALL SELECT dst AS src, src AS dst FROM ce),
       |ccv AS (SELECT DISTINCT src AS id FROM ccund),
       |reach AS (SELECT id, id AS comp FROM ccv
       |          UNION
       |          SELECT u.src AS id, r.comp FROM ccund u JOIN reach r ON u.dst = r.id),
       |ccres AS (SELECT id AS c0, MIN(comp) AS c2 FROM reach GROUP BY id),
       |k1m AS (SELECT id AS c0, label AS c1 FROM k$iters),
       |lvl0 AS (SELECT id, 0 AS level, c0 AS community FROM asg0),
       |lvl1 AS (SELECT a.id, 1 AS level, COALESCE(k1m.c1, a.c0) AS community
       |         FROM asg0 a LEFT JOIN k1m ON a.c0 = k1m.c0),
       |lvl2 AS (SELECT a.id, 2 AS level, COALESCE(ccres.c2, a.c0) AS community
       |         FROM asg0 a LEFT JOIN ccres ON a.c0 = ccres.c0),
       |v AS (SELECT * FROM lvl0 UNION ALL SELECT * FROM lvl1 UNION ALL SELECT * FROM lvl2)
       |SELECT $kindKey, level, community FROM v""".stripMargin

  /** Unrolled fixed-point HITS over the DIRECTED edge set: per iteration
    * authRaw = Σ incoming hub → rescale to Σ≈scale by integer div, then
    * hubRaw = Σ outgoing auth → rescale. All-BIGINT (`//` ≡ Spark `div`
    * on the nonnegative mass values), bit-identical to hitsFixedPoint. */
  private def hitsOracle(iters: Int, scale: Long = 1000000000L): String = {
    val steps = (1 to iters).map { i =>
      s"""ar$i AS (SELECT e.dst AS id, CAST(SUM(h${i - 1}.h) AS BIGINT) AS raw
         |  FROM e JOIN h${i - 1} ON e.src = h${i - 1}.id GROUP BY e.dst),
         |a$i AS (SELECT id, (raw * $scale) // (SELECT SUM(raw) FROM ar$i) AS a FROM ar$i),
         |hr$i AS (SELECT e.src AS id, CAST(SUM(a$i.a) AS BIGINT) AS raw
         |  FROM e JOIN a$i ON e.dst = a$i.id GROUP BY e.src),
         |h$i AS (SELECT id, (raw * $scale) // (SELECT SUM(raw) FROM hr$i) AS h FROM hr$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""$graphPrelude,
       |srcs AS (SELECT DISTINCT src AS id FROM e),
       |p AS (SELECT GREATEST($scale // COUNT(*), 1) AS unit FROM srcs),
       |h0 AS (SELECT id, (SELECT unit FROM p) AS h FROM srcs),
       |$steps
       |SELECT $kindKey, h AS hub, CAST(NULL AS BIGINT) AS auth FROM h$iters
       |UNION ALL
       |SELECT $kindKey, CAST(NULL AS BIGINT) AS hub, a AS auth FROM a$iters""".stripMargin
  }

  /** Per-community Newman modularity of the unrolled-LPA assignment, in
    * exact integer arithmetic over the undirected expansion (m2 = 2m):
    * q_num = e_within·m2 − deg_sum². */
  private def modularityOracle(iters: Int): String =
    s"""$graphPrelude,
       |${lpaSteps("und", "l", iters)},
       |asg AS (SELECT id, label AS c FROM l$iters),
       |lab AS (SELECT a1.c AS sc, a2.c AS dc
       |        FROM und u JOIN asg a1 ON u.src = a1.id JOIN asg a2 ON u.dst = a2.id),
       |m2t AS (SELECT COUNT(*) AS m2 FROM lab),
       |w AS (SELECT sc AS community, COUNT(*) AS e_within FROM lab WHERE sc = dc GROUP BY sc),
       |d AS (SELECT sc AS community, COUNT(*) AS deg_sum FROM lab GROUP BY sc)
       |SELECT d.community, COALESCE(w.e_within, 0) AS e_within, d.deg_sum,
       |  COALESCE(w.e_within, 0) * m2t.m2 - d.deg_sum * d.deg_sum AS q_num,
       |  ROUND(CAST(COALESCE(w.e_within, 0) * m2t.m2 - d.deg_sum * d.deg_sum AS DOUBLE)
       |        / CAST(m2t.m2 * m2t.m2 AS DOUBLE), 9) + 0.0 AS contrib
       |FROM d LEFT JOIN w USING (community), m2t""".stripMargin

  /** Unrolled multi-source BFS: per hop, (dst → min frontier landmark),
    * minus everything already levelled. */
  private def landmarkBfsOracle(maxHops: Int): String = {
    val hops = (1 to maxHops).map { h =>
      val seen = (0 until h).map(i => s"SELECT id FROM l$i").mkString(" UNION ALL ")
      s"""f$h AS (SELECT u.dst AS id, MIN(l${h - 1}.landmark) AS landmark
         |  FROM und u JOIN l${h - 1} ON u.src = l${h - 1}.id GROUP BY u.dst),
         |l$h AS (SELECT id, landmark, $h AS level FROM f$h
         |  WHERE id NOT IN ($seen))""".stripMargin
    }.mkString(",\n")
    val union = (0 to maxHops).map(i => s"SELECT * FROM l$i").mkString(" UNION ALL ")
    s"""$graphPrelude,
       |lms AS (SELECT src AS id FROM e GROUP BY src ORDER BY src LIMIT 3),
       |l0 AS (SELECT id, id AS landmark, 0 AS level FROM lms),
       |$hops
       |SELECT $kindKey, level, landmark // 2 AS landmark_key FROM ($union)""".stripMargin
  }

  /** Unrolled BFS frontier expansion: per hop, distinct neighbors of the
    * previous frontier minus everything already levelled. */
  private def bfsOracle(maxHops: Int): String = {
    val hops = (1 to maxHops).map { h =>
      val seen = (0 until h).map(i => s"SELECT id FROM l$i").mkString(" UNION ALL ")
      s"""f$h AS (SELECT DISTINCT u.dst AS id FROM und u JOIN l${h - 1} ON u.src = l${h - 1}.id),
         |l$h AS (SELECT id, $h AS level FROM f$h WHERE id NOT IN ($seen))""".stripMargin
    }.mkString(",\n")
    val union = (0 to maxHops).map(i => s"SELECT * FROM l$i").mkString(" UNION ALL ")
    s"""$graphPrelude,
       |a AS (SELECT MIN(src) AS id FROM e),
       |l0 AS (SELECT id, 0 AS level FROM a),
       |$hops
       |SELECT $kindKey, level FROM ($union)""".stripMargin
  }
}
