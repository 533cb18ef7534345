package graft.graph

import org.apache.spark.graphx.{Edge, EdgeTriplet, Graph, Pregel, VertexId}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.obs.span

/** Graph/community layer (SURVEY §2.10).
  *
  * Mirrors the reference's graph plane: bipartite graph build
  * (neo4j_helpers.py:196-234 via /root/reference), community detection
  * (detect_communities.py:219-226 — Leiden there; here a deterministic
  * synchronous label propagation, the GraphX-idiomatic approximation per
  * SURVEY §7.4), community stats (neo4j_helpers.py:271-290), and multi-hop
  * traversal (ingest_graph_db.py:366-377 — expressed as edge-DataFrame
  * self-joins, the scalable form of the 2-hop Cypher).
  *
  * Scale notes: edge lists arrive as DataFrames (distinct equi-join
  * products, shuffled on their keys). The pipelines' loops are Catalyst
  * supersteps over a partitioned edge cache, except on graphs at or
  * below the one edge constant [[LocalMaxEdges]]: there [[ccAuto]]'s
  * union-find and the whole Leiden ladder ([[lpaLouvainRefineMulti]],
  * [[lpaLeidenRefineMulti]]) run on the driver after one collect, with
  * the labels of their Catalyst engines. The GraphX Pregel forms stay
  * as RDD reference implementations.
  */
object GraphOps {

  /** Build a GraphX graph from an edge DataFrame with two long columns.
    * Vertex attrs carry the original (kind, key) so ids can be namespaced
    * (e.g. part → 2k, supplier → 2k+1) without losing provenance. */
  def fromEdges(spark: SparkSession, edges: DataFrame, srcCol: String, dstCol: String): Graph[Long, Int] = {
    val edgeRdd = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    Graph.fromEdges(edgeRdd, defaultValue = 0L)
  }

  /** Materialize a small-ish result DataFrame and release the graph's
    * cached RDDs: GraphX caches vertices/edges per superstep, and leaving
    * them resident squeezes execution memory for every subsequent query in
    * the session (observed 3-7× slowdowns). One job fills the persisted
    * result before the graphs are unpersisted. */
  private def materializeAndRelease(
      kept: DataFrame, graphs: Graph[_, _]*): DataFrame = {
    kept.count()
    graphs.foreach { (g: Graph[_, _]) =>
      g.unpersistVertices(blocking = false)
      val e = g.edges
      e.unpersist(blocking = false)
    }
    kept
  }

  /** Vertex degrees (G1/A11 substrate) as a DataFrame(id, degree). */
  def degreesDF(spark: SparkSession, g: Graph[Long, Int]): DataFrame = {
    import spark.implicits._
    materializeAndRelease(
      g.degrees.map { case (id, d) => (id, d) }.toDF("id", "degree").persist(), g)
  }

  /** Connected components → DataFrame(id, component) where component is
    * GraphX's min-vertex-id label. Deterministic (min propagation). */
  def connectedComponentsDF(spark: SparkSession, g: Graph[Long, Int]): DataFrame = {
    import spark.implicits._
    val cc = g.connectedComponents()
    materializeAndRelease(
      cc.vertices.map { case (id, c) => (id, c) }.toDF("id", "component").persist(), cc, g)
  }

  /** Deterministic synchronous label propagation (the G2 community
    * detector): every superstep each vertex adopts the most frequent
    * neighbor label, ties broken by smallest label — a total order, so the
    * result is reproducible run-to-run (the reference pins Leiden's
    * seed=42 for the same reason, settings.py:137). */
  def labelPropagation(g: Graph[Long, Int], maxIter: Int): Graph[VertexId, Int] = {
    val lpa = g.mapVertices { case (vid, _) => vid }
    def sendMsg(e: EdgeTriplet[VertexId, Int]): Iterator[(VertexId, Map[VertexId, Long])] =
      Iterator((e.srcId, Map(e.dstAttr -> 1L)), (e.dstId, Map(e.srcAttr -> 1L)))
    def mergeMsg(a: Map[VertexId, Long], b: Map[VertexId, Long]): Map[VertexId, Long] =
      (a.keySet ++ b.keySet).iterator
        .map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    def vprog(vid: VertexId, attr: VertexId, msg: Map[VertexId, Long]): VertexId =
      if (msg.isEmpty) attr
      else msg.toSeq.minBy { case (label, cnt) => (-cnt, label) }._1
    Pregel(lpa, initialMsg = Map.empty[VertexId, Long], maxIterations = maxIter)(
      vprog, sendMsg, mergeMsg)
  }

  def lpaDF(spark: SparkSession, g: Graph[Long, Int], maxIter: Int): DataFrame = {
    import spark.implicits._
    val res = labelPropagation(g, maxIter)
    materializeAndRelease(
      res.vertices.map { case (id, label) => (id, label) }.toDF("id", "label").persist(),
      res, g)
  }

  /** Supersteps per lazily-chained block in the Catalyst loops below.
    * Each superstep references the previous state exactly once, so a
    * block is a LINEAR plan — Catalyst optimizes it whole and the block
    * runs as ONE job (no per-superstep driver barrier / broadcast-build
    * round-trip; measured ~10× on sub-second graphs, and at cluster
    * scale it removes (block-1) scheduler barriers per block). */
  private val SuperstepBlock = 4

  /** The block loop of the Catalyst graph loops: LPA, both CC engines,
    * fixed-point PageRank and k-core peeling. `step` maps one
    * superstep's state to the next, and `block` steps chain lazily into
    * one plan.
    *
    * - The snapshot: at each block boundary the state is [[snapshot]]ed,
    *   and the one action that fills it also reads the `gate` aggregate
    *   when there is one.
    * - The gate: the loop halts once the gate reads null or the same
    *   value as at the previous boundary.
    * - The release: the previous snapshot is released once the next is
    *   filled. `init` is the caller's and is never released.
    * - The bound: the last snapshot is returned bounded by its exact
    *   row count ([[GraftSqlBridge.withRowBound]]); the caller owns it
    *   and releases it with [[releaseLocalCheckpoint]]. With `iters` 0
    *   it is `init`'s snapshot.
    *
    * With `materializeLast = false` a first-and-final block runs no job:
    * its state is returned persisted and unfilled, to a caller whose
    * next job fills it (a lazy checkpoint would run the block's stages
    * at the call, one driver gate more). A later final block still takes
    * its action, because its plan reads the snapshot released before it
    * returns. [[releaseState]] releases either form. */
  private def supersteps(init: DataFrame, iters: Int, block: Int,
      gate: Option[Column] = None, materializeLast: Boolean = true)(
      step: DataFrame => DataFrame): DataFrame = {
    var state = init
    var prev: Option[DataFrame] = None
    var prevGate: Any = null
    var done = 0
    var halted = false
    do {
      val steps = math.min(block, iters - done)
      val next = (1 to steps).foldLeft(state)((s, _) => step(s))
      state =
        if (!materializeLast && prev.isEmpty && done + steps >= iters) next.persist()
        else {
          val (snap, r) = snapshot(next, gate.toSeq: _*)
          val g = gate.map(_ => r.get(1))
          halted = g.exists(v => v == null || v == prevGate)
          prevGate = g.orNull
          snap
        }
      prev.foreach(releaseLocalCheckpoint)
      prev = Some(state)
      done += steps
    } while (done < iters && !halted)
    state
  }

  /** Releases what [[supersteps]] returned. */
  private def releaseState(df: DataFrame): Unit =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      df.unpersist(blocking = false)
    else releaseLocalCheckpoint(df)

  /** `df` as a lazy `localCheckpoint` that one action fills while it
    * reads the row count and `stats`. Returns the checkpoint bounded by
    * that count ([[GraftSqlBridge.withRowBound]]) and the action's row:
    * the count, then `stats`. The caller owns the checkpoint. */
  private def snapshot(df: DataFrame, stats: Column*): (DataFrame, Row) = {
    val cp = df.localCheckpoint(eager = false)
    val r = cp.agg(count(lit(1)), stats: _*).head()
    (GraftSqlBridge.withRowBound(cp, r.getLong(0)), r)
  }

  /** The CC gate: the exact decimal sum of the label column. Labels only
    * ever decrease, so an unchanged sum means no label moved in the block
    * (a fixed point; extra supersteps in a converged block are
    * idempotent), and a null sum means no vertices. Decimal: no
    * wraparound false convergence at any vertex count. A populated graph
    * pays one extra, converged block to see the unchanged sum. */
  private def labelSum(c: String): Column = sum(col(c).cast("decimal(38,0)"))

  /** Join-side wrapper for the vertex-sized per-iteration state of the
    * Catalyst graph loops. `bc = true` (default) pins a broadcast hint —
    * exchange-free supersteps over the pre-partitioned edge cache, the
    * right plan while the state fits in executor/driver memory. The hint
    * bypasses autoBroadcastJoinThreshold, so at vertex counts beyond
    * memory it would OOM rather than degrade (round-5 advice): pass
    * `broadcastState = false` there and the planner/AQE picks a shuffle
    * join from runtime stats — the edge side then pays one exchange per
    * superstep, the standard distributed cost when state outgrows
    * broadcast. */
  private def stateSide(df: DataFrame, bc: Boolean): DataFrame =
    if (bc) broadcast(df) else df

  /** Auto-threshold for the state broadcast: ~50 M vertices of packed
    * (id, long) state ≈ 1.2 GB — the ceiling of a healthy executor
    * broadcast. Expressed against optimizer statistics so resolving it
    * is job-free: edge rows from the plan's rowCount when the optimizer
    * has one, else sizeInBytes at the ~4 stats-bytes/row parquet scans
    * propagate (OPTIMIZATION_r17.md, Change 1); vertices ≤ 2·edges. */
  private val BroadcastVertexLimit: Long = 50L * 1000 * 1000
  private val BroadcastEdgeBytesLimit: BigInt = BigInt(100L << 20)

  /** Resolve the per-loop state-join strategy. Some(x) honors the
    * caller; None (auto, the default everywhere) pins the broadcast only
    * while the vertex count stays under [[BroadcastVertexLimit]] —
    * beyond it the plain join side lets the planner/AQE pick a shuffle
    * join from runtime stats, degrading to one vertex-sized exchange per
    * superstep instead of an executor OOM (round-6 verdict item 6: the
    * default must not hard-pin a broadcast at any size).
    *
    * The statistics bound is asked first. It can only infer vertices ≤
    * 2·edges, so past ~25M edges it refuses the state broadcast even
    * when the real vertex count is tiny — sf10's 59M-edge part×supplier graph has just
    * 2.1M vertices (avg degree ~28), and the refusal turns EVERY
    * superstep/refine pass into an edge-sized dst exchange of the
    * 118M-row undirected cache (measured: q126's refine rounds at sf10).
    * When the cheap bound refuses, ask for the truth: `vertexCount` is
    * call-by-name and only evaluated then, so small graphs (where stats
    * already say yes) pay nothing, and large graphs pay one aggregate
    * over an already-persisted frame to save maxIter edge exchanges.
    *
    * `stateCopies` budgets CONCURRENT broadcasts: block-chained loops
    * hold up to SuperstepBlock state broadcasts live in one job, and
    * the refine loop pins asg/deg/dC simultaneously — so the exact
    * path admits vertexCount ≤ limit/stateCopies, keeping the TOTAL
    * resident broadcast bytes at the single-broadcast ceiling the
    * limit models (~1.2 GB). The stats path keeps its historical
    * single-count rule: it only ever admits graphs ≤ 25M edges, whose
    * blocks have always fit. */
  private def resolveBroadcastState(
      choice: Option[Boolean], edges: DataFrame,
      vertexCount: => Long, stateCopies: Int = SuperstepBlock): Boolean =
    choice.getOrElse {
      val stats = edges.queryExecution.optimizedPlan.stats
      stats.rowCount.fold(stats.sizeInBytes <= BroadcastEdgeBytesLimit)(
        _ * 2 <= BigInt(BroadcastVertexLimit)) ||
        vertexCount * stateCopies <= BroadcastVertexLimit
    }

  /** The vertices (id) of a src-keyed undirected cache and the
    * state-join decision for them, handed to `loop`. When the
    * statistics bound refuses the broadcast, the exact-count probe
    * persists the vertex frame it counts, so `loop` seeds from it without
    * a second distinct; it is unpersisted once `loop` has returned. */
  private def withVertices(und: DataFrame, edges: DataFrame,
      broadcastState: Option[Boolean])(loop: (DataFrame, Boolean) => DataFrame): DataFrame = {
    val verts = und.select(col("src").as("id")).distinct()
    var probed = false
    val bc = resolveBroadcastState(broadcastState, edges,
      { probed = true; verts.persist().count() })
    val out = loop(verts, bc)
    if (probed) verts.unpersist(blocking = false)
    out
  }

  /** Estimated edge rows from optimizer statistics — job-free. Parquet
    * scan-derived frames propagate ~4 stats-bytes/row (OPTIMIZATION_r17.md,
    * Change 1: the bipartite graph reads 2.24 MB of stats for 591 k true
    * rows), so the estimate is the right order for every
    * scan/aggregate-derived graph. JOIN
    * products overestimate wildly (SizeInBytesOnly multiplies the
    * children: the 121 k-row co-purchase graph reads 3 TB) — which
    * [[sizedLoopParts]] degrades to the session default, never below
    * the data's true need. */
  private def statsEdgeRows(edges: DataFrame): BigInt = {
    val st = edges.queryExecution.optimizedPlan.stats
    st.rowCount.getOrElse(st.sizeInBytes / 4)
  }

  /** Scale-adaptive superstep partition count (r16 verdict item 2: the
    * 8-core driver suite beat the 32-core one on identical code because
    * `shuffle.partitions = cpus` makes every near-empty superstep task
    * set pay the SESSION parallelism, not the data — the cached loop
    * frames compile without AQE, so runtime coalescing never reaches
    * them; OPTIMIZATION_r17.md, Change 1 measured the ladder 2× faster
    * at 8 partitions on the same 32 cores). Partitions =
    * ceil(undRows / target) clamped to
    * [1, session shuffle partitions]: big graphs keep today's plans
    * exactly (the cap), small graphs stop paying the floor. The target
    * is [[LoopRowsPerPartition]]. Partition count never changes results:
    * every loop body is exact-integer aggregation with total-order
    * tie-breaks. */
  private[graft] def sizedLoopParts(
      spark: SparkSession, undRows: BigInt): Int = {
    val target = BigInt(LoopRowsPerPartition)
    val cap = spark.sessionState.conf.numShufflePartitions
    if (undRows >= target * cap) cap
    else math.max(1, ((undRows + target - 1) / target).toInt)
  }

  /** [[sizedLoopParts]]' target: 100 k rows a partition, the constant
    * communityLevels and q138 measured. */
  private val LoopRowsPerPartition = 100000L

  /** [[sizedLoopParts]] from statistics: the job-free default for loop
    * setup sites whose edge frames are scan-derived (see
    * [[statsEdgeRows]] for why join-derived inputs safely degrade to
    * the session default). */
  private def sizedLoopPartsFromStats(edges: DataFrame): Int =
    sizedLoopParts(edges.sparkSession, statsEdgeRows(edges) * 2)

  /** The loop-input rule: true when `edges` is materialized — cached, or
    * a checkpoint (a `LogicalRDD`, bare or under one projection). A
    * `localCheckpoint`, eager or lazy, reports `StorageLevel.NONE`, yet
    * its plan roots at the checkpointed RDD: a loop that scans it reads
    * those blocks and never re-derives the caller's lineage, so it
    * counts as materialized too. A materialized input is used in place;
    * any other one is persisted ([[undirectedCache]]) or truncated
    * ([[truncatedCc]]) once, because the undirected expansion scans its
    * input twice. */
  private[graft] def loopInputMaterialized(edges: DataFrame): Boolean =
    edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
      GraftSqlBridge.isCheckpoint(edges)

  /** The undirected edge cache of every Catalyst loop here, and the one
    * call that releases it. `edges` is projected to `(src, dst)` (plus a
    * long `w` from `weightCol`); under [[loopInputMaterialized]] the
    * projection is read in place or persisted once. The flipped copy is
    * unioned in — with one self-loop per vertex when `selfLoops` — and
    * the result is repartitioned on the loop's aggregation `key` (`src`
    * or `dst`) and persisted. With the vertex-sized state broadcast into
    * each step's join ([[stateSide]]), that partitioning flows through
    * the join, so after this one setup shuffle no step re-shuffles the
    * edges; at vertex counts too large to broadcast, only the state
    * moves per step. Partitions: `numPartitions` from callers that know
    * the edge set is small (a community-contracted graph), else
    * [[sizedLoopPartsFromStats]]. The release drops the cache and the
    * persisted projection, never the caller's frame. */
  private def undirectedCache(
      edges: DataFrame, srcCol: String, dstCol: String, key: String,
      numPartitions: Option[Int] = None, weightCol: Option[String] = None,
      selfLoops: Boolean = false): (DataFrame, () => Unit) = {
    val w = weightCol.toSeq
    val proj = edges.select(Seq(col(srcCol).as("src"), col(dstCol).as("dst")) ++
      w.map(col(_).cast("long").as("w")): _*)
    val owned = !loopInputMaterialized(edges)
    val pre = if (owned) proj.persist() else proj
    val both = pre.union(pre.select(Seq(col("dst").as("src"), col("src").as("dst")) ++
      w.map(_ => col("w")): _*))
    val rows =
      if (selfLoops) both.union(both.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst")))
      else both
    val und = rows
      .repartition(numPartitions.getOrElse(sizedLoopPartsFromStats(edges)), col(key))
      .persist()
    (und, () => {
      und.unpersist(blocking = false)
      if (owned) pre.unpersist(blocking = false)
    })
  }

  /** The same deterministic synchronous LPA as a Catalyst loop: per
    * superstep a neighbor-label join, an (id, label) count and a hash-agg
    * argmax with the (count desc, label asc) tie-break — ~10× faster than
    * the Pregel form's per-message Maps, and the path that scales out.
    * Returns (id, label) as a checkpoint bounded by its row count; the
    * caller releases it with [[releaseLocalCheckpoint]]. */
  def lpaEdges(edges: DataFrame, srcCol: String, dstCol: String, maxIter: Int,
      broadcastState: Option[Boolean] = None, numPartitions: Option[Int] = None): DataFrame = {
    // src-partitioned: the superstep joins on dst and BOTH aggs
    // ((src,label) counts, then the per-src argmax) cluster on src
    val (und, release) = undirectedCache(edges, srcCol, dstCol, "src", numPartitions)
    val labels = withVertices(und, edges, broadcastState)(lpaSupersteps(und, _, maxIter, _))
    release()
    labels
  }

  /** LPA supersteps from `verts` (id) over a PREBUILT src-partitioned
    * undirected cache (shared by lpaEdges and the lpa+refine composites —
    * the expansion shuffle is the setup cost worth paying once). Returns
    * [[supersteps]]' last snapshot of (id, label). */
  private def lpaSupersteps(und: DataFrame, verts: DataFrame, maxIter: Int, bc: Boolean,
      materializeLast: Boolean = true): DataFrame = span("graph.lpaSupersteps") {
    supersteps(verts.withColumn("label", col("id")), maxIter, SuperstepBlock,
        materializeLast = materializeLast) { labels =>
      // most-frequent neighbor label, ties → smallest label. Two
      // codegen'd hash aggs (count, then argmax via
      // max(struct(cnt,-label))) measure ~2× faster than the
      // single-shuffle mode(deterministic) form, whose
      // ObjectHashAggregate map buffers fall out of codegen.
      // (Negative result, measured round 5: the struct-max plans a
      // SortAggregate, and re-encoding the argmax as max over ONE
      // decimal(38,0) — cnt·10¹⁹ + (10¹⁹−1−label) — does keep the
      // superstep in pure HashAggregate and won ~15% in an isolated
      // probe, but made the full q42/q60 queries 2× SLOWER end-to-end
      // (9.3s vs 4.9s at sf0.1): the 16-byte decimal state doubles
      // the shuffle/cache row width and the decimal mul/mod/cast in
      // every superstep outweighs the saved per-partition sort of the
      // already-aggregated message table. Keep the struct form.)
      und
        .join(stateSide(labels.withColumnRenamed("id", "nbr"), bc),
          col("dst") === col("nbr"))
        .groupBy(col("src").as("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("id")
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("best"))
        .select(col("id"), (-col("best.nl")).as("label"))
    }
  }

  /** Connected components as a Catalyst loop: min-label propagation to
    * fixpoint (labels converge to the component's min vertex id in
    * O(diameter) supersteps — the right trade for the short-diameter
    * graphs pipelines build). Convergence-checked at block boundaries (see
    * SuperstepBlock), `maxIter` bounds pathological chains. Returns
    * (id, component) as a materialized local checkpoint. */
  def ccEdges(edges: DataFrame, srcCol: String, dstCol: String, maxIter: Int = 20,
      broadcastState: Option[Boolean] = None): DataFrame =
    truncatedCc(edges, srcCol, dstCol) { (in, inSrc, inDst) =>
      span("graph.ccMinSupersteps") {
        // Self-loops make the superstep a pure aggregation over the static
        // edge table — new label = min over (self ∪ neighbors) — so the
        // previous state is referenced exactly ONCE per superstep and a
        // lazily-chained block stays a LINEAR plan (the SuperstepBlock
        // invariant; the earlier labels ⋈ nbrMin form referenced the state
        // twice and doubled the subtree per chained step).
        val (und, release) = undirectedCache(in, inSrc, inDst, "src",
          Some(sizedLoopPartsFromStats(edges)), selfLoops = true)
        val labels = withVertices(und, edges, broadcastState) { (verts, bc) =>
          supersteps(verts.withColumn("label", col("id")), maxIter, SuperstepBlock,
              Some(labelSum("label"))) { labels =>
            und.join(stateSide(labels.withColumnRenamed("id", "nbr"), bc),
                col("dst") === col("nbr"))
              .groupBy(col("src").as("id"))
              .agg(min(col("label")).as("label"))
          }
        }
        release()
        labels.withColumnRenamed("label", "component")
      }
    }

  /** Runs a CC loop over `edges` with its lineage truncated: the
    * caller's frame and columns when [[loopInputMaterialized]], else a
    * lazy checkpoint of the `(src, dst)` projection, released once the
    * loop's materialized labels are back. A checkpoint, not a persist:
    * the loop re-renders its whole plan at every block action, and a
    * persist keeps the caller's lineage in that plan (a kmeans-chain
    * input once made CC on a 1,168-edge τ-graph take 85 s in plan
    * rendering alone, q143). Lazy, so the loop's first action is still
    * the materializer. */
  private def truncatedCc(edges: DataFrame, srcCol: String, dstCol: String)(
      loop: (DataFrame, String, String) => DataFrame): DataFrame =
    if (loopInputMaterialized(edges)) loop(edges, srcCol, dstCol)
    else {
      val pre = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .localCheckpoint(eager = false)
      val labels = loop(pre, "src", "dst")
      releaseLocalCheckpoint(pre)
      labels
    }

  /** Connected components in O(log n) ROUNDS — the high-diameter scale
    * path (Shiloach–Vishkin-style pointer jumping; the MapReduce
    * formulation is Kiveris et al. 2014's star contractions, public):
    * [[ccEdges]]'s min-propagation needs O(diameter) supersteps, which
    * is the right trade for the short-diameter graphs pipelines build
    * but degenerates on path/chain shapes (a 10⁶-vertex chain would
    * need 10⁶ supersteps). Here every round combines
    *
    *   1. one min-propagation step l(v) ← min(l(v), min_{u∈N(v)} l(u)),
    *   2. one pointer-doubling step l(v) ← l(l(v)) (a label-keyed
    *      self-join), which halves pointer-chain lengths,
    *
    * so convergence takes O(log n) rounds on ANY topology. Correctness
    * invariant: l(v) is always the id of a vertex in v's component and
    * never increases; at the joint fixpoint labels are constant per
    * component, and since the min vertex's label can only be itself the
    * constant IS the component min — identical output to [[ccEdges]]
    * (AlgoRandomSpec asserts set-equality on random graphs; GraphSpec
    * covers the long-path case ccEdges' default budget can't finish).
    * Convergence via the exact decimal label-sum check, per round.
    * Cost per round: one edge-sized agg + two vertex-sized joins —
    * ~2× ccEdges' per-superstep work, won back exponentially on
    * diameter. Returns (id, component). */
  def ccStarEdges(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30): DataFrame =
    truncatedCc(edges, srcCol, dstCol)(
      ccStarRounds(_, _, _, sizedLoopPartsFromStats(edges), maxIter))

  /** The graph constant: [[ccAuto]] and the Leiden ladder run graphs of
    * at most this many edges on the driver, 32 MB of collected edges at
    * most. Timed on 4 cores at 50k, 500k and 2M edges, the driver
    * engines beat the distributed ones at every size, on sparse random
    * edges and on near-clique blobs. At 2M: CC 4.1 s vs 156 s (sparse)
    * and 1.9 s vs 6.2 s (blob); the 3-γ ladder about 7 s vs 54 s and
    * 2.4 s vs 25 s. 2M is the largest size measured. */
  private val LocalMaxEdges = 2000000L

  /** `edges` and its exact row count, handed to `body` with the frame
    * and the `(src, dst)` column names it reads. `knownRows`, when given,
    * must be that count. Without it, a materialized `edges`
    * ([[loopInputMaterialized]]) is counted in place; any other is
    * projected to `(src, dst)`, persisted and counted once, `body` reads
    * that projection (a loop input used in place), and it is released
    * after `body`. The count picks the engine of the two callers,
    * [[ccAuto]] and the Leiden ladder. */
  private def withEdgeCount(edges: DataFrame, srcCol: String, dstCol: String,
      knownRows: Option[Long], countSpan: String)(
      body: (DataFrame, String, String, Long) => DataFrame): DataFrame =
    knownRows match {
      case Some(rows) => body(edges, srcCol, dstCol, rows)
      case None if loopInputMaterialized(edges) =>
        body(edges, srcCol, dstCol, span(countSpan)(edges.count()))
      case None =>
        val input = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).persist()
        // the caller's lazy input plan (fuzzyDedup's LSH band + verify
        // pass) runs here
        val out = body(input, "src", "dst", span(countSpan)(input.count()))
        input.unpersist(blocking = false)
        out
    }

  /** Connected components by graph size: the one place the engine is
    * picked, from the edge count alone ([[withEdgeCount]]); the count
    * also sizes the partitions ([[sizedLoopParts]]). At or below
    * [[LocalMaxEdges]] a union-find labels the collected edges on the
    * driver ([[localComponents]]; 16 bytes an edge) with no
    * per-superstep cost. Above it the [[ccStarEdges]] rounds run over
    * one lazy `localCheckpoint` view of the input, so no round
    * re-renders the caller's lineage and its O(log n) rounds hold on any
    * topology. Both engines label a vertex with its component's min id
    * (AlgoRandomSpec), so the pick changes wall time only.
    *
    * `knownRows`, when given, must be `edges`' exact row count (the
    * Leiden ladder reads it off its refine gate). The input is then
    * neither persisted nor counted: the engine's first job runs its plan.
    * `localMaxEdges` replaces the threshold in tests only.
    *
    * Returns (id, component) for every vertex of an edge, its size
    * estimate bounded so a join over it plans a broadcast at once. The
    * caller releases it with [[releaseLocalCheckpoint]] once its own
    * output is materialized: the Catalyst engine's is a local
    * checkpoint, the local one holds no blocks (a no-op). */
  private[graft] def ccAuto(edges: DataFrame, srcCol: String, dstCol: String,
      knownRows: Option[Long] = None,
      localMaxEdges: Long = LocalMaxEdges): DataFrame = span("graph.ccAuto") {
    withEdgeCount(edges, srcCol, dstCol, knownRows, "graph.ccAuto.input") {
        (input, src, dst, rows) =>
      val parts = sizedLoopParts(edges.sparkSession, BigInt(rows) * 2)
      if (rows <= localMaxEdges) localComponents(input, src, dst, parts)
      else {
        val view = input.select(col(src).as("src"), col(dst).as("dst"))
          .localCheckpoint(eager = false)
        // 30 rounds cover components of ~2^30 hops
        val labels = ccStarRounds(view, "src", "dst", parts, maxIter = 30)
        releaseLocalCheckpoint(view)
        labels
      }
    }
  }

  /** [[ccAuto]]'s driver-local engine: the collected edges
    * ([[LocalEdges]]) and their [[LocalEdges.minRoots]] union-find.
    * Returns (id, component) as a [[driverFrame]] of `parts`
    * partitions. */
  private def localComponents(edges: DataFrame, srcCol: String, dstCol: String,
      parts: Int): DataFrame = {
    val g = LocalEdges.collect(edges, srcCol, dstCol)
    val root = g.minRoots(_ => true)
    driverFrame(edges.sparkSession, Seq("id", "component"),
      Seq(g.ids, Array.tabulate(g.n)(v => g.ids(root(v)))), parts)
  }

  /** The edges of a driver-local engine: the `(src, dst)` rows, collected
    * by one job as one packed `Array[Long]` per partition (16 bytes an
    * edge). `ids` are the sorted distinct endpoints, and row k joins the
    * vertex indices `ends(2k)` and `ends(2k + 1)`; a vertex's index
    * orders like its id. */
  private final class LocalEdges(val ids: Array[Long], val ends: Array[Int]) {
    def n: Int = ids.length

    /** Each vertex's root in a union-find over the rows k with
      * `keep(k)`. A union roots at the smaller index, i.e. the smaller
      * id, and finds halve paths, so each root is the min vertex of its
      * component; a vertex in no kept row is its own root. */
    def minRoots(keep: Int => Boolean): Array[Int] = {
      val up = Array.range(0, n)
      @annotation.tailrec def find(x: Int): Int =
        if (up(x) == x) x else { up(x) = up(up(x)); find(up(x)) }
      for (k <- 0 until ends.length / 2 if keep(k)) {
        val (a, b) = (find(ends(2 * k)), find(ends(2 * k + 1)))
        if (a < b) up(b) = a else if (b < a) up(a) = b
      }
      Array.tabulate(n)(find)
    }
  }

  private object LocalEdges {
    def collect(edges: DataFrame, srcCol: String, dstCol: String): LocalEdges = {
      val spark = edges.sparkSession
      import spark.implicits._
      // a Dataset action, not an RDD one: the job and the AQE stages of
      // the caller's plan run under one SQL execution
      val raw = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
        .mapPartitions { it =>
          val b = Array.newBuilder[Long]
          it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
          Iterator.single(b.result())
        }.collect().flatten
      val sorted = raw.sorted
      var n = 0
      for (i <- sorted.indices if n == 0 || sorted(i) != sorted(n - 1)) {
        sorted(n) = sorted(i); n += 1
      }
      val ids = java.util.Arrays.copyOf(sorted, n)
      new LocalEdges(ids, raw.map(java.util.Arrays.binarySearch(ids, _)))
    }
  }

  /** The long columns `cols`, named `names`, as `parts` partitions of an
    * RDD over the driver's arrays, bounded by its exact row count; not a
    * `LocalRelation`, whose rows the optimizer evaluates at plan time to
    * fold projections over it (GraphSpec pins the form). It holds no
    * blocks, so [[releaseLocalCheckpoint]] on it is a no-op. */
  private def driverFrame(spark: SparkSession, names: Seq[String],
      cols: Seq[Array[Long]], parts: Int): DataFrame = {
    val n = cols.head.length
    val slices = (0 until parts).map { p =>
      val (from, until) = ((n.toLong * p / parts).toInt, (n.toLong * (p + 1) / parts).toInt)
      cols.map(_.slice(from, until))
    }
    val rows = spark.sparkContext.parallelize(slices, parts).flatMap { c =>
      c.head.indices.iterator.map(i => Row.fromSeq(c.map(_(i))))
    }
    val schema = StructType(names.map(StructField(_, LongType, false)))
    GraftSqlBridge.withRowBound(spark.createDataFrame(rows, schema), n)
  }

  /** The [[ccStarEdges]] rounds over a materialized edge frame, one round
    * a block. Returns [[supersteps]]' last snapshot. */
  private def ccStarRounds(in: DataFrame, srcCol: String, dstCol: String,
      parts: Int, maxIter: Int): DataFrame = span("graph.ccStarRounds") {
    val (und, release) = undirectedCache(in, srcCol, dstCol, "src", Some(parts))
    // not snapshotted: round 1 recomputes the distinct from und's cache
    // in its own job, one driver gate fewer
    val init = und.select(col("src").as("id")).distinct()
      .withColumn("l", col("id"))
    val labels = supersteps(init, maxIter, 1, Some(labelSum("l"))) { labels =>
      val prop = und
        .join(labels.select(col("id").as("dst"), col("l").as("ln")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("ln")).as("lp"))
        .join(labels, "id")
        .select(col("id"), least(col("l"), col("lp")).as("l"))
      // ONE pointer jump per round. A double jump did not cut the round
      // count on q147's fused split (rounds are bound by the
      // min-propagation frontier plus one confirmation round, not chain
      // length) and grew stages per round ~25% (126→154 jobs).
      prop.as("a")
        .join(prop.select(col("id").as("pid"), col("l").as("pl")).as("p"),
          col("a.l") === col("pid"), "left")
        .select(col("a.id").as("id"), coalesce(col("pl"), col("a.l")).as("l"))
    }
    release()
    labels.withColumnRenamed("l", "component")
  }

  /** Incremental connected components: fold a NEW edge batch into an
    * existing min-vertex-id labeling WITHOUT re-running CC over the full
    * graph — the maintenance operation a 100 TB graph needs when a
    * day's edges arrive (full CC recomputation is corpus-sized; this is
    * batch-sized). Standard contraction argument: map the batch's
    * endpoints through their current labels (unlabeled vertices stand
    * for themselves), run CC on the resulting COMPONENT graph — batch-
    * bounded, ≪ the full graph — and relabel. Because the input labels
    * are min-vertex-ids, the merged label (min over merged components'
    * labels) is exactly the min vertex id of the union component, so
    * the result is bit-identical to full CC over old ∪ new (the q138
    * oracle states precisely that).
    *
    * Cost: two label joins over the batch + [[ccAuto]] over the
    * contracted graph + one vertex-sized relabel join; never touches old
    * edges. Returns (id, component), checkpointed and materialized. */
  def incrementalCC(
      labels: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val l = labels.select(col("id"), col("component"))
    val e = newEdges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val mapped = e
      .join(l.select(col("id").as("src"), col("component").as("cs")), Seq("src"), "left")
      .join(l.select(col("id").as("dst"), col("component").as("cd")), Seq("dst"), "left")
      .select(coalesce(col("cs"), col("src")).as("src"),
        coalesce(col("cd"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    // the contracted graph is batch-bounded and usually tiny next to the
    // labeling, so ccAuto most often labels it on the driver
    val comp = ccAuto(mapped, "src", "dst")
    val merged = comp.select(col("id").as("component"), col("component").as("newc"))
    // batch vertices the old labeling has never seen enter as self-labels
    val newVerts = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .join(l.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    val (out, _) = snapshot(l.unionByName(newVerts)
      .join(merged, Seq("component"), "left")
      .select(col("id"), coalesce(col("newc"), col("component")).as("component")))
    releaseLocalCheckpoint(comp)
    out
  }

  /** Multi-resolution community ladder — the engine's analog of the
    * reference's 3-resolution Leiden run (resolutions [2.0, 0.5, 0.1],
    * detect_communities.py:219-226 via /root/reference): level 0 = LPA on
    * the raw graph (fine), level 1 = LPA with self-votes on the
    * community-contracted graph (mid; self-votes damp the 2-node
    * oscillation synchronous LPA has on contracted graphs), level 2 =
    * connected components of the contracted graph (coarsest). Returns
    * (id, level, community) for every original vertex — community labels
    * at each level are expressed in original-vertex label space.
    *
    * Scale: contraction shrinks the edge set geometrically; every level
    * is equi-joins + the lpaEdges Catalyst loop; CC runs on the tiny
    * contracted graph. Returns the levels checkpointed and materialized;
    * every intermediate is released. */
  def communityLevels(
      spark: SparkSession, edges: DataFrame, srcCol: String, dstCol: String,
      iterPerLevel: Int = 4): DataFrame = {
    // the L0 LPA supersteps AND the contraction join scan one cache
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).persist()
    // L0: fine communities on the raw graph (a checkpoint: four
    // downstream branches reference it)
    val l0 = lpaEdges(e, "src", "dst", iterPerLevel)
    // contract: community graph (distinct inter-community edges);
    // checkpointed — three levels branch off it; its filling action is
    // e's last consumer
    val asg0 = l0.select(col("id"), col("label").as("c0"))
    val (ce, ceStats) = snapshot(e
      .join(asg0.select(col("id").as("src"), col("c0").as("sc")), "src")
      .join(asg0.select(col("id").as("dst"), col("c0").as("dc")), "dst")
      .filter(col("sc") =!= col("dc"))
      .select(col("sc").as("src"), col("dc").as("dst"))
      .distinct())
    e.unpersist(blocking = false)
    // L1: LPA with self-votes over the contracted graph (≪ the
    // original), its partitions sized to its count ([[sizedLoopParts]]):
    // near-empty tasks cost ~25% of this stage at sf0.1
    val ceRows = ceStats.getLong(0)
    val l1Parts = sizedLoopParts(spark, BigInt(ceRows))
    val withSelf = ce.union(
      ce.select(col("src").as("v")).union(ce.select(col("dst").as("v")))
        .distinct().select(col("v").as("src"), col("v").as("dst")))
    val l1 = lpaEdges(withSelf, "src", "dst", iterPerLevel,
      numPartitions = Some(l1Parts)) // (c0 -> c1)
    // L2: coarsest = connected components of the contracted graph
    val l2 = ccAuto(ce, "src", "dst", knownRows = Some(ceRows))
    val lvl0 = asg0.select(col("id"), lit(0).as("level"), col("c0").as("community"))
    val lvl1 = asg0.join(l1.select(col("id").as("c0"), col("label").as("c1")), "c0")
      .select(col("id"), lit(1).as("level"), col("c1").as("community"))
    // isolated communities (no inter-community edge) keep their own label
    val lvl1All = lvl0.select(col("id"), col("community").as("c0"))
      .join(lvl1.select(col("id"), col("community").as("c1")), Seq("id"), "left")
      .select(col("id"), lit(1).as("level"), coalesce(col("c1"), col("c0")).as("community"))
    val lvl2 = asg0.join(l2.select(col("id").as("c0"), col("component").as("c2")),
        Seq("c0"), "left")
      .select(col("id"), lit(2).as("level"), coalesce(col("c2"), col("c0")).as("community"))
    val (out, _) = snapshot(lvl0.unionByName(lvl1All).unionByName(lvl2))
    Seq(l0, ce, l1, l2).foreach(releaseLocalCheckpoint)
    out
  }

  /** PageRank as a Catalyst loop in FIXED-POINT arithmetic: rank mass is
    * a long count of units out of `scale` total. Every step is integer
    * ops (share = pr div deg; sums of longs), so results are exactly
    * reproducible regardless of partial-aggregation order — float
    * summation order-dependence is what usually makes distributed
    * PageRank non-deterministic run-to-run. The iteration is
    * new = base + (damping% · Σ incoming shares) div 100 with
    * base = (100-damping)% of the uniform share, the standard damped
    * power iteration (Brin/Page) over the undirected expansion.
    *
    * Scale: per iteration one shuffle of the edge list on src, one hash
    * agg on dst, one N-row state join — identical shuffle structure to
    * real distributed PageRank; no driver collect (the single
    * `deg.count()` scalar is one agg job). GraphX's `staticPageRank`
    * stays available for double-precision needs; this form is the
    * oracle-able / deterministic one. Returns (id, pr) over a checkpoint
    * bounded by its row count, as do the two variants below; the caller
    * releases it with [[releaseLocalCheckpoint]]. */
  def pageRankFixedPoint(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, dampingPct: Long = 85L,
      scale: Long = 1000000000000L,
      broadcastState: Option[Boolean] = None): DataFrame =
    rankLoop(edges, srcCol, dstCol, None, count(lit(1)).as("deg"), iters,
        dampingPct, broadcastState) { (deg, n) =>
      val unit = scale / n
      RankTerms(deg, lit(unit), shareOverDeg, sum(col("share")),
        lit(((100L - dampingPct) * unit) / 100L))
    }

  /** PERSONALIZED PageRank in the same fixed-point integer arithmetic as
    * [[pageRankFixedPoint]]: all teleport mass returns to ONE anchor
    * vertex instead of spreading uniformly — the graph-retrieval
    * primitive ("rank everything by relevance to this node", the
    * GraphRAG anchor-expansion query shape, ingest_graph_db.py:366-377
    * via /root/reference generalized from 2 hops to a damped walk).
    * Initial mass: the whole scale on the anchor. Iteration:
    * pr' = isAnchor·base + (damping%·Σ incoming shares) div 100 with
    * base = (100−damping)% of scale. Deterministic under any partial-agg
    * order (integer ops only); same per-iteration shuffle structure and
    * block-lazy chaining as the uniform variant — the static state now
    * carries (deg, isAnchor). */
  def personalizedPageRankFixedPoint(
      edges: DataFrame, srcCol: String, dstCol: String, anchor: DataFrame,
      iters: Int, dampingPct: Long = 85L,
      scale: Long = 1000000000000L,
      broadcastState: Option[Boolean] = None): DataFrame =
    rankLoop(edges, srcCol, dstCol, None, count(lit(1)).as("deg"), iters,
        dampingPct, broadcastState) { (deg, _) =>
      // min(id), not limit(1): an unordered limit over a multi-row anchor
      // frame is nondeterministic (round-5 advice) — the walk must be a
      // pure function of the input.
      val a = broadcast(anchor
        .agg(min(col(anchor.columns.head)).as("id"))
        .filter(col("id").isNotNull)
        .withColumn("isa", lit(1L)))
      val degA = deg.join(a, Seq("id"), "left")
        .select(col("id"), col("deg"), coalesce(col("isa"), lit(0L)).as("isa"))
      RankTerms(degA, col("isa") * scale, shareOverDeg, sum(col("share")),
        col("isa") * (((100L - dampingPct) * scale) / 100L))
    }

  /** WEIGHTED PageRank in the same fixed-point integer arithmetic as
    * [[pageRankFixedPoint]]: each undirected edge carries a positive
    * integer weight (co-occurrence count, interaction strength — the
    * GraphRAG relationship-strength signal the unweighted walk ignores)
    * and a vertex distributes its mass proportionally:
    * share(u→v) = (pr_u · w_uv) div W_u with W_u = Σ_v w_uv. Every step
    * is integer ops, so the result is reproducible under any partial-agg
    * order and the oracle can replay the unrolled iterations in BIGINT.
    *
    * Overflow bound: pr ≤ scale (default 10¹²) and the per-edge product
    * pr·w must stay under 2⁶³ — weights up to ~9·10⁶ are safe at the
    * default scale; pass a smaller `scale` for heavier weights.
    *
    * Scale shape: identical to [[pageRankFixedPoint]] — the weighted
    * expansion is cached pre-partitioned on dst (the per-iteration
    * aggregation key), the vertex-sized state joins in as a broadcast,
    * so after one setup shuffle every iteration is exchange-free over
    * the edges; the per-edge proportional split is a projection. */
  def weightedPageRankFixedPoint(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iters: Int, dampingPct: Long = 85L,
      scale: Long = 1000000000000L,
      broadcastState: Option[Boolean] = None): DataFrame =
    rankLoop(edges, srcCol, dstCol, Some(weightCol), sum(col("w")).as("wdeg"),
        iters, dampingPct, broadcastState) { (deg, n) =>
      val unit = scale / n
      // the share (pr·w) div wdeg needs the edge's w, so it is computed
      // after the edge⋈state join instead of on the state side
      RankTerms(deg, lit(unit), _.select(col("id").as("src"), col("pr"), col("wdeg")),
        sum(expr("(pr * w) div wdeg")), lit(((100L - dampingPct) * unit) / 100L))
    }

  /** The unweighted per-edge share: computed once per vertex, state-side. */
  private val shareOverDeg: DataFrame => DataFrame =
    _.select(col("id").as("src"), expr("pr div deg").as("share"))

  /** What one fixed-point PageRank variant adds to [[rankLoop]]: the
    * static per-vertex frame each step rebuilds the state from, the
    * starting rank, the state columns the edges read (keyed on `src`),
    * the per-edge share summed at `dst`, and the teleport term. */
  private final case class RankTerms(static: DataFrame, start: Column,
      edgeSide: DataFrame => DataFrame, share: Column, teleport: Column)

  /** The loop of the three fixed-point PageRank variants. It owns the
    * dst-partitioned [[undirectedCache]] (each step joins the state on
    * src and aggregates on dst, so no step re-shuffles the edges), the
    * degree frame (`degree` per `src`) and its count n, the state-join
    * decision and the empty-graph return; `terms` builds the variant's
    * part from the degree frame and n. The state is (id, static columns,
    * pr) and the static frame is cached once, so each step references
    * the previous state exactly once: the chain is a linear plan and a
    * block of 2·SuperstepBlock steps runs as one job. Every step is
    * pr' = teleport + (damping% · Σ shares) div 100. Returns (id, pr)
    * over [[supersteps]]' last snapshot; everything else is released. */
  private def rankLoop(
      edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], degree: Column, iters: Int,
      dampingPct: Long, broadcastState: Option[Boolean])(
      terms: (DataFrame, Long) => RankTerms): DataFrame = span("graph.rankLoop") {
    val (und, release) = undirectedCache(edges, srcCol, dstCol, "dst",
      weightCol = weightCol)
    val deg = und.groupBy(col("src").as("id")).agg(degree).persist()
    val n = deg.count() // one scalar agg job; also materializes deg + und
    // n IS the vertex count — the exact-fallback resolution is free here.
    // stateCopies: a block chains 2·SuperstepBlock lazy steps per job,
    // each pinning its own state broadcast — budget all 8, not 4
    val bc = resolveBroadcastState(broadcastState, edges, n,
      stateCopies = 2 * SuperstepBlock)
    // empty edge set: no vertices, no rank mass to divide
    val out = if (n == 0) deg.select(col("id"), lit(0L).as("pr")) else {
      val t = terms(deg, n)
      val static = if (t.static eq deg) deg else t.static.persist()
      val kept = static.columns.toSeq.map(col)
      val st = supersteps(static.withColumn("pr", t.start), iters,
          2 * SuperstepBlock) { st =>
        val incoming = und
          .join(stateSide(t.edgeSide(st), bc), "src")
          .groupBy(col("dst").as("id"))
          .agg(t.share.as("s"))
        // left join keeps isolated-in-degree vertices (none in an
        // undirected expansion, but the guard costs nothing)
        static
          .join(incoming, Seq("id"), "left")
          .select(kept :+ (t.teleport +
            expr(s"($dampingPct * coalesce(s, 0L)) div 100")).as("pr"): _*)
      }
      if (static ne deg) static.unpersist(blocking = false)
      st.select(col("id"), col("pr"))
    }
    release()
    deg.unpersist(blocking = false)
    out
  }

  /** BFS levels from an anchor: minimum hop distance ≤ maxHops, as a
    * frontier-expansion Catalyst loop — per hop one equi-join of the edge
    * list against the (small) frontier plus an anti-join against the
    * visited set. The frontier-join shape is the scalable BFS: work per
    * hop is proportional to the frontier's edge neighborhood, not the
    * whole graph. */
  def bfsLevels(
      edges: DataFrame, srcCol: String, dstCol: String,
      anchor: DataFrame, maxHops: Int,
      broadcastState: Option[Boolean] = None): DataFrame =
    frontierBfs(edges, srcCol, dstCol,
        anchor.select(col(anchor.columns.head).as("id")).distinct(),
        maxHops, broadcastState)(
      _.select(col("dst").as("id")).distinct())

  /** The frontier loop of [[bfsLevels]] and [[multiSourceBfs]]. `seeds`
    * is level 0: (id, carried columns…). Each hop joins the frontier (id
    * as src, carried columns) into the dst-partitioned
    * [[undirectedCache]], `reach` folds the joined rows to one per
    * reached dst (as id), and an anti-join drops the visited set. The
    * frontier and the visited set are broadcast, so the hop's aggregate
    * reuses the cached partitioning and plans no exchange over the
    * edges. Only the per-hop layer is persisted; the visited set is the
    * lazy union of the cached layers, so each hop is one job; an empty
    * layer ends the search. (Negative result, measured round 5: chaining
    * all hops in ONE lazy plan is ~2× SLOWER than the per-hop barriers —
    * the later seen-sets re-reference earlier layer subtrees and
    * ReuseExchange does not collapse the duplicated cache-scan+join
    * work.) Returns the union of the layers, persisted; everything else
    * is released. */
  private def frontierBfs(
      edges: DataFrame, srcCol: String, dstCol: String, seeds: DataFrame,
      maxHops: Int, broadcastState: Option[Boolean])(
      reach: DataFrame => DataFrame): DataFrame = span("graph.frontierBfs") {
    val (und, release) = undirectedCache(edges, srcCol, dstCol, "dst")
    // frontier ∪ visited state is bounded by the vertex count — the
    // exact fallback only runs when the stats bound refuses (dense graph)
    val bc = resolveBroadcastState(broadcastState, edges,
      und.select(col("src")).distinct().count())
    val side = col("id").as("src") +: seeds.columns.toSeq.tail.map(col)
    var frontier = seeds.withColumn("level", lit(0)).persist()
    frontier.count()
    var layers = List(frontier)
    var h = 1
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      val seen = layers.map(_.select("id")).reduce(_ unionByName _)
      val next = reach(und.join(stateSide(frontier.select(side: _*), bc), "src"))
        .join(stateSide(seen, bc), Seq("id"), "left_anti")
        .withColumn("level", lit(h))
        .persist()
      if (next.count() == 0) { next.unpersist(blocking = false); exhausted = true }
      else { layers = layers :+ next; frontier = next }
      h += 1
    }
    val out = layers.reduce(_ unionByName _).persist()
    out.count()
    // single-layer search: reduce returns the anchor frontier itself —
    // unpersisting it would uncache the value being returned
    layers.filterNot(_ eq out).foreach(_.unpersist(blocking = false))
    release()
    out
  }

  /** HITS hubs & authorities in fixed-point integer arithmetic over the
    * DIRECTED edge set (src = hub side, dst = authority side — on a
    * bipartite graph the natural "good parts point at good suppliers"
    * ranking; the reference's graph retrieval is exactly this
    * anchor/neighbor-quality shape, ingest_graph_db.py:366-377 via
    * /root/reference). Per iteration: authRaw = Σ incoming hub, rescaled
    * so Σauth = ~scale via integer div; then hubRaw = Σ outgoing auth,
    * rescaled the same way — Kleinberg's power iteration with
    * sum-normalization (instead of L2) to stay in exact integer ops, so
    * the result is deterministic under any partial-aggregation order.
    *
    * Overflow bound: every state value ≤ scale and every raw sum ≤
    * m·(max state), so rescale products stay < scale² ·deg-skew; the
    * default 1e9 scale holds to ~1e9-edge graphs — at larger m lower
    * `scale` (precision trades linearly). Scale shape: per iteration two
    * edge-list equi-joins + two hash aggs + two 1-row scalar broadcasts;
    * no driver collect. */
  def hitsFixedPoint(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000000L,
      broadcastState: Option[Boolean] = None): DataFrame = {
    // iters = 0 would leave `auth` null and NPE in the final union
    // (round-5 advice); a HITS run needs at least one power step
    require(iters >= 1, s"hitsFixedPoint needs iters >= 1, got $iters")
    // TWO partitioned caches of the directed edge list — the auth step
    // aggregates on dst (eByDst), the hub step on src (eBySrc); with the
    // vertex-sized state broadcast into each join, both per-half-step
    // aggregations reuse the cached partitioning and plan NO exchange
    // (the lpaEdges/pageRank discipline, doubled because HITS
    // alternates aggregation keys). Setup = two shuffles; every
    // iteration after that is exchange-free over the edges.
    // (Negative result, round 5: localCheckpoint-ing `pre` so both
    // partitioned caches build from one materialization measured SLOWER
    // — 6.4s vs 4.8s for q108 at sf0.1 — the extra materialization job
    // costs more than the saved second scan of the edge derivation.)
    val pre = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val hitsParts = sizedLoopPartsFromStats(edges)
    val eByDst = pre.repartition(hitsParts, col("dst")).persist()
    val eBySrc = pre.repartition(hitsParts, col("src")).persist()
    val srcs = eBySrc.select(col("src").as("id")).distinct()
    val nSrc = srcs.count()
    if (nSrc == 0) {
      eByDst.unpersist(blocking = false)
      eBySrc.unpersist(blocking = false)
      return srcs.select(col("id"), lit(0L).as("hub"), lit(0L).as("auth"))
    }
    // hub state spans the srcs, auth state the dsts — the exact fallback
    // bounds both sides with distinct(src ∪ dst), not nSrc + |dst|: the
    // sum double-counts vertices on both sides (every vertex, in
    // undirected-style graphs) and would refuse dense graphs whose true
    // combined state fits (round-13 advice). Evaluated only when the
    // stats bound refuses.
    val bc = resolveBroadcastState(broadcastState, edges,
      eBySrc.select(col("src").as("id"))
        .union(eByDst.select(col("dst").as("id")))
        .distinct().count())
    // max(…,1): a unit of 0 (scale < nSrc) would zero every raw sum and
    // the rescale would divide by zero — floor the unit at 1 instead
    var hub = srcs.withColumn("h", lit(math.max(scale / nSrc, 1L)))
    var auth: DataFrame = null
    // Each half-iteration references its raw-sum frame TWICE (the Σraw
    // scalar AND the rescale projection), and the next half references
    // the rescaled state again — without materialization the lazy
    // subtree doubles 4× per iteration and the plan re-executes the
    // whole prefix exponentially (measured 72s for 2 iterations at
    // sf0.1; persisted: ~2s). Two round-6 trims (the round-5 verdict's
    // "4 materializations per iteration" item):
    //  - the Σraw total is a 1-row driver probe (the convergence-probe
    //    convention) whose job doubles as the raw-cache fill; the exact
    //    integer total is then INLINED as a literal in the rescale
    //    projection — no crossJoin, no broadcast-exchange job per
    //    half-step, and the recurrence (hence the oracle hash) is
    //    byte-identical.
    //  - only `hub` is localCheckpoint-ed (lineage truncation ONCE per
    //    full iteration — enough to keep plan strings O(1), the round-5
    //    8 GB-driver-OOM lesson); `auth` is persist-only and its one-hop
    //    lineage (agg over cached raw) hangs off the previous hub's
    //    LogicalRDD leaf.
    var cpRelease = List.empty[DataFrame]
    var pRelease = List.empty[DataFrame]
    for (_ <- 1 to iters) {
      val authRaw = eByDst
        .join(stateSide(hub.select(col("id").as("src"), col("h")),
          bc), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("raw")).persist()
      val aTot = authRaw.agg(sum("raw")).head().getLong(0)
      auth = authRaw
        .select(col("id"), expr(s"(raw * ${scale}L) div ${aTot}L").as("a"))
        .persist()
      val hubRaw = eBySrc
        .join(stateSide(auth.select(col("id").as("dst"), col("a")),
          bc), "dst")
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("raw")).persist()
      val hTot = hubRaw.agg(sum("raw")).head().getLong(0)
      // lazy: nothing scans `hub` until the next iteration's auth join
      // (or the final union) — that job doubles as the checkpoint
      // materializer, saving one dedicated pass per iteration; the
      // LogicalRDD leaf truncates the plan string either way
      hub = hubRaw
        .select(col("id"), expr(s"(raw * ${scale}L) div ${hTot}L").as("h"))
        .localCheckpoint(eager = false)
      // authRaw is safe to drop now (the hTot probe materialized `auth`
      // through it); hubRaw must OUTLIVE hub's lazy materialization in
      // the next iteration's join — defer it to the end-of-loop release
      authRaw.unpersist(blocking = false)
      cpRelease = hub :: cpRelease
      pRelease = auth :: hubRaw :: pRelease
    }
    val out = hub.select(col("id"), col("h").as("hub"), lit(null).cast("long").as("auth"))
      .unionByName(auth.select(col("id"), lit(null).cast("long").as("hub"),
        col("a").as("auth")))
      .groupBy("id")
      .agg(max(col("hub")).as("hub"), max(col("auth")).as("auth"))
    val persisted = out.persist()
    persisted.count()
    eByDst.unpersist(blocking = false)
    eBySrc.unpersist(blocking = false)
    cpRelease.foreach(releaseLocalCheckpoint(_))
    pRelease.foreach(_.unpersist(blocking = false))
    persisted
  }

  /** Release the RDD blocks behind a locally-checkpointed DataFrame.
    * `Dataset.unpersist` is a no-op for these (localCheckpoint persists
    * the RDD directly, bypassing the CacheManager), so without this the
    * per-iteration state blocks of checkpoint-truncated loops stay
    * resident for the session. The frame's data must already be consumed
    * (checkpointed lineage cannot recompute after unpersist). */
  private[graft] def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Neighborhood feature aggregation — ONE message-passing layer
    * (GraphSAGE-mean / GCN style, the feature-propagation step a
    * graph-retrieval ranker runs over entity attributes): for every
    * vertex, count + sum + mean of its neighbors' numeric feature over
    * the undirected expansion. The sum is the decimal-exact `dsum`
    * convention (cast to DECIMAL(18,2) BEFORE summing, result as
    * double), so it is independent of partial-aggregation order — a raw
    * double sum would drift run-to-run and engine-to-engine; the mean
    * is one IEEE quotient of that exact sum. Scale: one edge⋈feature
    * equi-join + one hash agg (map-side combined) — the canonical
    * message-passing shuffle shape; stack calls for deeper receptive
    * fields. */
  def neighborhoodAgg(
      edges: DataFrame, srcCol: String, dstCol: String,
      feats: DataFrame, idCol: String, featCol: String): DataFrame = {
    val pre = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val und = pre.union(pre.select(col("dst").as("src"), col("src").as("dst")))
    und.join(feats.select(col(idCol).as("dst"), col(featCol).as("f")), "dst")
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("n_nbrs"),
        graft.operators.Relational.dsum(col("f")).as("f_sum"))
      .select(col("id"), col("n_nbrs"), col("f_sum"),
        // floor-based 6-digit mean, NOT round(): divisors like 32 make
        // the quotient an exact 7-decimal value ending in 5, and Spark
        // rounds the SHORTEST decimal repr where other engines round
        // the binary double — a systematic half-boundary disagreement
        // (bit at sf0.1, round 5). floor() is defined on the binary
        // value identically everywhere.
        (floor(col("f_sum") / col("n_nbrs") * lit(1000000.0)).cast("double")
          / lit(1000000.0)).as("f_mean"))
  }

  /** Common-neighbor / Jaccard link prediction over a bipartite graph's
    * LEFT projection: rank left-vertex pairs that share right-neighbors
    * — "entities that co-occur with the same things probably relate"
    * (the candidate-edge generator for graph completion; scores are the
    * classic CN and Jaccard = cn / (|Γx| + |Γy| − cn)). Deterministic:
    * integer counts, one exact double quotient, total (cn desc, x, y)
    * order for the top-k cut.
    *
    * `maxRightDegree` drops hub right-vertices BEFORE pairing — the
    * standard guard that keeps the wedge fan-out Σ d_r² bounded at
    * corpus scale (a right vertex of degree d contributes d² candidate
    * rows; hubs add quadratic work but near-zero signal). Scale shape:
    * one self-equi-join on the right key + one hash agg + two
    * vertex-sized degree joins + TakeOrdered. */
  def linkPredictTopK(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRightDegree: Long = 1000L): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("r")).distinct()
    val keepR = e.groupBy("r").agg(count(lit(1)).as("dr"))
      .filter(col("dr") <= maxRightDegree).select("r")
    val ek = e.join(keepR, "r")
    // degrees on the FILTERED graph, so cn ≤ min(dx, dy) and Jaccard
    // stays in [0, 1] — scores are exact for the hub-pruned graph rather
    // than approximate for the raw one
    val degL = ek.groupBy("a").agg(count(lit(1)).as("d"))
    val pairs = ek.select(col("a").as("x"), col("r"))
      .join(ek.select(col("a").as("y"), col("r")), "r")
      .filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cn"))
    pairs
      .join(degL.select(col("a").as("x"), col("d").as("dx")), "x")
      .join(degL.select(col("a").as("y"), col("d").as("dy")), "y")
      .select(col("x"), col("y"), col("cn"),
        round(col("cn").cast("double") /
          (col("dx") + col("dy") - col("cn")), 6).as("jaccard"))
      .orderBy(col("cn").desc, col("x").asc, col("y").asc)
      .limit(k)
  }

  /** Louvain-style modularity REFINEMENT of an existing community
    * assignment (typically [[lpaEdges]]'s output) — the
    * modularity-OPTIMIZING local-move pass the reference's Leiden run
    * performs inside leidenalg (neo4j_helpers.py:237-268 via
    * /root/reference; LPA approximates the partition, this closes the
    * quality gap). Per round, every vertex synchronously evaluates
    * moving to each neighboring community (or staying) by the standard
    * Louvain gain, in EXACT integer arithmetic:
    *
    *   score(v, c) = q·m2·k_{v→c} − p·k_v·(D_c − [c = c_v]·k_v)
    *
    * where p/q is the gcd-reduced form of gammaPct/100 — the
    * resolution parameter γ of RB-configuration modularity
    * (Q_γ = W/m2 − γ·ΣD²/m2²; the reference's Leiden ladder runs
    * resolutions [2.0, 0.5, 0.1], neo4j_helpers.py:237-268 via
    * /root/reference). gammaPct = 100 reduces to p = q = 1: classic
    * modularity, bit-identical to the γ-less form. Larger γ penalizes
    * the degree term harder → finer communities; smaller γ → coarser.
    *
    * (m2 = directed row count of the undirected expansion = 2m,
    * k_{v→c} = edges from v into c, k_v = deg(v), D_c = Σ degrees in c;
    * the [c = c_v] term is the remove-v-first convention, so staying and
    * moving are scored on equal footing). argmax per vertex, ties →
    * smallest community label — a total order, so the round is a pure
    * function of the input. Because the moves are synchronous (not
    * Louvain's sequential sweep — that's inherently serial), a round is
    * ACCEPTED only if the exact integer modularity numerator
    * Q_num = q·m2·W − p·Σ_c D_c²  (W = within-community directed rows;
    * Q_γ = Q_num / (q·m2²)) strictly improves; otherwise the pass stops.
    * This gives deterministic, bounded, monotonically non-decreasing
    * γ-modularity — and an unrollable SQL oracle.
    *
    * Scale shape: the move kernel is the lpaEdges superstep (one
    * exchange-free agg over the src-partitioned edge cache with the
    * vertex-sized state on the [[stateSide]] join side), plus two
    * community-sized aggs (D_c, W) and a scalar gate probe per round —
    * no driver collect beyond 1-row scalars, no pairwise blowup.
    * Overflow: every term ≤ max(p,q)·m2², exact in Long to ~3e9
    * directed edges at γ = 1 (the modularityOf bound), shrinking by
    * √max(p,q) for fractional resolutions (γ = 0.1 ⇒ p/q = 1/10 ⇒
    * ~9.6e8 — still far beyond any contracted community graph).
    *
    * Returns (id, label) for every vertex of `assignment`; vertices with
    * no edges keep their input label. */
  def louvainRefine(
      edges: DataFrame, srcCol: String, dstCol: String,
      assignment: DataFrame, idCol: String, labelCol: String,
      rounds: Int, broadcastState: Option[Boolean] = None,
      gammaPct: Long = 100L): DataFrame =
    louvainRefineMulti(edges, srcCol, dstCol, assignment, idCol, labelCol,
      rounds, Seq(gammaPct), broadcastState)
      .select(col("id"), col("label"))

  /** Leiden's WELL-CONNECTEDNESS phase (Traag, Waltman & van Eck 2019,
    * "From Louvain to Leiden" — the defining Leiden-vs-Louvain
    * guarantee; the reference's community layer runs leidenalg with
    * exactly this phase, neo4j_helpers.py:237-268 via /root/reference):
    * Louvain-style local moves can leave a community internally
    * DISCONNECTED — moving a cut vertex to a neighboring community
    * strands the rest of its old community in two pieces that modularity
    * alone never separates (each piece's members see only own-community
    * candidates, so no local move can split them; GraphSpec plants
    * exactly that pathology). Leiden guarantees every community is
    * internally connected by refining within communities before the next
    * level/γ.
    *
    * Implemented as constrained connected components: keep only
    * intra-community edges (both endpoints share a label), run
    * [[ccAuto]] over them, and give every resulting
    * sub-component its min member id as its new community label;
    * vertices with no intra-community edge become singletons labeled by
    * their own id. Components never span communities (intra edges can't
    * cross), every community in the result is internally connected by
    * construction, and min-member labels are globally unique across
    * sub-communities — so the output is a deterministic refinement of
    * the input partition.
    *
    * CC runs via [[ccAuto]], which picks its engine from the intra edge
    * count: a union-find on the driver or [[ccStarEdges]] (pointer
    * jumping, O(log n) rounds on ANY topology) — never [[ccEdges]], whose
    * O(diameter) supersteps would leave a long chain-shaped community
    * UNCONVERGED, i.e. still internally disconnected, with no error.
    *
    * Scale shape: two vertex-sized equi-joins mark intra edges (AQE
    * broadcasts the assignment when it fits), then CC runs over the
    * INTRA edge subset only (often ≪ the graph) — no pairwise work.
    *
    * Returns (id, label) for every vertex of `assignment`, checkpointed
    * and materialized; every intermediate is released. */
  def wellConnectedSplit(
      edges: DataFrame, srcCol: String, dstCol: String,
      assignment: DataFrame, idCol: String, labelCol: String): DataFrame =
      span("graph.wellConnectedSplit") {
    val asg = assignment.select(col(idCol).as("id"), col(labelCol).as("c"))
    val (labels, comp) = splitCore(edges, srcCol, dstCol, asg, asg.select("id"),
      bc = false)(ccAuto(_, "src", "dst"))
    // a checkpoint, not a persist: no later plan can reach the component
    // checkpoint released below (the refineCore output note)
    val (out, _) = snapshot(labels)
    releaseLocalCheckpoint(comp)
    out
  }

  /** The split shared by [[wellConnectedSplit]] and the ladder's chains:
    * `cc` labels the rows of `edges` whose endpoints share a community of
    * `asg` (id, c), and every id of `verts` takes its component, or
    * itself when it is in no intra-community edge. Returns those lazy
    * (id, label) rows and the component checkpoint, which the caller
    * releases once the rows are materialized. */
  private def splitCore(edges: DataFrame, srcCol: String, dstCol: String,
      asg: DataFrame, verts: DataFrame, bc: Boolean)(
      cc: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    def side(id: String, c: String) =
      stateSide(asg.select(col("id").as(id), col("c").as(c)), bc)
    val comp = cc(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .join(side("src", "cs"), "src").join(side("dst", "cd"), "dst")
      .filter(col("cs") === col("cd")))
    (verts.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("label")), comp)
  }

  /** Multi-resolution Leiden ladder: [[lpaLouvainRefineMulti]]'s γ
    * ladder with the well-connectedness split applied PER RESOLUTION —
    * the reference's full community stack (leidenalg at resolutions
    * [2.0, 0.5, 0.1] with split-refinement, neo4j_helpers.py:237-268).
    * The engine is picked from the edge count ([[lpaRefine]]): at or
    * below [[LocalMaxEdges]] the whole ladder runs on the driver
    * ([[localLadder]]), one job collecting the edges. Above it each γ
    * runs as one concurrent Catalyst chain (Concurrent.mapInParallel)
    * from its refine rounds through its split, with no barrier between
    * the γ until the final union: the split's intra edges join the
    * chain's own accepted assignment, and their row count rides the
    * refine gate (W of that assignment counts each intra-community row
    * of `edges` once per direction), so ccAuto neither persists nor
    * counts its input. Both engines equal the two-call composition
    * ([[lpaLouvainRefineMulti]], then [[wellConnectedSplit]] per γ;
    * AlgoRandomSpec).
    * `numPartitions`, when given, replaces the Catalyst engine's
    * superstep partition count sized from the edge count
    * ([[sizedLoopParts]]).
    * Returns (gamma_pct, id, label), bounded by its row count, that the
    * caller owns and releases with [[releaseLocalCheckpoint]]: the
    * Catalyst engine's one checkpoint, or the driver engine's RDD over
    * its arrays, which holds no blocks. Everything else the ladder built
    * is released. */
  def lpaLeidenRefineMulti(
      edges: DataFrame, srcCol: String, dstCol: String,
      lpaIters: Int, rounds: Int, gammaPcts: Seq[Long],
      broadcastState: Option[Boolean] = None,
      numPartitions: Option[Int] = None): DataFrame =
    leidenLadder(edges, srcCol, dstCol, lpaIters, rounds, gammaPcts,
        broadcastState, numPartitions) { (intra, rows) =>
      ccAuto(intra, "src", "dst", knownRows = Some(rows))
    }

  /** [[lpaLeidenRefineMulti]] with its connected-components call given:
    * each Catalyst chain hands `cc` its intra-community edges and their
    * row count. `localMaxEdges` replaces [[LocalMaxEdges]] in tests
    * only. */
  private[graft] def leidenLadder(
      edges: DataFrame, srcCol: String, dstCol: String,
      lpaIters: Int, rounds: Int, gammaPcts: Seq[Long],
      broadcastState: Option[Boolean], numPartitions: Option[Int],
      localMaxEdges: Long = LocalMaxEdges)(
      cc: (DataFrame, Long) => DataFrame): DataFrame =
      span("graph.lpaLeidenRefineMulti") {
    lpaRefine(edges, srcCol, dstCol, lpaIters, rounds, gammaPcts,
        broadcastState, numPartitions, localMaxEdges, split = true) {
        (start, input, src, dst) =>
      // Shared-inputs contract (Concurrent): the start state is
      // materialized by its probe; `input` by the setup's union scans
      val chains = graft.operators.Concurrent.mapInParallel(gammaPcts) { g =>
        val (asg, w) = span("graph.refineCore")(start.accept(g))
        span("graph.wellConnectedSplit") {
          val (labels, comp) = splitCore(input, src, dst, asg,
            start.verts, start.bc)(cc(_, w / 2))
          start.release(asg) // the components are materialized
          (labels.select(lit(g).as("gamma_pct"), col("id"), col("label")), comp)
        }
      }
      val (out, _) = snapshot(chains.map(_._1).reduce(_ unionByName _))
      chains.foreach(c => releaseLocalCheckpoint(c._2))
      start.release()
      out
    }
  }

  /** Leiden-style refinement: the gated Louvain local-move pass
    * ([[louvainRefine]], RB-configuration modularity at γ = gammaPct/100)
    * followed by the well-connectedness split — the two phases the
    * reference's leidenalg run applies per resolution level
    * (neo4j_helpers.py:237-268 via /root/reference). Every community in
    * the result is internally connected AND locally modularity-optimal
    * up to the split relabeling. Returns (id, label). */
  def leidenRefine(
      edges: DataFrame, srcCol: String, dstCol: String,
      assignment: DataFrame, idCol: String, labelCol: String,
      rounds: Int, broadcastState: Option[Boolean] = None,
      gammaPct: Long = 100L): DataFrame = {
    val refined = louvainRefine(edges, srcCol, dstCol, assignment, idCol,
      labelCol, rounds, broadcastState, gammaPct)
    wellConnectedSplit(edges, srcCol, dstCol, refined, "id", "label")
  }

  /** Multi-resolution form of [[louvainRefine]]: run the gated
    * local-move loop once per γ over ONE shared setup — the undirected
    * cache, degrees, m2, AND the γ-independent pieces of the starting
    * state (initial frames D_c / k_{v→c} and the (W, ΣD²) scalar pair
    * feed every resolution's gate; only the per-γ combination
    * q·m2·W − p·ΣD² differs). The reference runs its Leiden ladder at
    * resolutions [2.0, 0.5, 0.1] over one graph the same way
    * (neo4j_helpers.py:237-268 via /root/reference); re-deriving the
    * setup per γ tripled the multi-resolution query's cost. Always the
    * Catalyst engine: the caller's assignment may label with values
    * that are no vertex id.
    * Returns (gamma_pct, id, label). */
  def louvainRefineMulti(
      edges: DataFrame, srcCol: String, dstCol: String,
      assignment: DataFrame, idCol: String, labelCol: String,
      rounds: Int, gammaPcts: Seq[Long],
      broadcastState: Option[Boolean] = None): DataFrame = {
    requireRefine(rounds, gammaPcts)
    refineSetup(edges, srcCol, dstCol, broadcastState,
        numPartitions = None) { (und, deg, bc) =>
      refineCore(new RefineStart(und, deg, bc, assignment, idCol, labelCol,
        rounds), gammaPcts)
    }
  }

  /** LPA + γ-ladder refinement, on the engine the edge count picks
    * ([[lpaRefine]]): the driver's arrays at or below [[LocalMaxEdges]],
    * else ONE shared Catalyst setup — the undirected src-partitioned
    * cache, degree frame, and m2 serve BOTH the LPA supersteps and every
    * resolution's refine rounds (calling lpaEdges then
    * louvainRefineMulti separately re-shuffles the expansion and
    * re-aggregates degrees — ~2-3 s of pure rework at sf1). The
    * recurrence is identical to the two-call form: the LPA labels are
    * refined exactly as louvainRefineMulti would refine them.
    * Returns (gamma_pct, id, label), the accepted community per γ,
    * bounded by its row count; the caller releases it with
    * [[releaseLocalCheckpoint]]. */
  def lpaLouvainRefineMulti(
      edges: DataFrame, srcCol: String, dstCol: String,
      lpaIters: Int, rounds: Int, gammaPcts: Seq[Long],
      broadcastState: Option[Boolean] = None): DataFrame =
    louvainLadder(edges, srcCol, dstCol, lpaIters, rounds, gammaPcts,
      broadcastState)

  /** [[lpaLouvainRefineMulti]]; `localMaxEdges` replaces
    * [[LocalMaxEdges]] in tests only. */
  private[graft] def louvainLadder(
      edges: DataFrame, srcCol: String, dstCol: String,
      lpaIters: Int, rounds: Int, gammaPcts: Seq[Long],
      broadcastState: Option[Boolean],
      localMaxEdges: Long = LocalMaxEdges): DataFrame =
    lpaRefine(edges, srcCol, dstCol, lpaIters, rounds, gammaPcts,
        broadcastState, numPartitions = None, localMaxEdges, split = false) {
      (start, _, _, _) => refineCore(start, gammaPcts)
    }

  private def requireRefine(rounds: Int, gammaPcts: Seq[Long]): Unit = {
    require(gammaPcts.nonEmpty && gammaPcts.forall(_ >= 1),
      s"louvainRefine needs gammaPct >= 1, got $gammaPcts")
    require(rounds >= 1, s"louvainRefine needs rounds >= 1, got $rounds")
  }

  /** γ = gammaPct/100 as the reduced rational (p, q): all scoring stays
    * exact-integer; γ = 1 reduces to p = q = 1, bit-identical to the
    * γ-less gain. */
  private def gammaRational(g: Long): (Long, Long) = {
    val gcd = java.math.BigInteger.valueOf(g)
      .gcd(java.math.BigInteger.valueOf(100L)).longValueExact()
    (g / gcd, 100L / gcd)
  }

  /** The setup every Catalyst refine shares: the src-partitioned
    * undirected cache, the degree frame and the state-join decision,
    * handed to `body` and released after it. No und.count() here (r14
    * verdict item 3): the refine start's probe is und's materializer AND
    * reads m2 from the same job; the empty graph degenerates inside the
    * rounds to the identity relabel. */
  private def refineSetup[T](
      edges: DataFrame, srcCol: String, dstCol: String,
      broadcastState: Option[Boolean], numPartitions: Option[Int])(
      body: (DataFrame, DataFrame, Boolean) => T): T = {
    val (und, release) = undirectedCache(edges, srcCol, dstCol, "src", numPartitions)
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("kv"))
      .persist()
    // exact-count fallback: deg is the vertex frame and the refine reads
    // it either way — its count is the true state size the broadcast
    // decision wants (the stats bound refuses any dense graph)
    val bc = resolveBroadcastState(broadcastState, edges, deg.count())
    val out = body(und, deg, bc)
    release()
    deg.unpersist(blocking = false)
    out
  }

  /** The LPA → gated refine ladder behind [[lpaLouvainRefineMulti]] and
    * [[leidenLadder]], on the engine picked from the edge count
    * ([[withEdgeCount]]): the exact row count of an input bounded by it
    * ([[GraftSqlBridge.rowBound]]) runs no job; any other input is
    * counted once, in place when materialized.
    *
    * - The driver engine, [[localLadder]], runs at or below
    *   `localMaxEdges` edges when max(p, q)·m2² < 2⁶³ for every γ = p/q
    *   (m2 = 2·edges), so that every score and gate value is exact in a
    *   Long. With `split` it splits each γ's communities as the
    *   Catalyst `body` does.
    * - Otherwise the Catalyst engine: [[refineSetup]] over the input
    *   (a persisted projection is read in place), its partitions sized
    *   from the count unless `numPartitions` is given, plus the LPA
    *   supersteps, whose labels seed the refine start handed to `body`
    *   with the input and its column names. materializeLast = false: a
    *   single LPA block is filled by the start's probe (r14 verdict
    *   item 3), and the labels are released after `body`. */
  private def lpaRefine(
      edges: DataFrame, srcCol: String, dstCol: String,
      lpaIters: Int, rounds: Int, gammaPcts: Seq[Long],
      broadcastState: Option[Boolean], numPartitions: Option[Int],
      localMaxEdges: Long, split: Boolean)(
      body: (RefineStart, DataFrame, String, String) => DataFrame): DataFrame = {
    requireRefine(rounds, gammaPcts)
    withEdgeCount(edges, srcCol, dstCol, GraftSqlBridge.rowBound(edges).map(_.toLong),
        "graph.lpaRefine.input") { (input, src, dst, rows) =>
      val m2 = BigInt(rows) * 2
      val parts = sizedLoopParts(edges.sparkSession, m2)
      val exact = gammaPcts.forall { g =>
        val (p, q) = gammaRational(g)
        BigInt(math.max(p, q)) * m2 * m2 < (BigInt(1) << 63)
      }
      if (rows <= localMaxEdges && exact)
        localLadder(input, src, dst, lpaIters, rounds, gammaPcts, split, parts)
      else refineSetup(input, src, dst, broadcastState,
          numPartitions.orElse(Some(parts))) { (und, deg, bc) =>
        val lpa = lpaSupersteps(und, und.select(col("src").as("id")).distinct(),
          lpaIters, bc, materializeLast = false)
        val out = body(new RefineStart(und, deg, bc, lpa, "id", "label", rounds),
          input, src, dst)
        releaseState(lpa)
        out
      }
    }
  }

  /** The driver engine of [[lpaRefine]]: one job collects the edges
    * ([[LocalEdges]]), and every step runs on the driver's arrays with
    * the Catalyst engine's recurrence and tie-breaks, so the labels are
    * the same bit for bit (AlgoRandomSpec).
    *
    * 1. The undirected expansion in CSR form: each row is one entry in
    *    each direction, duplicates and self-loops kept (a self-loop
    *    counts twice); deg(v) is the length of v's row, m2 the total.
    * 2. Synchronous LPA for `lpaIters` steps from labels = ids, each
    *    taking the neighbour label by (count desc, label asc).
    * 3. Per γ = p/q, [[RefineStart.accept]]'s gated rounds: the
    *    candidates are the neighbours' communities plus the own one,
    *    score = q·m2·k_{v→c} − p·k_v·(D_c − [c = c_v]·k_v), argmax by
    *    (score desc, c asc); a round is accepted only if
    *    q·m2·W − p·ΣD² strictly rises, and the first rejected round
    *    stops. [[lpaRefine]]'s bound keeps every value exact in a Long.
    * 4. With `split`, [[LocalEdges.minRoots]] over the rows whose
    *    endpoints share the accepted community: the split's labels.
    *
    * Labels are vertex indices throughout, which order like the ids.
    * Returns (gamma_pct, id, label) as a [[driverFrame]] of |γ|·n rows
    * in `parts` partitions. */
  private def localLadder(edges: DataFrame, srcCol: String, dstCol: String,
      lpaIters: Int, rounds: Int, gammaPcts: Seq[Long], split: Boolean,
      parts: Int): DataFrame = span("graph.localLadder") {
    val g = LocalEdges.collect(edges, srcCol, dstCol)
    val (n, ends) = (g.n, g.ends)
    val off = new Array[Int](n + 1)
    ends.foreach(v => off(v + 1) += 1)
    for (v <- 0 until n) off(v + 1) += off(v)
    val adj = new Array[Int](ends.length)
    val fill = off.clone()
    for (k <- ends.indices) { adj(fill(ends(k))) = ends(k ^ 1); fill(ends(k)) += 1 }
    val m2 = ends.length.toLong
    val deg = Array.tabulate(n)(v => (off(v + 1) - off(v)).toLong)
    val buf = new Array[Int](if (n == 0) 0 else deg.max.toInt)
    // v's neighbours grouped by their `lab`, labels ascending
    def tally(v: Int, lab: Array[Int])(f: (Int, Long) => Unit): Unit = {
      val d = off(v + 1) - off(v)
      for (j <- 0 until d) buf(j) = lab(adj(off(v) + j))
      java.util.Arrays.sort(buf, 0, d)
      var j = 0
      while (j < d) {
        var e = j + 1
        while (e < d && buf(e) == buf(j)) e += 1
        f(buf(j), (e - j).toLong)
        j = e
      }
    }
    var lpa = Array.range(0, n)
    for (_ <- 1 to lpaIters) {
      val prev = lpa
      lpa = Array.tabulate(n) { v =>
        var best = -1
        var most = 0L
        // ascending labels: a strictly larger count replaces, so ties
        // keep the smallest label
        tally(v, prev) { (l, c) => if (c > most) { best = l; most = c } }
        best
      }
    }
    def dcOf(a: Array[Int]): Array[Long] = {
      val dc = new Array[Long](n)
      for (v <- 0 until n) dc(a(v)) += deg(v)
      dc
    }
    def qNum(a: Array[Int], dc: Array[Long], p: Long, q: Long): Long = {
      var w = 0L
      for (v <- 0 until n; j <- off(v) until off(v + 1) if a(adj(j)) == a(v)) w += 1
      q * m2 * w - p * dc.foldLeft(0L)((s, d) => s + d * d)
    }
    def accept(p: Long, q: Long): Array[Int] = {
      var asg = lpa
      var dc = dcOf(asg)
      var qCur = qNum(asg, dc, p, q)
      var r = 0
      var improved = true
      while (r < rounds && improved) {
        val cur = asg
        val dcCur = dc
        val moved = Array.tabulate(n) { v =>
          val (cv, kv) = (cur(v), deg(v))
          var best = -1
          var top = Long.MinValue
          var ownSeen = false
          def offer(c: Int, kvc: Long): Unit = {
            val s = q * m2 * kvc - p * kv * (dcCur(c) - (if (c == cv) kv else 0L))
            if (s > top || (s == top && c < best)) { best = c; top = s }
          }
          tally(v, cur) { (c, kvc) => if (c == cv) ownSeen = true; offer(c, kvc) }
          if (!ownSeen) offer(cv, 0L)
          best
        }
        val dcMoved = dcOf(moved)
        val qNew = qNum(moved, dcMoved, p, q)
        if (qNew > qCur) { asg = moved; dc = dcMoved; qCur = qNew }
        else improved = false
        r += 1
      }
      asg
    }
    val labels = gammaPcts.map { gamma =>
      val (p, q) = gammaRational(gamma)
      val asg = accept(p, q)
      val lab = if (split) g.minRoots(k => asg(ends(2 * k)) == asg(ends(2 * k + 1))) else asg
      lab.map(g.ids(_))
    }
    driverFrame(edges.sparkSession, Seq("gamma_pct", "id", "label"),
      Seq(gammaPcts.flatMap(Array.fill(n)(_)).toArray,
        Array.concat(gammaPcts.map(_ => g.ids): _*), Array.concat(labels: _*)),
      parts)
  }

  /** The per-γ gated rounds of every [[RefineStart]] in `gammaPcts`, run
    * concurrently, relabeled over the start's assignment and unioned.
    * Returns (gamma_pct, id, label) checkpointed, materialized and
    * bounded by its row count; releases the start. */
  private def refineCore(start: RefineStart, gammaPcts: Seq[Long]): DataFrame =
      span("graph.refineCore") {
    // The γ loops run CONCURRENTLY (round 14): each is driver-gated — a
    // checkpoint registration + a scalar probe per round — so in sequence
    // they serialize end to end while sharing only the materialized
    // start. NEGATIVE RESULT (round 15): a FUSED design, all γ in one
    // tagged frame with one probe per lockstep round, cut q147's gates
    // 27 → 18 but ran 1.4–1.7× SLOWER at local[32]: one AQE execution
    // re-plans its ~3× stages in series on the driver. Don't re-try it
    // without a fix for AQE's single-threaded re-optimization loop.
    val finals = graft.operators.Concurrent.mapInParallel(gammaPcts) { g =>
      g -> start.accept(g)._1
    }
    // localCheckpoint, NOT persist (round 16, the AQE-off A/B): a
    // consumer re-plan that bypasses a persisted union's cache walks into
    // the per-γ checkpoints released below
    // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND); a LogicalRDD root reaches no γ
    // frame. GraphSpec re-reads the ladder output with AQE on and off.
    val (out, _) = snapshot(finals.map { case (g, asg) => start.relabel(g, asg) }
      .reduce(_ unionByName _))
    finals.foreach(f => start.release(f._2))
    start.release()
    out
  }

  /** The γ-independent start of the gated local-move rounds over a
    * caller-owned setup (`und` src-partitioned and persisted, `deg`
    * persisted): the edge-incident assignment asg0, its frames and the
    * initial probe, which materializes all three — the shared inputs the
    * concurrent per-γ [[accept]] calls need (Concurrent's contract). */
  private final class RefineStart(und: DataFrame, deg: DataFrame, val bc: Boolean,
      assignment: DataFrame, idCol: String, labelCol: String, rounds: Int) {
    private val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // The state is referenced ~7× per round (gate ×2, D_c, k, candidate
    // union, score join ×2): localCheckpoint, not persist, or the nested
    // per-round plan STRINGS grow geometrically (the HITS 8 GB-driver
    // lesson; persisted-only, round 6 measured a 2.5 MB truncated plan
    // at just rounds = 2).
    // LAZY checkpoints here: the wd2/qNum probe job that follows each
    // frame anyway is its materializer, so lineage truncation costs no
    // extra job (eager would add one full pass per round per γ)
    private val asg0 = assignment
      .select(col(idCol).as("id"), col(labelCol).as("c"))
      .join(deg.select("id"), "id") // edge-incident vertices only
      .localCheckpoint(eager = false)
    /** The assignment's vertices, as (id). */
    val verts: DataFrame = assignment.select(col(idCol).as("id"))

    // Per-assignment frames (k_{v→c} and D_c) serve DOUBLE duty: they
    // drive the move scores of the round AND yield that assignment's own
    // Q_num without touching the edge list again (W = Σ_v k_{v→c_v},
    // Σ D_c² from dC — k is counted against the same labels). So each
    // round costs exactly ONE pass over the edges (the k aggregation,
    // the exchange-free LPA message kernel); the gate for `moved` is
    // evaluated by building the NEXT round's frames on it, which the
    // accepted path then reuses. (The first cut re-counted W via an
    // edges⋈asg⋈asg pass per gate — 2 edge passes/round, measured ~6.2 s
    // for q126 at sf0.1.)
    private def frames(a: DataFrame): (DataFrame, DataFrame) = {
      val dC = a.join(deg, "id").groupBy("c").agg(sum(col("kv")).as("dc"))
        .persist()
      val k = und
        .join(stateSide(a.select(col("id").as("dst"), col("c")),
          bc), "dst")
        .groupBy(col("src").as("id"), col("c"))
        .agg(count(lit(1)).as("kvc"))
        .persist()
      (dC, k)
    }
    // one scalar job: the 1-row W and ΣD² aggs cross-joined (plus m2 on
    // the initial probe); every γ combines them as q·m2·W − p·ΣD². ΣD²
    // sums in DECIMAL(38,0): a long dc·dc wraps past ~1.5e9 edges, and
    // the exact decimal is bit-identical to the long path in range
    // (round-10 overflow audit). The state side is hinted: unhinted, the
    // probe re-shuffled the edge-bounded k (~59M rows at sf10) per round.
    private def wd2Of(a: DataFrame, dC: DataFrame, k: DataFrame,
        withM2: Boolean = false): Row = {
      val wd2 = k.join(stateSide(a.withColumnRenamed("c", "cv"), bc), "id")
        .filter(col("c") === col("cv"))
        .agg(coalesce(sum(col("kvc")), lit(0L)).as("w"))
        .crossJoin(
          dC.agg(coalesce(sum(col("dc").cast(dec) * col("dc")),
            lit(0L).cast(dec)).as("d2")))
      (if (!withM2) wd2 else wd2.crossJoin(
        deg.agg(coalesce(sum(col("kv")), lit(0L)).as("m2")))).head()
    }
    private val (dC0, k0) = frames(asg0)
    // The initial probe ALSO yields m2 = Σ_v k_v = 2|E| — no separate
    // und.count() gate (r14 verdict item 3). It sums DEG, not dC0 (r15
    // ADVICE): under a PARTIAL assignment Σ dc < 2|E| would silently
    // rescale every γ·m2-weighted score; for total assignments the sums
    // are equal. An empty graph gives m2 = 0, and every per-γ loop
    // degenerates to the identity relabel.
    private val probe0 = span("graph.refineCore")(wd2Of(asg0, dC0, k0, withM2 = true))
    private val m2 = probe0.getLong(2)

    /** γ's gated rounds from the shared start. Returns the accepted
      * assignment (id, c) — a materialized checkpoint, the shared asg0
      * when no round is accepted — and its W, which counts every
      * intra-community row of the edges once per direction. Every other
      * frame the rounds made is released. */
    def accept(g: Long): (DataFrame, Long) = {
      val (gp, gq) = gammaRational(g)
      // driver-side gate in BigInt: gq·m2·W is ~m2² at worst — wraps a
      // Scala Long at the same ~1.5e9-edge scale wd2Of's note describes
      def qNum(p: Row) = BigInt(gq) * BigInt(m2) * BigInt(p.getLong(0)) -
        BigInt(gp) * BigInt(p.getDecimal(1).toBigInteger)
      var asg = asg0; var dC = dC0; var k = k0; var w = probe0.getLong(0)
      var qCur = qNum(probe0)
      var r = 0
      var improved = true
      // the in-plan move score holds the same products: kvc/kv/dc are
      // cast to DECIMAL(38,0) so gq·m2·kvc and gp·kv·dc stay exact at
      // any graph size (in range they equal the long math bit-for-bit,
      // so the argmax — and every oracle — is unchanged); gq·m2 itself
      // is a BigDecimal literal, immune to the Scala-side wrap
      val gqm2 = lit(new java.math.BigDecimal(
        (BigInt(gq) * BigInt(m2)).bigInteger)).cast(dec)
      while (r < rounds && improved) span("graph.refineCore.round") {
        // own community is always a candidate (kvc = 0 when v has no
        // intra-community neighbor); max() folds the duplicate away
        val cand = k.unionByName(asg.select(col("id"), col("c"),
            lit(0L).as("kvc")))
          .groupBy("id", "c").agg(max(col("kvc")).as("kvc"))
        val moved = cand
          // asg and deg are vertex-sized — hinted, the candidate frame
          // (edge-bounded) streams through both joins without an exchange
          .join(stateSide(asg.select(col("id"), col("c").as("cv")), bc), "id")
          .join(stateSide(deg, bc), "id")
          .join(stateSide(dC, bc), "c")
          .select(col("id"), col("c"),
            (gqm2 * col("kvc").cast(dec) - lit(gp) * col("kv").cast(dec) *
              (col("dc") - when(col("c") === col("cv"), col("kv"))
                .otherwise(lit(0L)))).as("score"))
          .groupBy("id")
          .agg(max(struct(col("score"), (-col("c")).as("nc"))).as("best"))
          .select(col("id"), (-col("best.nc")).as("c"))
          .localCheckpoint(eager = false) // materialized by the wd2 probe
        val (dC2, k2) = frames(moved)
        val p = wd2Of(moved, dC2, k2)
        val qNew = qNum(p)
        if (qNew > qCur) {
          if (asg ne asg0) {
            releaseLocalCheckpoint(asg)
            dC.unpersist(blocking = false)
            k.unpersist(blocking = false)
          }
          asg = moved; dC = dC2; k = k2; w = p.getLong(0)
          qCur = qNew
        } else {
          releaseLocalCheckpoint(moved)
          dC2.unpersist(blocking = false)
          k2.unpersist(blocking = false)
          improved = false
        }
        r += 1
      }
      if (asg ne asg0) {
        dC.unpersist(blocking = false)
        k.unpersist(blocking = false)
      }
      (asg, w)
    }

    /** (gamma_pct, id, label) for every vertex of the assignment: the
      * accepted community, or the input label off the edges. */
    def relabel(g: Long, asg: DataFrame): DataFrame =
      assignment
        .select(col(idCol).as("id"), col(labelCol).as("label"))
        .join(asg.select(col("id"), col("c")), Seq("id"), "left")
        .select(lit(g).as("gamma_pct"), col("id"),
          coalesce(col("c"), col("label")).as("label"))

    /** Releases an accepted assignment unless it is the shared start. */
    def release(asg: DataFrame): Unit =
      if (asg ne asg0) releaseLocalCheckpoint(asg)

    /** Releases the shared start. */
    def release(): Unit = {
      releaseLocalCheckpoint(asg0)
      dC0.unpersist(blocking = false)
      k0.unpersist(blocking = false)
    }
  }

  /** Newman modularity of a community assignment, per community, in EXACT
    * integer arithmetic: for the undirected expansion (m2 = 2m directed
    * rows), contribution_c = E2_c/m2 − (D_c/m2)² with E2_c = directed
    * within-community edge count and D_c = community degree sum. The
    * integer numerator q_num_c = E2_c·m2 − D_c² is exact (the double
    * `contrib` is its exactly-rounded IEEE quotient by m2² — the quality
    * score for any community detector's output, the evaluation step the
    * reference's Leiden pipeline leaves implicit in leidenalg).
    *
    * Scale: two assignment equi-joins over the edge list + two hash
    * aggs; D_c ≤ m2 so q_num needs |m2²| < 2⁶³ — exact to ~3e9-edge
    * graphs, beyond that cast the products to decimal(38,0). */
  def modularityOf(
      edges: DataFrame, srcCol: String, dstCol: String,
      assignment: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val asg = assignment.select(col(idCol).as("v"), col(labelCol).as("c"))
    val lab = und
      .join(asg.select(col("v").as("src"), col("c").as("sc")), "src")
      .join(asg.select(col("v").as("dst"), col("c").as("dc")), "dst")
      .persist()
    val m2df = lab.agg(count(lit(1)).as("m2"))
    val within = lab.filter(col("sc") === col("dc"))
      .groupBy(col("sc").as("community")).agg(count(lit(1)).as("e_within"))
    val degSum = lab.groupBy(col("sc").as("community"))
      .agg(count(lit(1)).as("deg_sum"))
    // q_num = e_within·m2 − deg_sum² computed in DECIMAL(38,0): the long
    // form wraps once deg_sum exceeds ~3e9 (≈1.5e9 edges) — the 100 TB
    // overflow audit's trap class. In range the decimal equals the long
    // math exactly, so the q109 oracle is untouched; q_num is exposed as
    // BIGINT for the oracle via a guarded cast (raise_error, LOUD — the
    // plain cast would silently null past ±2^63), while contrib divides
    // the exact decimal by a double m2² (m2 < 2^53 is exact; beyond,
    // double is the right approximation for a 9-digit-rounded ratio).
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val qnumDec = coalesce(col("e_within"), lit(0L)).cast(dec38) * col("m2") -
      col("deg_sum").cast(dec38) * col("deg_sum")
    val out = degSum.join(within, Seq("community"), "left")
      .crossJoin(broadcast(m2df))
      .select(col("community"),
        coalesce(col("e_within"), lit(0L)).as("e_within"),
        col("deg_sum"),
        when(qnumDec.between(lit(Long.MinValue).cast(dec38),
            lit(Long.MaxValue).cast(dec38)), qnumDec.cast("long"))
          .otherwise(raise_error(concat(
            lit("modularityOf: q_num exceeds BIGINT at this scale; " +
              "read contrib (exact decimal -> double) instead: "),
            qnumDec.cast("string")))).as("q_num"),
        // + 0.0 normalizes IEEE negative zero: a tiny negative quotient
        // rounds to -0.0, whose rendering differs across engines
        (round(qnumDec.cast("double") /
          (col("m2").cast("double") * col("m2").cast("double")), 9)
          + lit(0.0)).as("contrib"))
    val persisted = out.persist()
    persisted.count()
    lab.unpersist(blocking = false)
    persisted
  }

  /** Multi-source BFS: minimum hop distance to ANY of a set of landmark
    * vertices, plus WHICH landmark (nearest-landmark partition — ties at
    * equal distance break to the smallest landmark id, a total order).
    * The GraphRAG "distance to anchor entities" primitive generalizing
    * [[bfsLevels]]; same frontier-expansion shape — per hop one edge⋈
    * frontier equi-join, a (dst → min landmark) hash agg, and an
    * anti-join against the visited set, so per-hop work tracks the
    * frontier's edge neighborhood, not the whole graph. */
  def multiSourceBfs(
      edges: DataFrame, srcCol: String, dstCol: String,
      anchors: DataFrame, maxHops: Int,
      broadcastState: Option[Boolean] = None): DataFrame =
    frontierBfs(edges, srcCol, dstCol,
        anchors.select(col(anchors.columns.head).as("id")).distinct()
          .select(col("id"), col("id").as("landmark")),
        maxHops, broadcastState)(
      _.groupBy(col("dst").as("id")).agg(min(col("landmark")).as("landmark")))

  /** G5 multi-hop as edge-DataFrame self-joins — anchor → 1-hop mids →
    * 2-hop neighbors with path counts. Stays hash-joinable (two shuffles
    * on the edge keys) instead of a Pregel BFS; the right shape when the
    * hop count is a small constant. */
  def twoHop(edges: DataFrame, srcCol: String, dstCol: String, anchor: Long): DataFrame = {
    val hop1 = edges.filter(col(srcCol) === anchor).select(col(dstCol).as("mid"))
    edges.join(hop1, edges(dstCol) === col("mid"))
      .filter(col(srcCol) =!= anchor)
      .groupBy(col(srcCol).as("neighbor"))
      .agg(countDistinct(col("mid")).as("n_paths"))
  }

  /** Per-vertex triangle counts via degree-ordered edge orientation — the
    * node-iterator++ / Cohen MapReduce form. Each undirected edge is kept
    * only in its (degree, id)-ascending direction, so every triangle is
    * enumerated exactly once from its lowest-order corner and the wedge
    * self-join fans out over out-degrees, which the orientation bounds by
    * O(√m) — THE property that makes distributed triangle counting
    * feasible on skewed (power-law) graphs, where an id-ordered
    * orientation would pile all wedges of a hub onto one key. All joins
    * are equi-joins (wedge build on the corner, closure probe on the
    * (x, y) pair); no driver collect. Input may contain duplicate edges,
    * self-loops, or either direction — canonicalized away first. Returns
    * (id, n_triangles) for every vertex incident to ≥1 edge (isolated
    * vertices are the caller's left join). */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
              greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val und = canon.union(canon.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    val dirE = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("v"), col("db").as("dv"))
    // wedge (x, y) canonicalized by the SAME (degree, id) order the
    // orientation uses, so the closing edge — if present — is x→y in dirE
    val w1 = dirE.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val w2 = dirE.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val tris = w1.join(w2, "u")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .join(dirE.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    val corners = tris.select(col("u").as("v"))
      .union(tris.select(col("x").as("v")))
      .union(tris.select(col("y").as("v")))
    val counts = corners.groupBy("v").agg(count(lit(1)).as("n_triangles"))
    deg.select(col("v")).join(counts, Seq("v"), "left")
      .select(col("v").as("id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Local clustering coefficient per vertex:
    * lcc(v) = 2·T(v) / (d(v)·(d(v)−1)) for d(v) ≥ 2, else 0 — how close
    * a vertex's neighborhood is to a clique (the community-cohesion /
    * hub-vs-bridge diagnostic; Watts–Strogatz). Triangles come from the
    * degree-ordered oriented enumeration ([[triangleCounts]], O(√m)
    * wedge fan-out); degrees are DISTINCT-neighbor counts over the same
    * canonical edge set, so numerator and denominator agree on
    * multigraph inputs. The quotient is one exact-integer double
    * division (2·T < 2⁵³), bit-identical across engines; rounded to 6
    * digits for the cross-engine hash gate (the tfidf convention).
    *
    * Returns (id, degree, n_triangles, lcc) for every vertex of the
    * edge set. Scale/plan shape: fully LAZY, exactly like
    * [[triangleCounts]] — the canonical distinct set is re-derived per
    * consumer and the whole thing runs as ONE AQE-planned job. (Negative
    * result, measured round 5 at sf0.1 on the q115 similarity graph:
    * persisting the canonical set and materializing it first was 15×
    * SLOWER — 10.3s vs 0.7s — the InMemoryRelation's stats pushed AQE
    * off the broadcast plan for the wedge-closing join that the lazy
    * runtime stats pick naturally. Callers with a genuinely expensive
    * edge derivation should persist the EDGE input themselves.) */
  def clusteringCoefficients(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
              greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = canon.select(col("a").as("v")).union(canon.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
    val tc = triangleCounts(canon, "a", "b")
    deg
      .join(tc.select(col("id").as("v"), col("n_triangles")), Seq("v"), "left")
      .select(col("v").as("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - lit(1))), 6))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** k-core membership by `rounds` peeling rounds: repeatedly drop
    * vertices whose degree in the survivor-induced subgraph is < k — the
    * density-core extraction (community nuclei, spam-farm detection). A
    * fixed round budget makes the operator a pure function of its input
    * (the oracle unrolls the same rounds); cascades longer than `rounds`
    * keep extra vertices, exactly as a bounded-superstep Pregel would —
    * raise `rounds` for deeper cascades (graph-diameter-bounded).
    *
    * Returns (id, in_core, core_deg) for every vertex of the input edge
    * set; core_deg is the final survivor-induced degree (null for peeled
    * vertices), as a checkpoint bounded by its row count that the caller
    * releases with [[releaseLocalCheckpoint]]. Scale: per round two
    * semi-join-shaped equi-joins of the cached undirected edge list
    * against the shrinking survivor set and one hash-agg degree count —
    * work is proportional to surviving edges, the standard distributed
    * peeling shape. */
  def kCorePeel(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int,
      broadcastState: Option[Boolean] = None): DataFrame = {
    // canonical distinct set expanded and LOCALLY CHECKPOINTED: the
    // peeling rounds re-reference the edge list ~2× per round, and a
    // checkpoint materializes the (possibly expensive — q102's cosine
    // all-pairs) derivation exactly once WITHOUT an InMemoryRelation in
    // the plan — a plain persist's IMR stats pushed AQE off the
    // broadcast plans here (measured round 5: 8.8s persist / 4.5s fully
    // lazy / 2.0s checkpoint at sf0.1). The vertex-sized survivor set is
    // broadcast (hinted) into both semi-joins.
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
              greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val und = canon.union(canon.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("src"), col("b").as("dst"))
      .localCheckpoint()
    val allV = und.select(col("src").as("id")).distinct()
    // survivor state ≤ the vertex count; the distinct-count fallback runs
    // only when the stats bound refuses (one agg over the checkpoint).
    // stateCopies = 6: 3-round blocks × 2 survivor joins per round can
    // hold six broadcasts live in one job
    val bc = resolveBroadcastState(broadcastState, edges, allV.count(),
      stateCopies = 6)
    def peel(deg: DataFrame) = deg.filter(col("d") >= k).select("id")
    // the degree of each survivor in the survivor-induced subgraph
    def degIn(surv: DataFrame) = und
      .join(stateSide(surv.select(col("id").as("src")), bc), "src")
      .join(stateSide(surv.select(col("id").as("dst")), bc), "dst")
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    // round 1 peels by the plain degree. Each later round references the
    // previous survivor frame twice (src + dst joins), so the lazy plan
    // doubles per round — but every branch is cheap joins over the
    // checkpointed canonical set, so a block of 3 rounds runs as ONE job
    // (measured 5.8s → ~2s for q102). The output job fills a
    // first-and-final block.
    val surv = if (rounds == 0) allV else supersteps(
        peel(und.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))),
        rounds - 1, 3, materializeLast = false)(s => peel(degIn(s)))
    val (out, _) = snapshot(allV
      .join(surv.select(col("id"), lit(true).as("in_core")), Seq("id"), "left")
      .join(degIn(surv), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("in_core"), lit(false)).as("in_core"),
        when(coalesce(col("in_core"), lit(false)), coalesce(col("d"), lit(0L)))
          .as("core_deg")))
    if (rounds > 0) releaseState(surv)
    releaseLocalCheckpoint(und)
    out
  }
}
