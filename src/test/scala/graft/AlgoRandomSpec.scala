package graft

import java.sql.Timestamp

import graft.graph.GraphOps
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

import scala.util.Random

/** Randomized cross-validation of the iterative algorithms against
  * brute-force in-memory references (seeded, 3 cases each). */
class AlgoRandomSpec extends SparkSpec {
  import spark.implicits._

  test("sessionizeBatch equals brute force over random event streams") {
    for (seed <- Seq(3, 17, 77)) {
      val rnd = new Random(seed)
      val events = (1 to 120).map { i =>
        val us = rnd.nextInt(5000) * 1000000L // 0..5000s in whole seconds
        (i.toLong, new Timestamp(us / 1000), rnd.nextInt(4).toLong)
      }
      val df = events.toDF("event_id", "ts", "user_id")
      val got = EventStreams.sessionizeBatch(df, gapSec = 300)
        .select("user_id", "session_id", "n_events", "start_us", "end_us")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      // brute force: per user, sort by (us, event_id), split on gap > 300s
      val want = events
        .map { case (id, ts, u) => (u, ts.getTime * 1000L, id) }
        .groupBy(_._1).flatMap { case (u, evs) =>
          val sorted = evs.map(e => (e._2, e._3)).sorted
          val sessions = sorted.foldLeft(Vector.empty[Vector[(Long, Long)]]) {
            case (acc, e) =>
              if (acc.isEmpty || e._1 - acc.last.last._1 > 300000000L) acc :+ Vector(e)
              else acc.init :+ (acc.last :+ e)
          }
          sessions.zipWithIndex.map { case (s, i) =>
            (u, (i + 1).toLong, s.length.toLong, s.head._1, s.last._1)
          }
        }.toSet
      assert(got == want, s"sessionize mismatch for seed $seed")
    }
  }

  test("ccEdges equals union-find over random graphs") {
    for (seed <- Seq(5, 23, 101)) {
      val rnd = new Random(seed)
      val n = 30
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = GraphOps.ccEdges(edges.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long)].collect().toMap
      // brute force union-find with min-label normalization
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = verts.map(v => v -> find(v)).toMap
      // normalize both to min-member labels per component
      def normalize(m: Map[Long, Long]): Map[Long, Long] = {
        val minOf = m.groupBy(_._2).map { case (c, kv) => c -> kv.keys.min }
        m.map { case (v, c) => v -> minOf(c) }
      }
      assert(normalize(got) == normalize(want), s"cc mismatch for seed $seed")
    }
  }

  test("pageRankFixedPoint equals a scalar reference implementation on random graphs") {
    for (seed <- Seq(7, 41, 91)) {
      val rnd = new Random(seed)
      val n = 20
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val iters = 4
      val scale = 1000000L
      val got = GraphOps.pageRankFixedPoint(
          edges.toDF("src", "dst"), "src", "dst", iters, scale = scale)
        .as[(Long, Long)].collect().toMap
      // scalar reference: same integer recurrence, single-threaded
      val und = edges ++ edges.map(_.swap)
      val deg = und.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      val unit = scale / deg.size
      val base = (15L * unit) / 100L
      var pr = deg.keys.map(_ -> unit).toMap
      for (_ <- 1 to iters) {
        val share = pr.map { case (v, p) => v -> p / deg(v) }
        val in = und.groupBy(_._2).map { case (v, es) =>
          v -> es.map(e => share(e._1)).sum
        }
        pr = deg.keys.map(v => v -> (base + (85L * in.getOrElse(v, 0L)) / 100L)).toMap
      }
      assert(got == pr, s"pagerank mismatch for seed $seed")
    }
  }

  test("weightedPageRank equals a scalar weighted replay on random graphs") {
    for (seed <- Seq(23, 67, 101)) {
      val rnd = new Random(seed)
      val n = 20
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
        .map { case (a, b) => (a, b, (rnd.nextInt(9) + 1).toLong) }
      val iters = 4
      val scale = 1000000L
      val got = GraphOps.weightedPageRankFixedPoint(
          edges.toDF("src", "dst", "w"), "src", "dst", "w", iters, scale = scale)
        .as[(Long, Long)].collect().toMap
      // scalar reference: same integer recurrence, single-threaded
      val und = edges ++ edges.map { case (a, b, w) => (b, a, w) }
      val wdeg = und.groupBy(_._1).map { case (v, es) => v -> es.map(_._3).sum }
      val unit = scale / wdeg.size
      val base = (15L * unit) / 100L
      var pr = wdeg.keys.map(_ -> unit).toMap
      for (_ <- 1 to iters) {
        val in = und.groupBy(_._2).map { case (v, es) =>
          v -> es.map { case (u, _, w) => (pr(u) * w) / wdeg(u) }.sum
        }
        pr = wdeg.keys.map(v => v -> (base + (85L * in.getOrElse(v, 0L)) / 100L)).toMap
      }
      assert(got == pr, s"weighted pagerank mismatch for seed $seed")
    }
  }

  test("personalizedPageRank equals a scalar anchored replay on random graphs") {
    for (seed <- Seq(19, 53, 113)) {
      val rnd = new Random(seed)
      val n = 20
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val iters = 4
      val scale = 1000000L
      val anchorId = edges.map(_._1).min
      val got = GraphOps.personalizedPageRankFixedPoint(
          edges.toDF("src", "dst"), "src", "dst",
          Seq(anchorId).toDF("id"), iters, scale = scale)
        .as[(Long, Long)].collect().toMap
      val und = edges ++ edges.map(_.swap)
      val deg = und.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      val base = (15L * scale) / 100L
      var pr = deg.keys.map(v => v -> (if (v == anchorId) scale else 0L)).toMap
      for (_ <- 1 to iters) {
        val share = pr.map { case (v, p) => v -> p / deg(v) }
        val in = und.groupBy(_._2).map { case (v, es) =>
          v -> es.map(e => share(e._1)).sum
        }
        pr = deg.keys.map(v => v ->
          ((if (v == anchorId) base else 0L) + (85L * in.getOrElse(v, 0L)) / 100L)).toMap
      }
      assert(got == pr, s"personalized pagerank mismatch for seed $seed")
      // teleport mass concentrates at the anchor: it outranks the median
      val ranks = got.values.toSeq.sorted
      assert(got(anchorId) >= ranks(ranks.size / 2))
    }
  }

  test("bfsLevels equals scalar BFS on random graphs") {
    for (seed <- Seq(11, 59, 131)) {
      val rnd = new Random(seed)
      val n = 25
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val anchorId = edges.map(_._1).min
      val maxHops = 3
      val got = GraphOps.bfsLevels(
          edges.toDF("src", "dst"), "src", "dst",
          Seq(anchorId).toDF("id"), maxHops)
        .as[(Long, Int)].collect().toMap
      // scalar BFS over the undirected adjacency
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (v, es) => v -> es.map(_._2).toSet }
      var level = Map(anchorId -> 0)
      var frontier = Set(anchorId)
      for (h <- 1 to maxHops) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- level.keySet
        level = level ++ next.map(_ -> h)
        frontier = next
      }
      assert(got == level, s"bfs mismatch for seed $seed")
    }
  }

  test("lpaEdges equals a scalar superstep replay on random graphs") {
    for (seed <- Seq(13, 47, 97)) {
      val rnd = new Random(seed)
      val n = 18
      val edges = Seq.fill(26)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val iters = 3
      val got = GraphOps.lpaEdges(edges.toDF("src", "dst"), "src", "dst", iters)
        .as[(Long, Long)].collect().toMap
      // scalar replay: per superstep count neighbor labels over the
      // undirected multi-edge expansion, argmax by (count desc, label asc)
      val und = edges ++ edges.map(_.swap)
      var labels = und.map(_._1).distinct.map(v => v -> v).toMap
      for (_ <- 1 to iters) {
        labels = und.groupBy(_._1).map { case (v, es) =>
          val counts = es.map(e => labels(e._2)).groupBy(identity)
            .map { case (l, ls) => l -> ls.size }
          v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
      assert(got == labels, s"lpa mismatch for seed $seed")
    }
  }

  test("temperatureThresholds equals scalar sqrt-rebalancing math on random mixtures") {
    for (seed <- Seq(19, 61, 113)) {
      val rnd = new Random(seed)
      val strata = Seq("a", "b", "c", "d").take(2 + rnd.nextInt(3))
      val rows = strata.zipWithIndex.flatMap { case (s, i) =>
        (1 to (10 + rnd.nextInt(200))).map(j => ((i * 1000 + j).toLong, s))
      }
      val got = graft.dedup.Dedup.temperatureThresholds(rows.toDF("id", "lang"), "lang")
        .as[(String, Long, Int)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
      val counts = rows.groupBy(_._2).map { case (s, r) => s -> r.size.toLong }
      val total = counts.values.sum.toDouble
      val qs = counts.map { case (s, c) => s -> math.sqrt(c / total) }
      val ratio = counts.map { case (s, c) => s -> c.toDouble / qs(s) }
      val cmin = ratio.values.min
      val want = counts.map { case (s, c) =>
        s -> ((c, if (ratio(s) == cmin) 256
                  else math.floor(cmin * qs(s) / c * 256).toInt))
      }
      assert(got == want, s"threshold mismatch for seed $seed")
    }
  }

  test("decontaminateNgrams equals scalar shingle intersection on random corpora") {
    val vocab = Vector("ape", "bat", "cat", "dog", "elk", "fox", "gnu", "hen")
    for (seed <- Seq(29, 71, 127)) {
      val rnd = new Random(seed)
      val docs = (1L to 12L).map { id =>
        val words = Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
        (id, words.mkString(" "))
      }
      val nGram = 4
      val got = graft.dedup.Dedup.decontaminateNgrams(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          isTest = col("doc_id") % 3 === 0, n = nGram)
        .as[(Long, Long, Boolean)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      def shingles(t: String): Set[String] = {
        val toks = t.split(" ").toSeq
        if (toks.size < nGram) Set.empty
        else (0 to (toks.size - nGram)).map(i => toks.slice(i, i + nGram).mkString(" ")).toSet
      }
      val testGrams = docs.filter(_._1 % 3 == 0).flatMap(d => shingles(d._2)).toSet
      val want = docs.map { case (id, t) =>
        val shared = (shingles(t) & testGrams).size.toLong
        id -> ((shared, shared > 0))
      }.toMap
      assert(got == want, s"decontamination mismatch for seed $seed")
    }
  }

  test("kCorePeel equals scalar peeling on random graphs") {
    for (seed <- Seq(11, 43, 97)) {
      val rnd = new Random(seed)
      val n = 25
      val edges = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val (k, rounds) = (3, 5)
      val got = GraphOps.kCorePeel(edges.toDF("src", "dst"), "src", "dst", k, rounds)
        .as[(Long, Boolean, Option[Long])].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      // scalar replay: adjacency over distinct canonical pairs
      val canon = edges.map { case (a, b) => (a min b, a max b) }.distinct
      val verts = canon.flatMap(e => Seq(e._1, e._2)).distinct
      def degrees(s: Set[Long]): Map[Long, Long] =
        canon.filter(e => s(e._1) && s(e._2))
          .flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (v, l) => v -> l.size.toLong }
      var surv = verts.toSet
      var deg = verts.map(v => v ->
        canon.count(e => e._1 == v || e._2 == v).toLong).toMap
      for (_ <- 1 to rounds) {
        surv = surv.filter(v => deg.getOrElse(v, 0L) >= k)
        deg = degrees(surv)
      }
      val want = verts.map { v =>
        v -> ((surv(v), if (surv(v)) Some(deg.getOrElse(v, 0L)) else None))
      }.toMap
      assert(got == want, s"kCore mismatch for seed $seed")
    }
  }

  test("kmeans equals a scalar Lloyd replay on random vectors") {
    for (seed <- Seq(7, 31, 83)) {
      val rnd = new Random(seed)
      val dims = 6
      val vecs = (1L to 40L).map(i =>
        (i, Array.fill(dims)((rnd.nextDouble() * 4 - 2).toFloat)))
      val (k, iters) = (4, 3)
      val got = graft.vector.Clustering.kmeans(
          vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", k, iters)
        .as[(Long, Long)].collect().toMap
      // scalar replay with the exact same quantization / fold / tie-break
      def quant(x: Float): Long =
        BigDecimal.valueOf(x.toDouble * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val q = vecs.map { case (id, v) => id -> v.map(quant) }.toMap
      def d2(x: Array[Double], c: Array[Double]): Double =
        x.indices.foldLeft(0.0)((a, i) => a + (x(i) - c(i)) * (x(i) - c(i)))
      def assign(cent: Seq[(Long, Array[Double])]): Map[Long, Long] =
        q.map { case (id, x) =>
          id -> cent.map { case (cid, cv) => (d2(x.map(_.toDouble), cv), cid) }
            .min._2
        }
      var cent: Seq[(Long, Array[Double])] = vecs.sortBy(_._1).take(k)
        .map { case (id, _) => id -> q(id).map(_.toDouble) }
      for (_ <- 1 until iters) {
        val asg = assign(cent)
        cent = asg.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, members) =>
          val xs = members.keys.toSeq.map(q)
          val ndim = xs.head.length
          cid -> Array.tabulate(ndim)(d =>
            xs.map(_(d)).sum.toDouble / xs.size)
        }
      }
      assert(assign(cent) == got, s"kmeans mismatch for seed $seed")
    }
  }

  test("scd2 equals a scalar run-collapse on random event logs") {
    for (seed <- Seq(13, 59, 103)) {
      val rnd = new Random(seed)
      val events = (1L to 80L).map { id =>
        (rnd.nextInt(4).toLong, Seq("a", "b", "c")(rnd.nextInt(3)),
          new Timestamp(rnd.nextInt(1000) * 1000L), id)
      }
      val got = graft.operators.Relational.scd2(
          events.toDF("k", "attr", "ts", "eid"), "k", "attr", "ts", "eid")
        .as[(Long, Int, String, Long, Option[Long], Long)].collect().toSet
      val want = events.groupBy(_._1).flatMap { case (key, evs) =>
        val sorted = evs.map(e => (e._3.getTime * 1000L, e._4, e._2)).sorted
        val runs = sorted.foldLeft(Vector.empty[Vector[(Long, Long, String)]]) {
          case (acc, e) =>
            if (acc.isEmpty || acc.last.last._3 != e._3) acc :+ Vector(e)
            else acc.init :+ (acc.last :+ e)
        }
        runs.zipWithIndex.map { case (run, i) =>
          val to = if (i + 1 < runs.size) Some(runs(i + 1).head._1) else None
          (key, i + 1, run.head._3, run.head._1, to, run.size.toLong)
        }
      }.toSet
      assert(got == want, s"scd2 mismatch for seed $seed")
    }
  }

  test("hitsFixedPoint equals a scalar sum-normalized replay on random graphs") {
    for (seed <- Seq(11, 47, 97)) {
      val rnd = new Random(seed)
      val n = 20
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val iters = 3
      val scale = 1000000L
      val got = GraphOps.hitsFixedPoint(
          edges.toDF("src", "dst"), "src", "dst", iters, scale = scale)
        .as[(Long, Option[Long], Option[Long])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val srcs = edges.map(_._1).distinct
      var hub = srcs.map(_ -> math.max(scale / srcs.size, 1L)).toMap
      var auth = Map.empty[Long, Long]
      for (_ <- 1 to iters) {
        val araw = edges.groupBy(_._2).map { case (v, es) =>
          v -> es.map(e => hub(e._1)).sum }
        val at = araw.values.sum
        auth = araw.map { case (v, r) => v -> (r * scale) / at }
        val hraw = edges.groupBy(_._1).map { case (v, es) =>
          v -> es.map(e => auth(e._2)).sum }
        val ht = hraw.values.sum
        hub = hraw.map { case (v, r) => v -> (r * scale) / ht }
      }
      val verts = (hub.keySet ++ auth.keySet).toSeq
      val want = verts.map(v => v -> (hub.get(v), auth.get(v))).toMap
      assert(got == want, s"hits mismatch for seed $seed")
    }
  }

  test("louvainRefine equals a scalar gated local-move replay on random graphs") {
    for (seed <- Seq(11, 42, 99)) {
      val rnd = new Random(seed)
      val n = 14
      val edges = Seq.fill(22)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val allIds = (0L until n.toLong)
      val init = allIds.map(v => (v, v % 4)) // deliberately coarse start
      val rounds = 3
      val got = GraphOps.louvainRefine(
        edges.toDF("src", "dst"), "src", "dst",
        init.toDF("id", "label"), "id", "label", rounds = rounds)
        .as[(Long, Long)].collect().toMap
      // scalar replay of the synchronous gated local-move recurrence
      val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val verts = und.map(_._1).distinct.sorted
      val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val m2 = und.size.toLong
      def qnum(a: Map[Long, Long]): Long = {
        val w = und.count { case (u, v) => a(u) == a(v) }.toLong
        val d2 = verts.groupBy(a).values
          .map(vs => vs.map(deg).sum).map(d => d * d).sum
        m2 * w - d2
      }
      var asg = verts.map(v => v -> init.toMap.apply(v)).toMap
      var qCur = qnum(asg)
      var done = false
      for (_ <- 1 to rounds if !done) {
        val dC = verts.groupBy(asg).view.mapValues(_.map(deg).sum).toMap
        val moved = verts.map { v =>
          val k = und.filter(_._1 == v).groupBy(e => asg(e._2))
            .view.mapValues(_.size.toLong).toMap
          val cands = k.keySet + asg(v)
          val best = cands.map { c =>
            val kvc = k.getOrElse(c, 0L)
            val own = if (c == asg(v)) deg(v) else 0L
            (m2 * kvc - deg(v) * (dC(c) - own), -c)
          }.max
          v -> -best._2
        }.toMap
        val qNew = qnum(moved)
        if (qNew > qCur) { asg = moved; qCur = qNew } else done = true
      }
      val want = allIds.map(v => v -> asg.getOrElse(v, v % 4)).toMap
      assert(got == want, s"louvainRefine mismatch for seed $seed")
    }
  }

  test("lpaLeidenRefineMulti equals refine-then-split per gamma on random graphs") {
    // the chained ladder (refine rounds → split per γ, one union) against
    // the two-call composition, row for row. Random graphs keep duplicate
    // rows and self-loops; two fixed cases add a γ whose only round is
    // rejected (disjoint cliques: every move candidate is the vertex's
    // own community) and the empty edge set.
    val gammas = Seq(200L, 50L, 10L)
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val random = (1 to 20).map { seed =>
      val rnd = new Random(seed * 7919L)
      val n = 12 + rnd.nextInt(20)
      s"seed $seed" -> Seq.fill(10 + rnd.nextInt(40))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    }
    assert(random.exists(_._2.exists { case (a, b) => a == b }) &&
      random.exists { case (_, r) => r.distinct.size < r.size },
      "no random case drew a self-loop and a duplicate row")
    val cases = random ++ Seq(
      "disjoint cliques" -> (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L))),
      "no edges" -> Seq.empty[(Long, Long)])
    var strandedSeen = 0
    for (((name, rows), i) <- cases.zipWithIndex) {
      val e = rows.toDF("src", "dst")
      val rounds = 1 + i % 2
      val refined = GraphOps.lpaLouvainRefineMulti(e, "src", "dst",
        lpaIters = 2, rounds = rounds, gammaPcts = gammas)
      val want = gammas.flatMap { g =>
        val lvl = refined.filter(col("gamma_pct") === g)
        val labels = lvl.select("id", "label").as[(Long, Long)].collect().toMap
        // a vertex in no intra-community edge (the split's singleton rule)
        strandedSeen += labels.keys.count(v => !rows.exists { case (a, b) =>
          (a == v || b == v) && labels(a) == labels(b) })
        val split = GraphOps.wellConnectedSplit(e, "src", "dst", lvl, "id", "label")
        val out = split.as[(Long, Long)].collect().map { case (id, l) => (g, id, l) }
        GraphOps.releaseLocalCheckpoint(split)
        out
      }.sorted
      if (name == "disjoint cliques") {
        // the round is rejected: every level keeps the LPA labels
        val lpa = GraphOps.lpaEdges(e, "src", "dst", maxIter = 2)
          .as[(Long, Long)].collect().toSet
        for (g <- gammas)
          assert(refined.filter(col("gamma_pct") === g).select("id", "label")
            .as[(Long, Long)].collect().toSet == lpa, s"$name, γ=$g moved")
      }
      GraphOps.releaseLocalCheckpoint(refined)
      val ladder = GraphOps.lpaLeidenRefineMulti(e, "src", "dst",
        lpaIters = 2, rounds = rounds, gammaPcts = gammas)
      val got = ladder.as[(Long, Long, Long)].collect().sorted.toSeq
      GraphOps.releaseLocalCheckpoint(ladder)
      assert(got == want, s"ladder ≠ refine-then-split for $name")
      // the row count each chain hands ccAuto (W/2 off the refine gate)
      // is the count of the intra frame it builds (on every third random
      // case and both fixed ones); odd cases run the Catalyst CC rounds,
      // even ones the driver-local union-find
      if (i % 3 == 0 || i >= random.size) {
        val handed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
        val hooked = GraphOps.leidenLadder(e, "src", "dst", lpaIters = 2,
            rounds = rounds, gammaPcts = gammas, broadcastState = None,
            numPartitions = None) { (intra, known) =>
          handed.add(known -> intra.count())
          if (i % 2 == 1) GraphOps.ccAuto(intra, "src", "dst", Some(known), localMaxEdges = 0L)
          else GraphOps.ccAuto(intra, "src", "dst", Some(known))
        }
        assert(hooked.as[(Long, Long, Long)].collect().sorted.toSeq == want,
          s"hooked ladder ≠ refine-then-split for $name")
        GraphOps.releaseLocalCheckpoint(hooked)
        val counts = handed.toArray(new Array[(Long, Long)](0)).toSeq
        assert(counts.size == gammas.size && counts.forall { case (k, n) => k == n },
          s"known intra rows ≠ counted for $name: $counts")
      }
    }
    assert(strandedSeen > 0, "no case put a vertex outside every intra-community edge")
  }

  test("modularityOf equals the scalar Newman formula on random partitions") {
    for (seed <- Seq(29, 61, 107)) {
      val rnd = new Random(seed)
      val n = 16
      val edges = Seq.fill(24)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val asg = verts.map(v => v -> rnd.nextInt(3).toLong).toMap
      val got = GraphOps.modularityOf(
          edges.toDF("src", "dst"), "src", "dst",
          asg.toSeq.toDF("id", "label"), "id", "label")
        .select("community", "e_within", "deg_sum", "q_num")
        .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      val und = edges ++ edges.map(_.swap)
      val m2 = und.size.toLong
      val want = und.groupBy(e => asg(e._1)).map { case (c, es) =>
        val within = es.count(e => asg(e._2) == c).toLong
        val degSum = es.size.toLong
        c -> ((c, within, degSum, within * m2 - degSum * degSum))
      }
      assert(got == want, s"modularity mismatch for seed $seed")
      // partition-wide invariant: Σ q_num ≤ m2² and equals 0 for the
      // everything-in-one-community assignment (checked in GraphSpec)
      assert(got.values.map(_._4).sum <= m2 * m2)
    }
  }

  test("multiSourceBfs equals per-landmark scalar BFS with min/tie-break") {
    for (seed <- Seq(31, 67, 127)) {
      val rnd = new Random(seed)
      val n = 25
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val lms = verts.sorted.take(3)
      val maxHops = 4
      val got = GraphOps.multiSourceBfs(
          edges.toDF("src", "dst"), "src", "dst", lms.toDF("id"), maxHops)
        .as[(Long, Long, Int)].collect().map(r => r._1 -> (r._3, r._2)).toMap
      // reference: independent BFS per landmark, then per vertex take
      // (min distance, then smallest landmark among those achieving it) —
      // the SEMANTIC definition, proving the frontier recurrence computes it
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (v, es) => v -> es.map(_._2).toSet }
      def bfs(src: Long): Map[Long, Int] = {
        var dist = Map(src -> 0)
        var frontier = Set(src)
        for (h <- 1 to maxHops) {
          val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
            .filterNot(dist.contains)
          dist = dist ++ next.map(_ -> h)
          frontier = next
        }
        dist
      }
      val dists = lms.map(l => l -> bfs(l)).toMap
      val want = verts.flatMap { v =>
        val reached = lms.flatMap(l => dists(l).get(v).map(d => (d, l)))
        if (reached.isEmpty) None
        else Some(v -> { val dm = reached.map(_._1).min
          (dm, reached.filter(_._1 == dm).map(_._2).min) })
      }.toMap
      assert(got == want, s"multi-source bfs mismatch for seed $seed")
    }
  }

  test("funnelReport equals a scalar greedy-earliest replay on random event logs") {
    for (seed <- Seq(29, 83, 149)) {
      val rnd = new Random(seed)
      val types = Vector("A", "B", "C", "X")
      val rows = (1 to 400).map { i =>
        (rnd.nextInt(25).toLong, types(rnd.nextInt(types.size)),
          new Timestamp(1700000000000L + rnd.nextInt(7200) * 1000L))
      }
      val steps = Seq("A", "B", "C")
      val wSec = 1800L
      val got = graft.operators.EventAnalytics.funnelReport(
          rows.toDF("user_id", "event_type", "ts"),
          "user_id", "event_type", "ts", steps, wSec)
        .as[(Int, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      // scalar: per user, greedy earliest chain in micros
      val byUser = rows.groupBy(_._1)
      val wMicros = wSec * 1000000L
      val counts = Array.fill(steps.size)(0L)
      for ((_, evs) <- byUser) {
        val byType = evs.groupBy(_._2)
          .view.mapValues(_.map(_._3.getTime * 1000L).sorted).toMap
        byType.get(steps.head).map(_.head) match {
          case Some(t1) =>
            counts(0) += 1
            var tp = t1
            var depth = 1
            var stop = false
            for (st <- steps.tail if !stop) {
              byType.getOrElse(st, Seq.empty)
                .find(t => t > tp && t <= t1 + wMicros) match {
                case Some(t) => counts(depth) += 1; tp = t; depth += 1
                case None => stop = true
              }
            }
          case None => ()
        }
      }
      steps.zipWithIndex.foreach { case (st, i) =>
        assert(got((i + 1, st)) == counts(i),
          s"funnel mismatch seed $seed step $st")
      }
    }
  }

  test("neighborhoodAgg equals exact scalar decimal sums on random graphs") {
    for (seed <- Seq(31, 73, 139)) {
      val rnd = new Random(seed)
      val n = 15
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val feats = (0 until n).map(i =>
        i.toLong -> BigDecimal(rnd.nextInt(200000) - 100000, 2))
      val got = GraphOps.neighborhoodAgg(
          edges.toDF("src", "dst"),
          "src", "dst",
          feats.map { case (i, f) => (i, f.toDouble) }.toDF("id", "f"),
          "id", "f")
        .select("id", "n_nbrs", "f_sum")
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val fmap = feats.toMap
      val und = edges ++ edges.map(_.swap)
      for ((v, nbrs) <- und.groupBy(_._1)) {
        val want = nbrs.map(e => fmap(e._2)).sum
        assert(got(v) == ((nbrs.size.toLong, want.toDouble)),
          s"neighborhoodAgg mismatch seed $seed vertex $v")
      }
    }
  }

  test("linkPredictTopK equals a scalar pair enumeration on random bipartite graphs") {
    for (seed <- Seq(43, 89, 151)) {
      val rnd = new Random(seed)
      val edges = Seq.fill(60)((rnd.nextInt(12).toLong, rnd.nextInt(8).toLong))
        .distinct
      val cap = 5L
      val k = 10
      val got = GraphOps.linkPredictTopK(
          edges.toDF("a", "r"), "a", "r", k, maxRightDegree = cap)
        .as[(Long, Long, Long, Double)].collect().toSeq
      // scalar replay with the same hub guard + rounding
      val rDeg = edges.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val kept = edges.filter(e => rDeg(e._2) <= cap)
      val lNbrs = kept.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val pairs = for {
        (x, nx) <- lNbrs.toSeq; (y, ny) <- lNbrs.toSeq if x < y
        cn = (nx & ny).size if cn > 0
      } yield {
        val j = BigDecimal(cn.toDouble / (nx.size + ny.size - cn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (x, y, cn.toLong, j)
      }
      val want = pairs.sortBy(p => (-p._3, p._1, p._2)).take(k)
      assert(got == want, s"linkPredict mismatch seed $seed")
    }
  }

  test("zValue equals a scalar bit interleave on random keys") {
    for (seed <- Seq(47, 97, 157)) {
      val rnd = new Random(seed)
      val keys = Seq.fill(100)(
        (rnd.nextInt(Int.MaxValue), rnd.nextInt(Int.MaxValue)))
      val got = keys.toDF("x", "y")
        .select(col("x"), col("y"),
          graft.functions.ZOrder.zValue(col("x"), col("y")).as("z"))
        .as[(Int, Int, Long)].collect()
      got.foreach { case (x, y, z) =>
        var want = 0L
        for (b <- 0 until 31) {
          want |= ((x.toLong >> b) & 1L) << (2 * b)
          want |= ((y.toLong >> b) & 1L) << (2 * b + 1)
        }
        assert(z == want, s"zValue mismatch seed $seed ($x, $y)")
      }
    }
  }

  test("lmScore equals a scalar term-sorted fold on random corpora") {
    for (seed <- Seq(37, 71, 131)) {
      val rnd = new Random(seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
      val docs = (1L to 12L).map { id =>
        id -> Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      val got = graft.text.TextStats.lmScore(
          docs.toDF("doc_id", "text"), "doc_id", "text")
        .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
      val tokens = docs.map { case (id, t) => id -> t.split(" ").toSeq }
      val cf = tokens.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val total = cf.values.sum
      for ((id, toks) <- tokens) {
        val perTerm = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val raw = perTerm.toSeq.sortBy(_._1).foldLeft(0.0) { case (a, (t, c)) =>
          a + c.toDouble * (math.log(total.toDouble) - math.log(cf(t).toDouble))
        }
        val bits = raw / toks.size / math.log(2.0)
        assert(got(id)._2 == toks.size.toLong)
        assert(math.abs(got(id)._3 - bits) < 1e-6, s"lm score mismatch seed $seed doc $id")
      }
    }
  }

  test("ccStarEdges equals ccEdges over random graphs") {
    // the pointer-jumping variant must be bit-identical to min
    // propagation (both label by component-min vertex id)
    for (seed <- Seq(7, 41, 97)) {
      val rnd = new Random(seed)
      val n = 35
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("src", "dst")
      val star = GraphOps.ccStarEdges(df, "src", "dst")
        .as[(Long, Long)].collect().toMap
      val prop = GraphOps.ccEdges(df, "src", "dst", maxIter = 40)
        .as[(Long, Long)].collect().toMap
      assert(star == prop, s"ccStar mismatch for seed $seed")
    }
  }

  test("ccAuto equals ccEdges on both engines and leaves only its output") {
    // the same random graphs as above plus the graph each CC caller
    // builds in its own spec, under the Catalyst rounds (localMaxEdges =
    // 0) and under the default threshold's driver-local union-find, whose
    // output holds no cached blocks
    val sc = spark.sparkContext
    val random = Seq(7, 41, 97).map { seed =>
      val rnd = new Random(seed)
      val n = 35
      s"seed $seed" -> Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
    }
    val callers = Seq(
      // GraphSpec's wellConnectedSplit case: a path, two disconnected
      // pairs in one community; the stranded vertex has no intra edge
      "stranded-community intra graph" -> Seq(1L -> 2L, 2L -> 3L, 10L -> 11L, 12L -> 13L),
      // SimilaritySpec's semDedup case: one near-clique blob at τ = 0.95
      "blob τ-graph" -> Seq(0L -> 1L, 0L -> 4L, 1L -> 4L),
      // DedupSpec's fuzzyDedup case: a near-dup chain and an exact pair
      "LSH dup graph" -> Seq(10L -> 11L, 11L -> 12L, 10L -> 12L, 20L -> 21L))
    for ((name, edges) <- random ++ callers; rounds <- Seq(true, false)) {
      val df = edges.toDF("src", "dst")
      val prop = GraphOps.ccEdges(df, "src", "dst", maxIter = 40)
        .as[(Long, Long)].collect().toMap
      val before = sc.getPersistentRDDs.keySet
      val out =
        if (rounds) GraphOps.ccAuto(df, "src", "dst", localMaxEdges = 0L)
        else GraphOps.ccAuto(df, "src", "dst")
      val own = out.queryExecution.analyzed.collectLeaves().collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet
      assert(own.size == 1 && sc.getPersistentRDDs.keySet -- before ==
          (if (rounds) own else Set.empty[Int]),
        s"$name, rounds=$rounds left more than its output registered")
      // read after the call: the edge cache and the view are released
      Thread.sleep(200L) // time for the asynchronous block removal
      assert(out.as[(Long, Long)].collect().toMap == prop,
        s"ccAuto mismatch for $name, rounds=$rounds")
      GraphOps.releaseLocalCheckpoint(out)
    }
  }

  test("ccAuto labels on the driver at the threshold and runs the rounds one edge past it") {
    // n edges with the threshold at n, then the same graph with one
    // duplicate row: the labels are the same, the engine is not
    val rnd = new Random(13)
    val edges = Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val n = edges.size.toLong
    def run(rows: Seq[(Long, Long)]) = {
      val rec = new graft.obs.Recorder().attach(spark)
      try {
        val out = GraphOps.ccAuto(rows.toDF("src", "dst"), "src", "dst", localMaxEdges = n)
        val labels = out.as[(Long, Long)].collect().toMap
        GraphOps.releaseLocalCheckpoint(out)
        org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark.sparkContext)
        (labels, rec.spanTable.keySet.exists(_.endsWith("graph.ccStarRounds")))
      } finally rec.detach(spark)
    }
    val (atN, roundsAtN) = run(edges)
    val (pastN, roundsPastN) = run(edges :+ edges.head)
    assert(!roundsAtN, s"the rounds ran on $n edges with the threshold at $n")
    assert(roundsPastN, s"the driver engine ran on ${n + 1} edges with the threshold at $n")
    assert(atN == pastN)
    assert(atN == GraphOps.ccEdges(edges.toDF("src", "dst"), "src", "dst", maxIter = 40)
      .as[(Long, Long)].collect().toMap)
  }

  test("ccAuto's driver-local engine equals the Catalyst engines on edge-case graphs") {
    // each input at the default threshold: the local union-find must
    // label like ccEdges / ccStarEdges and leave no RDD or cache entry
    val sc = spark.sparkContext
    val star = (1L to 10000L).map(0L -> _)
    val path = new Random(5).shuffle((0L until 9999L).map(v => v -> (v + 1L)))
    val cases = Seq(
      "empty" -> Seq.empty[(Long, Long)],
      "self-loops only" -> Seq(1L -> 1L, 5L -> 5L, -3L -> -3L),
      "duplicate rows" -> Seq(1L -> 2L, 1L -> 2L, 2L -> 1L, 3L -> 4L, 3L -> 4L, 9L -> 9L),
      "negative ids" -> Seq(-5L -> 3L, 3L -> -10L, 7L -> -1L, -1L -> 8L, -20L -> -30L),
      "10k-leaf star" -> star,
      "10k-vertex path" -> path)
    for ((name, edges) <- cases) {
      val df = edges.toDF("src", "dst")
      // min propagation needs ~10⁴ supersteps on the path: the rounds there
      val want = (if (name.endsWith("path")) GraphOps.ccStarEdges(df, "src", "dst", maxIter = 40)
        else GraphOps.ccEdges(df, "src", "dst", maxIter = 40)).as[(Long, Long)].collect().toMap
      val rddsBefore = sc.getPersistentRDDs.keySet
      val entriesBefore = org.apache.spark.sql.GraftSqlBridge.cachedEntries(spark)
      val out = GraphOps.ccAuto(df, "src", "dst")
      assert(sc.getPersistentRDDs.keySet == rddsBefore, s"$name left an RDD")
      assert(org.apache.spark.sql.GraftSqlBridge.cachedEntries(spark) == entriesBefore,
        s"$name left a cache entry")
      val got = out.as[(Long, Long)].collect()
      assert(got.length == got.map(_._1).distinct.length, s"$name repeats a vertex")
      assert(got.toMap == want, s"ccAuto ≠ the Catalyst engine on $name")
      if (name.startsWith("10k"))
        assert(want.size >= 10000 && want.values.toSet == Set(0L), s"$name: wrong oracle")
    }
  }

  test("incrementalCC equals full CC over random graphs and random batch splits") {
    // The contraction argument must survive arbitrary merges, chains of
    // merges through one batch, and batch-only vertices.
    for (seed <- Seq(11, 29, 83)) {
      val rnd = new scala.util.Random(seed)
      val nV = 40
      val edges = (1 to 70).map { _ =>
        (rnd.nextInt(nV).toLong + 1L, rnd.nextInt(nV).toLong + 1L)
      }.filter { case (a, b) => a != b }.distinct
      val (old, batch) = edges.partition(_ => rnd.nextBoolean())
      if (old.nonEmpty && batch.nonEmpty) {
        val oldDf = old.toDF("src", "dst")
        val batchDf = batch.toDF("src", "dst")
        val base = GraphOps.ccEdges(oldDf, "src", "dst", maxIter = 40)
        val inc = GraphOps.incrementalCC(base, batchDf, "src", "dst")
          .as[(Long, Long)].collect().toMap
        val full = GraphOps.ccEdges(edges.toDF("src", "dst"), "src", "dst", maxIter = 40)
          .as[(Long, Long)].collect().toMap
        assert(inc == full, s"incrementalCC mismatch at seed $seed")
      }
    }
  }

  test("duplicateSpans equals brute force over random low-alphabet corpora") {
    // Low alphabet + shared phrase injection force genuine cross-doc
    // window collisions; brute force recomputes windows, the ≥2-doc
    // criterion, and interval merging independently of Spark.
    val winLen = 20
    val stride = 10
    for (seed <- Seq(5, 23, 91)) {
      val rnd = new scala.util.Random(seed)
      def blob(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(3)).toChar).mkString
      val phrase = blob(35)
      val docs = (1L to 8L).map { id =>
        val own = blob(30 + rnd.nextInt(60))
        // ~half the docs embed the shared phrase at a random offset
        val t = if (rnd.nextBoolean()) {
          val cut = rnd.nextInt(own.length)
          own.take(cut) + phrase + own.drop(cut)
        } else own
        (id, t)
      }
      val got = graft.dedup.Dedup
        .duplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", winLen, stride)
        .as[(Long, Int, Int)].collect().toSet
      // brute force
      val wins = docs.flatMap { case (id, t) =>
        if (t.length < winLen) Seq.empty
        else (0 to t.length - winLen by stride).map(p => (id, p, t.substring(p, p + winLen)))
      }
      val dupWins = wins.groupBy(_._3)
        .filter { case (_, g) => g.map(_._1).distinct.size >= 2 }
        .values.flatten.toSeq
      val want = dupWins.groupBy(_._1).toSeq.flatMap { case (id, g) =>
        val ivs = g.map(w => (w._2, w._2 + winLen)).sorted
        val merged = ivs.foldLeft(Vector.empty[(Int, Int)]) { case (acc, (s, e)) =>
          if (acc.nonEmpty && s <= acc.last._2) acc.init :+ (acc.last._1, math.max(acc.last._2, e))
          else acc :+ (s, e)
        }
        merged.map { case (s, e) => (id, s, e) }
      }.toSet
      assert(got == want, s"duplicateSpans mismatch at seed $seed")
    }
  }

  test("cooccurrencePmi equals brute force over random tiny corpora") {
    for (seed <- Seq(7, 41, 63)) {
      val rnd = new scala.util.Random(seed)
      val vocabAll = Seq("rock", "jazz", "band", "tour", "solo", "trio", "live", "album")
      val docs = (1L to 12L).map { id =>
        val n = 2 + rnd.nextInt(5)
        (id, Seq.fill(n)(vocabAll(rnd.nextInt(vocabAll.length))).mkString(" "))
      }
      val got = graft.text.TextStats
        .cooccurrencePmi(docs.toDF("doc_id", "text"), "doc_id", "text",
          vocabSize = 8, minPairCount = 1, topK = 1000)
        .as[(String, String, Long, Long, Long, Long)].collect().toSet
      // brute force over distinct per-doc term presence
      val present = docs.map { case (id, t) => id -> t.split(" ").toSet }
      val df = present.flatMap(_._2).groupBy(identity).map { case (t, g) => t -> g.size.toLong }
      val nDocs = docs.size.toLong
      val terms = df.keys.toSeq.sorted
      val want = (for {
        x <- terms; y <- terms if x < y
        nxy = present.count { case (_, s) => s(x) && s(y) }.toLong
        if nxy >= 1
      } yield (x, y, nxy, df(x), df(y),
        nxy * nDocs * 1000000L / (df(x) * df(y)))).toSet
      assert(got == want, s"cooccurrencePmi mismatch at seed $seed")
    }
  }
}
