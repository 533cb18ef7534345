package graft

import graft.vector.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f), 0),
    (1L, Array(0.9f, 0.1f, 0f, 0f), 0),
    (2L, Array(0f, 1f, 0f, 0f), 0),
    (3L, Array(-1f, 0f, 0f, 0f), 1),
    (4L, Array(0.8f, 0.2f, 0f, 0f), 1))
    .toDF("vec_id", "embedding", "label")

  test("knnBrute ranks by exact cosine") {
    val q = vecs.filter(col("vec_id") === 0)
    val out = Similarity.knnBrute(vecs, "vec_id", "embedding", q, 3)
      .select("vec_id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 4L, 2L)) // cos: .994, .970, 0 (then -1 excluded by k)
  }

  test("hardNegatives: rank split into positives and hard negatives, per anchor") {
    val anchors = vecs.filter(col("vec_id") <= 1)
    val out = Similarity.hardNegatives(vecs, "vec_id", "embedding",
        anchors, nPos = 1, nNeg = 2)
      .select("q_id", "vec_id", "rank", "role")
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
    // anchor 0: cos ranks 1(.994) > 4(.970) > 2(0) > 3(-1)
    assert(out(0L).map(r => (r._2, r._4)).toSeq ==
      Seq((1L, "positive"), (4L, "hard_negative"), (2L, "hard_negative")))
    // anchor 1: 0(.9939) > 4(.9909) > 2(.1104) > 3
    assert(out(1L).map(r => (r._2, r._4)).toSeq ==
      Seq((0L, "positive"), (4L, "hard_negative"), (2L, "hard_negative")))
    // anchors never appear as their own candidate
    assert(out.forall { case (q, rows) => rows.forall(_._2 != q) })
  }

  test("nearestInBlock finds best match within label only") {
    val out = Similarity.nearestInBlock(vecs, "vec_id", "embedding", "label")
      .select("id_a", "id_b").as[(Long, Long)].collect().toMap
    assert(out(0L) == 1L && out(1L) == 0L && out(2L) == 1L)
    assert(out(3L) == 4L && out(4L) == 3L) // label-1 block: only each other
  }

  test("mmrRerank trades similarity for diversity, deterministically") {
    // query [1,0,0,0]; A=1 (cos .994) and B=4 (cos .970) are near-dups
    // of each other (cos .991); C=2 is orthogonal to the query (cos 0,
    // cos(C,A) = .110). Pure kNN picks (A, B); at λ=0.3 the redundancy
    // penalty flips the second pick to C:
    //   B: 0.3·.970 − 0.7·.991 = −.403   C: 0.3·0 − 0.7·.110 = −.077
    val q = vecs.filter(col("vec_id") === 0)
    val out = Similarity.mmrRerank(vecs.filter(col("vec_id") =!= 3L),
        "vec_id", "embedding", q, k = 2, lambdaPct = 30L, candidates = 3)
      .orderBy("rank").select("id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L))
    // λ=1 degenerates to pure kNN order (no diversity penalty)
    val knn = Similarity.mmrRerank(vecs.filter(col("vec_id") =!= 3L),
        "vec_id", "embedding", q, k = 2, lambdaPct = 100L, candidates = 3)
      .orderBy("rank").select("id").as[Long].collect()
    assert(knn.toSeq == Seq(1L, 4L))
    // determinism: two runs agree exactly
    val again = Similarity.mmrRerank(vecs.filter(col("vec_id") =!= 3L),
        "vec_id", "embedding", q, k = 2, lambdaPct = 30L, candidates = 3)
      .orderBy("rank").select("id", "qsim").as[(Long, Long)].collect()
    val first = Similarity.mmrRerank(vecs.filter(col("vec_id") =!= 3L),
        "vec_id", "embedding", q, k = 2, lambdaPct = 30L, candidates = 3)
      .orderBy("rank").select("id", "qsim").as[(Long, Long)].collect()
    assert(again.toSeq == first.toSeq)
  }

  test("lsh bucketing: colinear vectors share bucket, opposite vectors differ") {
    val signs = Similarity.hyperplaneSigns(8, 4)
    val out = vecs.select(col("vec_id"),
      Similarity.lshBucket(Similarity.vecD(col("embedding")), signs).as("b"))
      .as[(Long, String)].collect().toMap
    assert(out(0L) == out(1L)) // nearly identical direction
    assert(out(0L) != out(3L)) // opposite direction → complementary bits
    assert(out.values.forall(b => b.length == 8 && b.forall(c => c == '0' || c == '1')))
  }

  test("annLsh returns bucket-mates ranked by cosine") {
    val q = vecs.filter(col("vec_id") === 0)
    val out = Similarity.annLsh(vecs, "vec_id", "embedding", q, k = 3, planes = 8, dims = 4)
      .select("vec_id").as[Long].collect()
    assert(out.nonEmpty && out.head == 1L) // 1 shares 0's bucket and ranks first
  }

  test("annIvf assigns cells by nearest centroid and searches only the cell") {
    // centroids = vecs 0,1 (lowest ids). Cells: 0→{0}; 1→{1,2,3,4}
    // (2,3,4 are all closer to (0.9,0.1) than to (1,0)).
    val q = vecs.filter(col("vec_id") === 2)
    val out = Similarity.annIvf(vecs, "vec_id", "embedding", q, k = 3, nCells = 2)
      .select("vec_id", "cell").as[(Long, Long)].collect()
    assert(out.forall(_._2 == 1L)) // only the query's cell is probed
    // ranked by exact cosine to vec 2: 4 (0.24) > 1 (0.11) > 3 (0)
    assert(out.map(_._1).toSeq == Seq(4L, 1L, 3L))
  }

  test("hyperplaneSigns is deterministic and balanced-ish") {
    val a = Similarity.hyperplaneSigns(8, 64)
    val b = Similarity.hyperplaneSigns(8, 64)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val ones = a.flatten.count(_ == 1)
    assert(ones > 200 && ones < 312) // ~half of 512
  }

  test("kmeans: planted blobs recovered, Lloyd improves on seeds, reruns agree") {
    import graft.vector.Clustering
    // two tight blobs far apart; seeds (ids 0,1) both land in blob A, so
    // iteration must MOVE a centroid across to blob B
    val blobA = (0L to 4L).map(i => (i, Array(1f + i * 0.01f, 0f, 0f, 1f)))
    val blobB = (5L to 9L).map(i => (i, Array(-1f, 5f + i * 0.01f, 2f, 0f)))
    val df = (blobA ++ blobB).toDF("vec_id", "embedding")
    val out = Clustering.kmeans(df, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Long)].collect().toMap
    val clustersA = (0L to 4L).map(out).toSet
    val clustersB = (5L to 9L).map(out).toSet
    assert(clustersA.size == 1 && clustersB.size == 1) // each blob pure
    assert(clustersA != clustersB)                     // separated
    val again = Clustering.kmeans(df, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(out == again) // deterministic end-to-end
  }

  test("matryoshkaRecall: full-dim recall is 1, prefix recall in [0,1], monotone-ish fixture") {
    // 4-dim vectors where the FIRST dimension alone misranks: prefix-1
    // ranking differs from full ranking by construction
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // query anchor
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.95f, -0.9f, 0.0f, 0.0f)),
      (4L, Array(0.1f, 0.99f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaRecall(emb, "vec_id", "embedding",
      query = emb.orderBy("vec_id").limit(1), k = 2, dimsList = Seq(1, 2, 4))
      .as[(Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(4) == ((4, 2L, 1.0)))              // full dims: exact overlap
    assert(out(1)._2 <= 2 && out(2)._2 <= 2)      // prefixes: bounded
    // prefix-1 ranks 3 above 2 (0.95 > 0.9) but full ranks 2 first
    // (3's second dim points away) — recall@2 still 1 here only if both
    // survive; assert the known fixture value instead of guessing
    assert(out(2)._2 == 2L)                       // 2 dims recover the order
  }

  test("rrfFuse: both-list docs outrank single-list, hand-computed scores, deterministic") {
    // list A ranks: 10 (1st), 20 (2nd), 30 (3rd); list B: 20 (1st), 40 (2nd)
    val a = Seq((10L, 0.9), (20L, 0.8), (30L, 0.7)).toDF("id", "score")
    val b = Seq((20L, 0.95), (40L, 0.5)).toDF("id", "score")
    val out = Similarity.rrfFuse(Seq(a, b), "id", "score", topK = 10)
      .as[(Long, Int, Double)].collect()
    val m = out.map(r => r._1 -> r).toMap
    // 20 is in both lists: 1/62 + 1/61 — the top fusion score
    assert(out.head._1 == 20L && m(20L)._2 == 2)
    assert(m(20L)._3 == BigDecimal(1.0 / 62 + 1.0 / 61)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(m(10L)._3 == BigDecimal(1.0 / 61)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // single-list docs ordered by their rank; ties impossible here
    assert(out.map(_._1).toSeq == Seq(20L, 10L, 40L, 30L))
    // topK truncates by fused score
    assert(Similarity.rrfFuse(Seq(a, b), "id", "score", topK = 2)
      .as[(Long, Int, Double)].collect().map(_._1).toSeq == Seq(20L, 10L))
  }

  test("pqCodes: per-subvector codes equal kmeans on the slice") {
    import graft.vector.Clustering
    val out = Similarity.pqCodes(vecs, "vec_id", "embedding",
        m = 2, subDims = 2, k = 2, iters = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // cross-check each subvector against a direct kmeans on that slice
    for (s <- 0 until 2) {
      val sub = vecs.select(col("vec_id"),
        slice(col("embedding").cast("array<double>"), s * 2 + 1, 2).as("sub"))
      val direct = Clustering.kmeans(sub, "vec_id", "sub", k = 2, iters = 2)
        .as[(Long, Long)].collect().toMap
      for ((id, codes) <- out)
        assert((if (s == 0) codes._1 else codes._2) == direct(id),
          s"subvector $s code mismatch for vec $id")
    }
    // every vector gets a code row; codes come from the seed-id space
    assert(out.size == 5 && out.values.forall(c => Set(c._1, c._2).subsetOf(Set(0L, 1L))))
  }

  test("pqAdcTopK: excludes query, ranks codeword-mates first, deterministic") {
    val q = vecs.filter(col("vec_id") === 0)
    def run() = Similarity.pqAdcTopK(vecs, "vec_id", "embedding", q,
        topK = 4, m = 2, subDims = 2, k = 2, iters = 2)
      .as[(Long, Double)].collect().toSeq
    val out = run()
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L, 4L)) // self excluded
    // 0's codeword-mates (1, 4 — the x-axis-ish cluster) beat 2 and 3
    assert(Set(1L, 4L).contains(out.head._1))
    assert(out.map(_._2) == out.map(_._2).sorted) // ascending distance
    assert(run() == out) // bit-deterministic rerun
  }

  test("pqFit model reuse: codes and ADC search bit-equal the fit-inline paths") {
    val model = Similarity.pqFit(vecs, "vec_id", "embedding",
      m = 2, subDims = 2, k = 2, iters = 2)
    // codes off the model == standalone pqCodes (same deterministic fits)
    val fromModel = Similarity.pqCodesFromModel(model, "vec_id")
      .as[(Long, Long, Long)].collect().toSet
    val standalone = Similarity.pqCodes(vecs, "vec_id", "embedding",
        m = 2, subDims = 2, k = 2, iters = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(fromModel == standalone)
    // ADC search off the model == the fit-inline overload, for two probes
    for (qid <- Seq(0L, 3L)) {
      val q = vecs.filter(col("vec_id") === qid)
      val reuse = Similarity.pqAdcTopK(model, "vec_id", "embedding", q, topK = 4)
        .as[(Long, Double)].collect().toSeq
      val inline = Similarity.pqAdcTopK(vecs, "vec_id", "embedding", q,
          topK = 4, m = 2, subDims = 2, k = 2, iters = 2)
        .as[(Long, Double)].collect().toSeq
      assert(reuse == inline, s"probe $qid diverged")
    }
    model.release()
  }

  test("ivfPqRefineTopK: exact re-rank recovers brute order once the pool covers") {
    val q = vecs.filter(col("vec_id") === 0)
    val cells = Similarity.ivfCells(vecs, "vec_id", "embedding", nCells = 2)
    val model = Similarity.pqFit(vecs, "vec_id", "embedding",
      m = 2, subDims = 2, k = 2, iters = 2)
    val probes = Similarity.ivfProbeCells(vecs, "vec_id", "embedding", q,
      nCells = 2, nProbe = 2)
    // both cells probed + topR covers every candidate → the ADC ordering
    // is irrelevant and the refine must reproduce exact-cosine order
    val out = Similarity.ivfPqRefineTopK(model, cells, probes, vecs,
        "vec_id", "embedding", q, topR = 4, topK = 3)
      .select("vec_id").as[Long].collect().toSeq
    model.release()
    assert(out == Seq(1L, 4L, 2L)) // knnBrute's order on the same fixture
  }

  test("q165 retrieval funnel: planted duplicate candidate is deduped before MMR") {
    // synthetic sf dir: doc 1 and 2 share IDENTICAL text (and near-identical
    // embeddings, so both enter the ANN pool); the funnel must keep only
    // doc 1 (min id per content hash). The shipped corpus has no exact
    // dups, so this is where the dedup stage's firing path is proven.
    val dir = java.nio.file.Files.createTempDirectory("graft_q165").toString
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 97 + i) * 10).toFloat)
    // the duplicate pair sits right next to the query in embedding space,
    // so both top the ANN pool AND survive MMR's top-5 — making the
    // dedup the only thing standing between doc 2 and the output
    val dup = vec(0).map(x => x + 0.01f)
    val emb = (Seq(
      (0L, vec(0)),                                     // the query anchor
      (1L, dup), (2L, dup.map(x => x + 0.001f))) ++     // near-identical pair
      (3L to 7L).map(i => (i, vec(i.toInt))))
      .toDF("vec_id", "embedding")
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val docs = (0L to 7L).map { i =>
      val text = if (i == 2L) "copied article body" // identical to doc 1
        else if (i == 1L) "copied article body"
        else s"distinct article body number $i"
      (i, text, s"src${i % 3}", text.length.toLong)
    }.toDF("doc_id", "text", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q165_retrieval_funnel")(spark, dir)
      .select("rnk", "doc_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(out.length == 5)
    val ids = out.map(_._2).toSet
    assert(ids.contains(1L) && !ids.contains(2L),
      s"duplicate content must collapse to the min id: $ids")
    assert(out.map(_._1).toSeq == Seq(1, 2, 3, 4, 5))
  }

  test("retrievalMetrics: MRR, P@k, NDCG@k match a hand-traced ranking") {
    // anchor 0 (label 0): ranking by cosine = 1(.994, rel), 4(.970),
    // 2(0, rel), 3(-1) → n_rel 2, first 1, MRR 1, P@10 0.2,
    // DCG = w1+w3, IDCG = w1+w2
    // anchor 3 (label 1): ranking = 2(0), 4(-.970, rel), 1(-.994),
    // 0(-1) → n_rel 1, first 2, MRR 0.5, P@10 0.1, DCG = w2, IDCG = w1
    val anchors = vecs.filter(col("vec_id").isin(0L, 3L))
    val out = Similarity.retrievalMetrics(vecs, "vec_id", "embedding", "label",
        anchors, k = 10)
      .as[(Long, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val wt = Similarity.ndcgWeights(10)
    val pf = Similarity.ndcgIdealPrefix(10)
    assert(out(0L) == ((0L, 2L, 1L, 1.0, 0.2, (wt(0) + wt(2)) / pf(1))))
    assert(out(3L) == ((3L, 1L, 2L, 0.5, 0.1, wt(1) / pf(0))))
  }

  test("semDedup: intra-cluster cosine groups keep min id; cross-cluster pairs untouched") {
    // kmeans(k=2, iters=2) on the fixture converges to {0,1,4} | {2,3}
    // (euclidean Lloyd from seeds 0,1 — hand-traced). τ=0.95 pairs
    // inside cluster 0: (0,1)=.993, (0,4)=.970, (1,4)=.990 → one
    // component keeping 0; cluster 1 has cos(2,3)=0 → no dups.
    val out = Similarity.semDedup(vecs, "vec_id", "embedding",
        k = 2, iters = 2, tau = 0.95)
      .select("vec_id", "keep_id", "is_dup")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(0L) == (0L, false))
    assert(out(1L) == (0L, true))
    assert(out(4L) == (0L, true))
    assert(out(2L) == (2L, false))
    assert(out(3L) == (3L, false))
    // raising τ past the max pairwise cosine dedups nothing
    val none = Similarity.semDedup(vecs, "vec_id", "embedding",
        k = 2, iters = 2, tau = 0.999)
      .filter(col("is_dup")).count()
    assert(none == 0L)
  }

  test("semDedup: both CC engines agree and leave only the output") {
    val sc = spark.sparkContext
    def run(graphxMaxEdges: Long) = {
      val before = sc.getPersistentRDDs.keySet
      val out = Similarity.semDedup(vecs, "vec_id", "embedding",
        k = 2, iters = 2, tau = 0.95, graphxMaxEdges = graphxMaxEdges)
      assert((sc.getPersistentRDDs.keySet -- before).size == 1,
        s"graphxMaxEdges=$graphxMaxEdges left more than its output registered")
      val rows = out.as[(Long, Long, Long, Boolean)].collect().toSet
      graft.graph.GraphOps.releaseLocalCheckpoint(out)
      rows
    }
    val local = run(graphxMaxEdges = 50000L) // the driver-local union-find
    assert(run(graphxMaxEdges = 0L) == local) // the min-propagation supersteps
    assert(local.count(_._4) == 2)
  }

  test("semDedupAuto: corpus-scaled k sizing rule, delegation equals explicit k") {
    // the sizing rule: ceil division, floor 1, maxK clamp
    assert(Similarity.semDedupAutoK(5, 256) == 1)
    assert(Similarity.semDedupAutoK(256, 256) == 1)
    assert(Similarity.semDedupAutoK(257, 256) == 2)
    assert(Similarity.semDedupAutoK(200_000, 256) == 782)
    assert(Similarity.semDedupAutoK(100_000_000, 1000) == 100_000) // the paper's ratio
    assert(Similarity.semDedupAutoK(Long.MaxValue, 256) == (1 << 17)) // clamp
    // delegation: auto on the fixture (n=5, target 2 -> k=3) must equal
    // semDedup at that explicit k, row for row
    val auto = Similarity.semDedupAuto(vecs, "vec_id", "embedding",
        iters = 2, tau = 0.95, targetClusterSize = 2L)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    val explicit = Similarity.semDedup(vecs, "vec_id", "embedding",
        k = 3, iters = 2, tau = 0.95)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(auto == explicit)
  }

  // Recall floor at data scale (round-7 verdict item 7): with FIXED
  // bucket/probe parameters (the q38/q58 production settings), recall@k
  // must not silently degrade as the corpus grows — candidate sets grow
  // proportionally with the corpus under fixed planes/nCells, so a floor
  // holding at sf0.1 should hold (or improve) at sf1. The sf1 clause
  // activates when the ScaleGen output is present (/tmp/sf1), so the
  // suite stays hermetic in driver runs.
  private def annRecallAt(dir: String, nQueries: Int): (Double, Double, Double, Double, Double, Double, Double) = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.orderBy("vec_id").limit(nQueries)
      .select("vec_id").as[Long].collect()
    def recallOf(fn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Double = {
      val hits = queries.map { qid =>
        val q = emb.filter(col("vec_id") === qid)
        val truth = Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 10)
          .select("vec_id").as[Long].collect().toSet
        val got = fn(q).select("vec_id").as[Long].collect().toSet
        (got & truth).size / 10.0
      }
      hits.sum / nQueries
    }
    val lsh1p = recallOf(q =>
      Similarity.annLsh(emb, "vec_id", "embedding", q, k = 10, planes = 4, dims = 64))
    val lshMp = recallOf(q =>
      Similarity.annLshMultiProbe(emb, "vec_id", "embedding", q, k = 10, planes = 4, dims = 64))
    val ivf = recallOf(q =>
      Similarity.annIvf(emb, "vec_id", "embedding", q, k = 10, nCells = 16))
    // IVF-PQ rides the serving path: one model+cells fit shared by all
    // queries (the annIvfPq fit-inline form would re-fit per query).
    // k=8 codewords per subvector here (q153's oracle uses k=4 to bound
    // the unrolled SQL; the floor gates the operator, not the oracle's
    // minimum parameters).
    val model = Similarity.pqFit(emb, "vec_id", "embedding",
      m = 4, subDims = 16, k = 8, iters = 2)
    val cells = Similarity.ivfCells(emb, "vec_id", "embedding", nCells = 16)
      .persist()
    val ivfpq = recallOf(q =>
      Similarity.ivfPqTopK(model, cells, "vec_id", "embedding", q, topK = 10))
    // nProbe=4: same model+cells, 4 nearest cells per query
    val ivfpq4 = recallOf { q =>
      val probes = Similarity.ivfProbeCells(emb, "vec_id", "embedding", q,
        nCells = 16, nProbe = 4)
      Similarity.ivfPqTopK(model, cells, probes, "vec_id", "embedding", q, topK = 10)
    }
    // REFINED paths (q167): ADC top-50 pool re-ranked by exact cosine
    def refined(nProbe: Int) = recallOf { q =>
      val probes = Similarity.ivfProbeCells(emb, "vec_id", "embedding", q,
        nCells = 16, nProbe = nProbe)
      Similarity.ivfPqRefineTopK(model, cells, probes, emb,
        "vec_id", "embedding", q, topR = 50, topK = 10)
    }
    val ivfpqR1 = refined(1)
    val ivfpqR4 = refined(4)
    model.release()
    cells.unpersist(blocking = false)
    (lsh1p, lshMp, ivf, ivfpq, ivfpq4, ivfpqR1, ivfpqR4)
  }

  test("ANN recall floor holds at sf0.1 (and sf1 when materialized)") {
    // single-probe SRP-LSH recall is documented-poor on these embeddings
    // (~0.19 at sf0.1) — it gets a catastrophic-only floor; the floors
    // that gate parameter drift are on the production paths: multi-probe
    // LSH and IVF. Under FIXED planes/nCells, candidate sets grow with
    // the corpus, so a floor holding at sf0.1 must hold at sf1.
    def check(dir: String, tag: String): Unit = {
      val (lsh1p, lshMp, ivf, ivfpq, ivfpq4, ivfpqR1, ivfpqR4) =
        annRecallAt(dir, nQueries = 8)
      info(f"$tag recall@10: lsh1p=$lsh1p%.2f lshMp=$lshMp%.2f ivf=$ivf%.2f " +
        f"ivfpq=$ivfpq%.2f ivfpq4=$ivfpq4%.2f ivfpqR1=$ivfpqR1%.2f ivfpqR4=$ivfpqR4%.2f")
      assert(lsh1p >= 0.05, f"single-probe LSH collapsed at $tag: $lsh1p%.2f")
      assert(lshMp >= 0.5, f"multi-probe LSH recall degraded at $tag: $lshMp%.2f")
      assert(ivf >= 0.5, f"annIvf recall degraded at $tag: $ivf%.2f")
      // ADC is a coarse distance (8-codeword codebooks here; measured
      // 0.33 at sf0.1, 0.83 at sf1 — codebooks sharpen with data) — the
      // floor gates collapse (a broken cell restriction or codebook),
      // not parity with exact-cosine IVF
      assert(ivfpq >= 0.25, f"IVF-PQ recall collapsed at $tag: $ivfpq%.2f")
      // probing 4 cells widens the candidate set; under the APPROXIMATE
      // ADC ranking a wider set can displace an individual true hit, so
      // the gate is no-collapse, not strict monotonicity
      assert(ivfpq4 >= ivfpq - 0.1,
        f"nProbe=4 recall collapsed vs nProbe=1 at $tag: $ivfpq4%.2f < $ivfpq%.2f")
      // q167's refine stage: as long as a true hit reaches the ADC top-50
      // pool, the exact re-rank puts it in front — refined recall is
      // provably >= the unrefined path's per query (pool ⊇ ADC top-10),
      // and widening probes can now only grow the reachable pool
      assert(ivfpqR1 >= ivfpq,
        f"refined nProbe=1 under unrefined at $tag: $ivfpqR1%.2f < $ivfpq%.2f")
      assert(ivfpqR4 >= ivfpq4,
        f"refined nProbe=4 under unrefined at $tag: $ivfpqR4%.2f < $ivfpq4%.2f")
      // the round-9 displacement finding, inverted: with the refine the
      // nprobe knob is monotone (the whole point of the stage)
      assert(ivfpqR4 >= ivfpqR1,
        f"refine failed to make nprobe monotone at $tag: $ivfpqR4%.2f < $ivfpqR1%.2f")
    }
    check("/root/testdata/sf0.1", "sf0.1")
    if (new java.io.File("/tmp/sf1/embeddings.parquet").isDirectory)
      check("/tmp/sf1", "sf1")
  }

  test("trained IVF quantizer: recall and cell balance at sf0.1 (q168)") {
    // round-9 verdict item 3: swap the lowest-id "centroids" for k-means
    // cells and measure what it buys — recall for the exact-cosine IVF
    // search AND for the ADC (IVF-PQ) path, plus cell-size balance.
    val dir = "/root/testdata/sf0.1"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.orderBy("vec_id").limit(8).select("vec_id").as[Long].collect()
    val untrained = Similarity.ivfCells(emb, "vec_id", "embedding", nCells = 16)
      .persist()
    val trained = Similarity.ivfCellsTrained(emb, "vec_id", "embedding",
      nCells = 16, iters = 2).persist()
    def recallOf(fn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Double =
      queries.map { qid =>
        val q = emb.filter(col("vec_id") === qid)
        val truth = Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 10)
          .select("vec_id").as[Long].collect().toSet
        (fn(q).select("vec_id").as[Long].collect().toSet & truth).size / 10.0
      }.sum / queries.length
    val exactU = recallOf(q =>
      Similarity.annIvfWithCells(emb, "vec_id", "embedding", untrained, q, k = 10))
    val exactT = recallOf(q =>
      Similarity.annIvfWithCells(emb, "vec_id", "embedding", trained, q, k = 10))
    val model = Similarity.pqFit(emb, "vec_id", "embedding",
      m = 4, subDims = 16, k = 8, iters = 2)
    val adcU = recallOf(q =>
      Similarity.ivfPqTopK(model, untrained, "vec_id", "embedding", q, topK = 10))
    val adcT = recallOf(q =>
      Similarity.ivfPqTopK(model, trained, "vec_id", "embedding", q, topK = 10))
    model.release()
    def balance(cells: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val sizes = cells.groupBy("cell").count().select("count").as[Long].collect()
      (sizes.length.toLong, sizes.min, sizes.max)
    }
    val (nU, minU, maxU) = balance(untrained)
    val (nT, minT, maxT) = balance(trained)
    info(f"exact IVF recall@10: untrained=$exactU%.2f trained=$exactT%.2f")
    info(f"IVF-PQ   recall@10: untrained=$adcU%.2f trained=$adcT%.2f")
    info(s"cell sizes: untrained n=$nU [$minU..$maxU], trained n=$nT [$minT..$maxT]")
    untrained.unpersist(blocking = false)
    trained.unpersist(blocking = false)
    // trained cells must not collapse the exact-IVF floor, and they are
    // the documented remedy for the ADC path's 0.33 sf0.1 floor
    assert(exactT >= 0.5, f"trained-cell exact IVF recall degraded: $exactT%.2f")
    assert(adcT >= adcU, f"trained cells did not help the ADC path: $adcT%.2f < $adcU%.2f")
    // balance: no trained cell may hold the majority of the corpus (a
    // degenerate quantizer routes every search to one giant cell)
    val total = emb.count()
    assert(maxT < total / 2, s"degenerate trained cell: $maxT of $total")
  }

  test("residual IVF-PQ: recall delta vs raw coding at sf0.1 (q169)") {
    // round-9 stretch item 8: residuals concentrate near the origin, so
    // the same codebook budget should resolve finer structure — measure
    // the own-cell ADC recall delta under identical parameters (k=8)
    val dir = "/root/testdata/sf0.1"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.orderBy("vec_id").limit(8).select("vec_id").as[Long].collect()
    val cells = Similarity.ivfCells(emb, "vec_id", "embedding", nCells = 16)
      .persist()
    val resid = Similarity.ivfResiduals(emb, "vec_id", "embedding", cells)
      .persist()
    val modelRaw = Similarity.pqFit(emb, "vec_id", "embedding",
      m = 4, subDims = 16, k = 8, iters = 2)
    val modelRes = Similarity.pqFit(resid, "vec_id", "resid",
      m = 4, subDims = 16, k = 8, iters = 2, distinctSeeds = true)
    def recallOf(fn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Double =
      queries.map { qid =>
        val q = emb.filter(col("vec_id") === qid)
        val truth = Similarity.knnBrute(emb, "vec_id", "embedding", q, k = 10)
          .select("vec_id").as[Long].collect().toSet
        (fn(q).select("vec_id").as[Long].collect().toSet & truth).size / 10.0
      }.sum / queries.length
    val raw = recallOf(q =>
      Similarity.ivfPqTopK(modelRaw, cells, "vec_id", "embedding", q, topK = 10))
    val res = recallOf { q =>
      val qResid = resid.join(broadcast(q.select("vec_id")), Seq("vec_id"))
      Similarity.ivfPqTopK(modelRes, cells, "vec_id", "resid", qResid, topK = 10)
    }
    modelRaw.release(); modelRes.release()
    cells.unpersist(blocking = false); resid.unpersist(blocking = false)
    info(f"own-cell ADC recall@10: raw=$raw%.2f residual=$res%.2f")
    // Measured HONEST finding (round-10): residual coding LOSES on this
    // corpus — 0.19 vs 0.33 raw at sf0.1. The synthetic embeddings are
    // near-uniform and the coarse "centroid" is an arbitrary corpus
    // vector, so residual = v − c has ~2× the variance of v (difference
    // of near-independent vectors) and the same codebook budget codes
    // worse. by_residual pays exactly when cells are TIGHT (real
    // clustered corpora, trained quantizers) — same structure-free-data
    // conclusion as the trained-quantizer measurement above. The gate is
    // catastrophic-only (degenerate all-zero seeding measured 0.06
    // before distinct seeds; this pins the fix).
    assert(res >= 0.1,
      f"residual codebook degenerated (seed collapse?): $res%.2f")
  }

  test("PQ index persistence: a second session serves bit-equal results " +
      "from the written tables (q175)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.orderBy("vec_id").limit(1)
    val cells = Similarity.ivfCells(emb, "vec_id", "embedding", nCells = 8)
      .persist()
    val model = Similarity.pqFit(emb, "vec_id", "embedding",
      m = 4, subDims = 16, k = 4, iters = 2)
    val direct = Similarity.ivfPqTopK(model, cells, "vec_id", "embedding",
        q, topK = 10)
      .as[(Long, Double)].collect().toSeq
    Similarity.writePqIndex(model, cells, "vec_id", "pq_index_spec")
    model.release(); cells.unpersist(blocking = false)
    // a SESSION THAT DID NOT WRITE (the cloned-foreachBatch / next-job
    // shape) reads the index and serves — guarded refresh, bit-equality
    val s2 = spark.newSession()
    val (served, cellsR) = Similarity.readPqIndex(s2, "pq_index_spec")
    val q2 = s2.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .orderBy("vec_id").limit(1)
    val roundtrip = Similarity.ivfPqTopK(served, cellsR, "vec_id", "embedding",
        q2, topK = 10)
      .as[(Long, Double)].collect().toSeq
    assert(roundtrip == direct,
      s"persisted-index serving diverged: $roundtrip vs $direct")
    assert(direct.nonEmpty)
  }

  test("appendPqIndex l2_grid: appended rows join the cell the trained " +
      "quantizer assigns, and the grown index serves them") {
    // the trained-quantizer flavor of q176's growth loop: coarse =
    // Lloyd centroids in grid units, metric l2_grid — appended rows
    // must land exactly where Clustering's own assignment rule puts
    // them (grid sqDist argmin, low-cid ties)
    import graft.vector.Clustering
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .persist()
    val old = emb.filter(col("vec_id") % 10 =!= 0)
    val fresh = emb.filter(col("vec_id") % 10 === 0)
    val (cells, cent) = Similarity.ivfCellsTrainedWithCentroids(
      old, "vec_id", "embedding", nCells = 4, iters = 2)
    val model = Similarity.pqFit(old, "vec_id", "embedding",
      m = 2, subDims = 32, k = 4, iters = 2)
    val table = "pq_index_l2grid_spec"
    Similarity.writePqIndex(model, cells, "vec_id", table,
      coarse = Some((cent, "l2_grid")))
    model.release()
    Similarity.appendPqIndex(spark, table, fresh, "embedding")
    val (served, cellsR) = Similarity.readPqIndex(spark, table)
    // appended assignments = the quantizer's own rule, replayed directly
    val expected = fresh
      .select(col("vec_id"),
        Clustering.quantize(col("embedding")).cast("array<double>").as("dv"))
      .crossJoin(broadcast(cent.select(col("cell").as("ccid"), col("cv"))))
      .select(col("vec_id"), col("ccid"),
        Clustering.sqDist(col("dv"), col("cv")).as("d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("ccid"))).as("best"))
      .select(col("vec_id"), col("best.ccid").as("cell"))
      .as[(Long, Long)].collect().toMap
    val appended = cellsR
      .join(fresh.select(col("vec_id").as("cell_id")), "cell_id")
      .as[(Long, Long)].collect().toMap
    assert(appended == expected, "appended cell assignments diverged")
    // and the grown index serves a new-row query
    val q = fresh.orderBy("vec_id").limit(1)
    val top = Similarity.ivfPqTopK(served, cellsR, "vec_id", "embedding",
        q, topK = 5)
      .as[(Long, Double)].collect()
    assert(top.nonEmpty)
    emb.unpersist(blocking = false)
  }

  test("clustered corpus: trained cells and residual coding pay off " +
      "(q168/q169/q172 positive case)") {
    // round-10 verdict item 3: the two honest negative findings — trained
    // k-means cells and residual coding buy nothing on STRUCTURE-FREE
    // synthetic embeddings — leave the capabilities unproven in the
    // regime they exist for. This plants that regime (BlobFixture: 64
    // tight blobs ≫ the 32-codeword budget, so raw PQ codes cannot
    // resolve intra-blob structure while residual codes are blob-count-
    // independent; 64 cells whose lowest-id seeds undercover the blobs,
    // so the trained quantizer's candidate sets are strictly better) and
    // asserts the POSITIVE cases. Every input is hash-derived and every
    // algorithm deterministic, so these recalls are exact regression
    // pins, not statistical gates; measured values in the info lines
    // (numbers in PLANS.md, "Clustered-blob fixture", round 11).
    // The sf0.1 structure-free tests above keep asserting no-collapse,
    // so both regimes are now pinned.
    val emb = graft.tools_dev.BlobFixture.embeddings(spark, n = 4000,
      dims = 16, nBlobs = 64, spread = 0.15).persist()
    val queries = emb.orderBy("vec_id").limit(8).select("vec_id").as[Long].collect()
    val truths: Map[Long, Set[Long]] = queries.map { qid =>
      qid -> Similarity.knnBrute(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") === qid), k = 10)
        .select("vec_id").as[Long].collect().toSet
    }.toMap
    def recallOf(fn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Double =
      queries.map { qid =>
        val q = emb.filter(col("vec_id") === qid)
        (fn(q).select("vec_id").as[Long].collect().toSet & truths(qid)).size / 10.0
      }.sum / queries.length
    val untrained = Similarity.ivfCells(emb, "vec_id", "embedding", nCells = 64)
      .persist()
    val trained = Similarity.ivfCellsTrained(emb, "vec_id", "embedding",
      nCells = 64, iters = 4).persist()
    // candidate-funnel channel: exact-cosine search per cell frame
    val exactU = recallOf(q =>
      Similarity.annIvfWithCells(emb, "vec_id", "embedding", untrained, q, k = 10))
    val exactT = recallOf(q =>
      Similarity.annIvfWithCells(emb, "vec_id", "embedding", trained, q, k = 10))
    // code-resolution channel: raw vs anchored-residual coding at the
    // SAME budget (m=4, subDims=4, k=32) on the SAME cells
    val model = Similarity.pqFit(emb, "vec_id", "embedding",
      m = 4, subDims = 4, k = 32, iters = 3)
    val rawU = recallOf(q =>
      Similarity.ivfPqTopK(model, untrained, "vec_id", "embedding", q, topK = 10))
    val rawT = recallOf(q =>
      Similarity.ivfPqTopK(model, trained, "vec_id", "embedding", q, topK = 10))
    model.release()
    def residRecall(cells: org.apache.spark.sql.DataFrame): Double = {
      val resid = Similarity.ivfResidualsAnchored(emb, "vec_id", "embedding", cells)
        .persist()
      val modelRes = Similarity.pqFit(resid, "vec_id", "resid",
        m = 4, subDims = 4, k = 32, iters = 3, distinctSeeds = true)
      val r = recallOf { q =>
        val qResid = resid.join(broadcast(q.select("vec_id")), Seq("vec_id"))
        Similarity.ivfPqTopK(modelRes, cells, "vec_id", "resid", qResid, topK = 10)
      }
      modelRes.release(); resid.unpersist(blocking = false)
      r
    }
    val resU = residRecall(untrained)
    val resT = residRecall(trained)
    info(f"exact IVF recall@10: untrained=$exactU%.2f trained=$exactT%.2f")
    info(f"ADC raw  recall@10: untrained=$rawU%.2f trained=$rawT%.2f")
    info(f"ADC res  recall@10: untrained=$resU%.2f trained=$resT%.2f")
    untrained.unpersist(blocking = false); trained.unpersist(blocking = false)
    emb.unpersist(blocking = false)
    // positive case 1 — trained cells pay where cells matter: strictly
    // better candidate sets (probe: 0.94 vs 0.83)
    assert(exactT > exactU,
      f"trained cells did not pay on the clustered corpus: $exactT%.2f <= $exactU%.2f")
    // positive case 2 — residual coding pays where codes matter:
    // strictly better ADC recall than raw coding on BOTH cell frames
    // (probe: 0.44 vs 0.34 untrained, 0.43 vs 0.24 trained) — the exact
    // inversion of q169's structure-free finding
    assert(resU > rawU,
      f"residual coding did not pay (untrained cells): $resU%.2f <= $rawU%.2f")
    assert(resT > rawT,
      f"residual coding did not pay (trained cells): $resT%.2f <= $rawT%.2f")
    // positive case 3 — the production config (q172: trained + anchored
    // residual) beats the naive config (untrained + raw) end-to-end
    assert(resT > rawU,
      f"production config under naive config: $resT%.2f <= $rawU%.2f")
  }

  test("quantizeInt8: codes, negatives, ties round half-up, zero vector") {
    val df = Seq(
      (1L, Array(1.0f, -1.0f, 0.5f, 0.0f)),  // amax 1: ±127, 64 (63.5+0.5→64), 0
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),   // all-zero: no div-by-zero
      (3L, Array(-2.0f, 1.0f, 0.0f, 0.0f)))  // amax 2 from a negative
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .as[(Long, Int, Double, Seq[Int], Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._4 == Seq(127, -127, 64, 0) && out(1L)._5 == 64L)
    assert(out(1L)._3 == 1.0 && out(1L)._2 == 4)
    assert(out(2L)._4 == Seq(0, 0, 0, 0) && out(2L)._3 == 0.0)
    assert(out(3L)._4 == Seq(-127, 64, 0, 0)) // -2/2→-127; 1/2→63.5+0.5→64
  }
}
