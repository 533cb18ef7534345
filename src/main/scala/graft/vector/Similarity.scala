package graft.vector

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

import graft.obs.span

/** Vector/ML operator library (SURVEY §2.11 V2 kNN retrieval + the ANN
  * scale path from the brief).
  *
  * Everything is higher-order-function column math (`zip_with` +
  * `aggregate`) — codegen'd, no UDFs, no driver-side loops. Dot products
  * fold left-to-right over doubles, which DuckDB's `list_reduce` mirrors
  * bit-for-bit, so cosine scores are hash-comparable across engines.
  *
  * Reference behavior mirrored: ChromaDB cosine-space kNN with n_results=k
  * and metadata pre-filtering (scripts/query_embeddings.py:52-58,
  * ingest_community_summaries.py:136-139 in /root/reference).
  */
object Similarity {

  /** Exact float→double widening; keeps Spark and DuckDB bit-identical. */
  def vecD(c: Column): Column = c.cast("array<double>")

  /** Left-to-right fold dot product — order-deterministic. Codegen'd
    * Catalyst expression (graft.functions.VecDot): same IEEE fold as the
    * earlier `aggregate(zip_with(...))` HOF form (bit-identical results,
    * so every DuckDB oracle still matches) but runs as a primitive loop
    * inside whole-stage codegen instead of an interpreted per-element
    * lambda — ~3× on all-pairs similarity scans (round 5). (An index-fold
    * via element_at over sequence(1, size(a)) had been measured equal to
    * the HOF form — both were interpreter-bound.) */
  def dot(a: Column, b: Column): Column =
    // identity casts optimize away for array<double> inputs; non-double
    // arrays (e.g. the ±1 int hyperplanes in annLsh) NEED the cast —
    // VecDot reads primitive doubles and does no implicit coercion (the
    // HOF form coerced through the lambda's multiply)
    graft.functions.VectorExpressions.vecDot(
      a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Brute-force cosine top-k against one query vector (the exact
    * baseline). The single query row is broadcast; scoring is an
    * embarrassingly parallel scan + TakeOrderedAndProject — the right
    * plan at any scale when k is small. */
  def knnBrute(
      emb: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, k: Int): DataFrame = {
    val corpus = emb.select(
      col(idCol), vecD(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = broadcast(query.select(
      col(idCol).as("q_id"), vecD(col(vecCol)).as("qv"))
      .withColumn("q_nrm", norm(col("qv"))))
    corpus.crossJoin(q)
      .filter(col(idCol) =!= col("q_id"))
      .select(col(idCol), cosine(col("v"), col("qv"), col("nrm"), col("q_nrm")).as("cos_raw"))
      .orderBy(col("cos_raw").desc, col(idCol).asc)
      .limit(k)
  }

  /** Contrastive-training triple mining: for each anchor, rank the rest
    * of the corpus by cosine — ranks ≤ nPos are the POSITIVES, the next
    * nNeg are the HARD NEGATIVES (the highest-similarity non-positives,
    * the examples that carry the most gradient signal in contrastive /
    * triplet training; random negatives are trivially separable). One
    * output row per (anchor, candidate) with rank and role.
    *
    * Scale: the anchor set broadcasts (small by design — training pairs
    * are mined per anchor batch); the corpus scans once, shuffles once
    * on q_id for the per-anchor rank window. For corpus-sized anchor
    * sets, pre-bucket with the LSH/IVF candidate paths instead of the
    * exact scan. */
  def hardNegatives(
      emb: DataFrame, idCol: String, vecCol: String,
      anchors: DataFrame, nPos: Int, nNeg: Int): DataFrame = {
    val corpus = emb.select(col(idCol), vecD(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = broadcast(anchors.select(
      col(idCol).as("q_id"), vecD(col(vecCol)).as("qv"))
      .withColumn("q_nrm", norm(col("qv"))))
    val scored = corpus.crossJoin(q)
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        cosine(col("v"), col("qv"), col("nrm"), col("q_nrm")).as("cos_raw"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_raw").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= nPos + nNeg)
      .select(col("q_id"), col(idCol), col("rank"),
        when(col("rank") <= nPos, "positive").otherwise("hard_negative").as("role"),
        col("cos_raw"))
  }

  /** Position-discount weights for NDCG@k: w_i = 1/log2(i+1), i = 1..k,
    * precomputed ONCE as Scala doubles and embedded as shortest-repr
    * literals in both engines — transcendentals never evaluate inside a
    * query, so cross-engine log() ulp drift can't touch the result. */
  def ndcgWeights(k: Int): Seq[Double] =
    (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  /** Ideal-DCG prefix sums of [[ndcgWeights]] (index i = best possible
    * DCG with i relevant docs in the top-k), same literal discipline. */
  def ndcgIdealPrefix(k: Int): Seq[Double] =
    ndcgWeights(k).scanLeft(0.0)(_ + _).tail

  /** Retrieval-quality metrics — the evaluation side of the retrieval
    * stack (the numbers an index/reranker deployment is judged by),
    * computed in-engine: for each anchor query, rank the corpus by
    * exact cosine ((cos desc, id asc) — bit-deterministic) with
    * relevance = label equality, and report per query:
    *
    *   - n_rel, first_rel_rank, MRR = 1/first_rel_rank,
    *   - P@k = |relevant ∩ top-k| / k,
    *   - NDCG@k with binary gains: DCG = Σ_{rel, rank≤k} w_rank folded
    *     in rank order (collect_list → sort → fold, the bm25 ordered-sum
    *     discipline — a plain SUM's aggregation order is
    *     nondeterministic in doubles), IDCG = prefix[min(n_rel, k)].
    *
    * Every float op is a product/sum/quotient of identical literals and
    * identically-derived doubles, so results are bit-equal across
    * engines without rounding. Scale shape: one broadcast-anchor corpus
    * scan + one q_id-partitioned rank window + one hash agg — the
    * hardNegatives plan with an aggregation tail. */
  def retrievalMetrics(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
      anchors: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wArr = array(ndcgWeights(k).map(lit): _*)
    val pArr = array(ndcgIdealPrefix(k).map(lit): _*)
    val corpus = emb.select(col(idCol), col(labelCol).as("lbl"), vecD(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = broadcast(anchors.select(col(idCol).as("q_id"),
        col(labelCol).as("q_lbl"), vecD(col(vecCol)).as("qv"))
      .withColumn("q_nrm", norm(col("qv"))))
    val scored = corpus.crossJoin(q)
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        (col("lbl") === col("q_lbl")).as("rel"),
        cosine(col("v"), col("qv"), col("nrm"), col("q_nrm")).as("cos_raw"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_raw").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .groupBy("q_id")
      .agg(
        sum(when(col("rel"), 1L).otherwise(0L)).as("n_rel"),
        min(when(col("rel"), col("rank"))).as("first_rel_rank"),
        sum(when(col("rel") && col("rank") <= k, 1L).otherwise(0L)).as("hits"),
        // rank-ordered fold, 0.0 seed (adding zero is exact)
        aggregate(
          transform(
            array_sort(collect_list(when(col("rel") && col("rank") <= k,
              struct(col("rank").as("r"),
                element_at(wArr, col("rank").cast("int")).as("w"))))),
            x => x.getField("w")),
          lit(0.0), _ + _).as("dcg"))
      .select(col("q_id"), col("n_rel"), col("first_rel_rank"),
        when(col("first_rel_rank").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("first_rel_rank")).as("mrr"),
        (col("hits").cast("double") / k).as("p_at_k"),
        when(col("n_rel") === 0, lit(0.0))
          .otherwise(col("dcg") / element_at(pArr,
            greatest(least(col("n_rel"), lit(k.toLong)), lit(1L)).cast("int")))
          .as("ndcg_at_k"))
  }

  /** Nearest neighbor per vector within a blocking column (embedding-based
    * near-dup detection: block → pairwise cosine → best match; callers
    * threshold the score). The block join is an equi-join, never a global
    * cross product. */
  def nearestInBlock(
      emb: DataFrame, idCol: String, vecCol: String, blockCol: String): DataFrame = {
    val base = emb.select(
      col(idCol), col(blockCol), vecD(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val a = base.select(
      col(idCol).as("id_a"), col(blockCol).as("blk"),
      col("v").as("va"), col("nrm").as("na"))
    val b = base.select(
      col(idCol).as("id_b"), col(blockCol).as("blk"),
      col("v").as("vb"), col("nrm").as("nb"))
    // argmax by (cos desc, id_b asc) as a hash-agg max(struct(cos,-id)) —
    // no per-partition sort; ties break identically to the window form
    // (raw cosines are bit-deterministic, so cross-engine order agrees)
    a.join(b, Seq("blk"))
      .filter(col("id_a") =!= col("id_b"))
      .select(
        col("id_a"), col("id_b"),
        cosine(col("va"), col("vb"), col("na"), col("nb")).as("cos_raw"))
      .groupBy("id_a")
      .agg(max(struct(col("cos_raw"), (-col("id_b")).as("nid"))).as("best"))
      .select(col("id_a"), (-col("best.nid")).as("id_b"), col("best.cos_raw").as("cos_raw"))
  }

  /** Deterministic ±1 hyperplane matrix for sign-random-projection LSH:
    * sign(p,k) derived from the parity of the first hex nibble of
    * md5("p:k"). Computed once at plan-build time and inlined as literals
    * (the DuckDB oracle inlines the same constants). */
  def hyperplaneSigns(planes: Int, dims: Int): Array[Array[Int]] = {
    val mdt = MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dims) { (p, k) =>
      val hex = mdt.digest(s"$p:$k".getBytes(StandardCharsets.UTF_8))
      // first hex nibble = high nibble of byte 0
      if (((hex(0) >> 4) & 0xF) % 2 == 0) 1 else -1
    }
  }

  /** Random-hyperplane LSH bucket id ('0'/'1' bitstring, one bit per
    * plane): the ANN scale path — bucket once (a pure projection, no
    * shuffle), then search only within the query's bucket. */
  def lshBucket(vec: Column, signs: Array[Array[Int]]): Column = {
    val bits = signs.map { plane =>
      val sv = array(plane.toIndexedSeq.map(lit(_)): _*)
      when(dot(vec, sv) >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits.toIndexedSeq: _*)
  }

  /** IVF-style ANN: a coarse quantizer assigns every vector to its
    * nearest centroid cell (argmax cosine, ties → smaller centroid id);
    * search probes only the query's cell and re-ranks by exact cosine.
    *
    * Centroids here are the `nCells` lowest-id vectors — a deterministic,
    * training-free quantizer so the whole operator has an exact SQL
    * oracle; a production build would drop k-means centroids into the
    * same `cent` table and nothing else changes. Scale shape: centroids
    * broadcast, assignment is one scan + hash-agg argmax (no window
    * sort), probe is an equi-join on the cell id. */
  /** The IVF coarse-quantizer cell assignment — (cell_id, cell) for
    * every corpus vector. Centroids are the `nCells` lowest-id vectors
    * (deterministic, training-free — see [[annIvf]]); assignment is one
    * broadcast scan + hash-agg argmax, no window sort. */
  /** Cosine-argmax cell assignment against an explicit centroid frame
    * (cell, cv raw-double vectors) — THE assignment body of [[ivfCells]]
    * and the add-time rule of [[appendPqIndex]] under cos_raw; one
    * shared implementation so train-time and add-time assignments can
    * never diverge (round-11 review). Ties break low-id, the ivfCells
    * rule. Returns (cell_id, cell). */
  private[vector] def cosAssign(
      emb: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame): DataFrame = {
    val corpus = emb.select(col(idCol), vecD(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    // one broadcast array row + a per-row argmax fold, replacing the old
    // crossJoin→groupBy(id) shape (nCells rows per vector shuffled back
    // to 1 — a corpus-sized exchange per assignment; r16 guide §2.4).
    // Bit-identical: array_max over (ccos, -cid) structs is the same
    // total order the groupBy max(struct) used, so ties still break
    // low-cid; collect_list order is irrelevant under a total order.
    val c = broadcast(cent
      .select(col("cell").as("cid"), col("cv").cast("array<double>").as("cvv"))
      .withColumn("cnrm", norm(col("cvv")))
      .agg(collect_list(struct(col("cid"), col("cvv"), col("cnrm"))).as("cents")))
    corpus.crossJoin(c)
      .select(col(idCol).as("cell_id"),
        (-array_max(transform(col("cents"),
          cc => struct(
            cosine(col("v"), cc.getField("cvv"), col("nrm"),
              cc.getField("cnrm")).as("ccos"),
            (-cc.getField("cid")).as("ncid"))))
          .getField("ncid")).as("cell"))
  }

  def ivfCells(
      emb: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame =
    cosAssign(emb, idCol, vecCol,
      emb.select(col(idCol).as("cell"), vecD(col(vecCol)).as("cv"))
        .orderBy(col("cell")).limit(nCells))

  def annIvf(
      emb: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, k: Int, nCells: Int): DataFrame =
    annIvfWithCells(emb, idCol, vecCol,
      ivfCells(emb, idCol, vecCol, nCells), query, k)

  /** TRAINED IVF coarse quantizer: cells from the deterministic
    * [[Clustering.kmeans]] instead of the `nCells` lowest-id vectors —
    * the production-shaped quantizer (round-9 verdict item 3: the
    * training-free cells are why IVF-PQ recall floored at 0.33 at
    * sf0.1). Same deterministic/oracle story as q97: quantized integer
    * coordinates, exact-integer centroid sums, (distance, cid) argmin —
    * the assignment replays exactly in SQL. Returns (cell_id, cell)
    * with cell = the seed vector's id, drop-in for every `cells`
    * consumer ([[annIvfWithCells]], [[ivfPqTopK]]). */
  def ivfCellsTrained(
      emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int): DataFrame =
    Clustering.kmeans(emb, idCol, vecCol, nCells, iters)
      .select(col(idCol).as("cell_id"), col("cluster").as("cell"))

  /** [[ivfCellsTrained]] plus the trained centroid frame (cell, cv) —
    * the pair a multi-probe serving path needs: the assignment to build
    * the index, the centroids to rank cells per query
    * ([[ivfProbeCellsTrained]]). */
  def ivfCellsTrainedWithCentroids(
      emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int): (DataFrame, DataFrame) = {
    val (asg, cent) = Clustering.kmeansWithCentroids(
      emb, idCol, vecCol, nCells, iters)
    (asg.select(col(idCol).as("cell_id"), col("cluster").as("cell")),
      cent.select(col("cid").as("cell"), col("cv")))
  }

  /** The query's `nProbe` nearest TRAINED cells — [[ivfProbeCells]]'
    * nprobe knob for a k-means quantizer. Cells rank by the SAME metric
    * the assignment argmin'd (grid-unit euclidean sqDist to the trained
    * centroid, ties on cell id), so nProbe=1 probes exactly the query's
    * own cell and the probe list is a rank-prefix — the monotonicity
    * [[ivfPqRefineTopK]]'s per-cell quotas rely on. `cent` =
    * [[ivfCellsTrainedWithCentroids]]' centroid frame. A pure broadcast
    * computation (k rows). Returns `q_cell` (nProbe rows). */
  def ivfProbeCellsTrained(
      cent: DataFrame, query: DataFrame, vecCol: String,
      nProbe: Int): DataFrame = {
    val q = query.limit(1).select(
      Clustering.quantize(col(vecCol)).cast("array<double>").as("qd"))
    cent.crossJoin(broadcast(q))
      .select(col("cell"), Clustering.sqDist(col("qd"), col("cv")).as("d2"))
      .orderBy(col("d2").asc, col("cell").asc)
      .limit(nProbe)
      .select(col("cell").as("q_cell"))
  }

  /** IVF exact-cosine search within the query's cell, for ANY cell
    * assignment frame (training-free [[ivfCells]] or trained
    * [[ivfCellsTrained]]) — the shared search body: the query's cell
    * comes off the same assignment (the query is a corpus member), the
    * probe is an equi-join on the cell id, ranking is one TakeOrdered. */
  def annIvfWithCells(
      emb: DataFrame, idCol: String, vecCol: String,
      cells: DataFrame, query: DataFrame, k: Int): DataFrame = {
    val corpus = emb.select(col(idCol), vecD(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = broadcast(query.select(col(idCol).as("q_id"), vecD(col(vecCol)).as("qv"))
      .withColumn("q_nrm", norm(col("qv")))
      .join(cells.select(col("cell_id").as("q_id"), col("cell").as("q_cell")), "q_id"))
    corpus.join(cells, col(idCol) === col("cell_id"))
      .join(q, col("cell") === col("q_cell") && col(idCol) =!= col("q_id"))
      .select(col(idCol), col("cell"),
        cosine(col("v"), col("qv"), col("nrm"), col("q_nrm")).as("cos_raw"))
      .orderBy(col("cos_raw").desc, col(idCol).asc)
      .limit(k)
  }

  /** ANN: top-k by exact cosine *within the query's LSH bucket*. Returns
    * (id, bucket, cos_raw). Recall vs brute force is the usual SRP-LSH
    * trade; the candidate set shrinks ~2^planes-fold. */
  def annLsh(
      emb: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, k: Int, planes: Int, dims: Int): DataFrame = {
    val signs = hyperplaneSigns(planes, dims)
    val corpus = emb.select(col(idCol), vecD(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("bucket", lshBucket(col("v"), signs))
    val q = broadcast(query.select(col(idCol).as("q_id"), vecD(col(vecCol)).as("qv"))
      .withColumn("q_nrm", norm(col("qv")))
      .withColumn("q_bucket", lshBucket(col("qv"), signs)))
    corpus.join(q, col("bucket") === col("q_bucket") && col(idCol) =!= col("q_id"))
      .select(
        col(idCol), col("bucket"),
        cosine(col("v"), col("qv"), col("nrm"), col("q_nrm")).as("cos_raw"))
      .orderBy(col("cos_raw").desc, col(idCol).asc)
      .limit(k)
  }

  /** Multi-probe SRP-LSH (Lv et al. 2007, "Multi-Probe LSH"): search the
    * query's bucket AND every bucket at Hamming distance 1 (one flipped
    * plane) — the standard recall remedy for sign-random-projection
    * indexes, where a true near neighbor sits on the far side of a
    * single hyperplane far more often than of several. Candidate set is
    * (planes+1)/2^planes of the corpus in expectation (vs 1/2^planes
    * single-probe); measured on the synthetic embeddings at sf0.1 this
    * lifts recall@10 from ~0.19 (single-probe, 4 planes) to a level the
    * SimilaritySpec floor enforces. Same scale shape as [[annLsh]]: the
    * bucket id is a pure projection, probes ride the broadcast query
    * side (planes+1 rows per query), and the probe match is an
    * equi-join — never a corpus scan per probe. */
  def annLshMultiProbe(
      emb: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, k: Int, planes: Int, dims: Int): DataFrame = {
    val signs = hyperplaneSigns(planes, dims)
    val corpus = emb.select(col(idCol), vecD(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("bucket", lshBucket(col("v"), signs))
    // probe list: the bucket itself plus each 1-bit flip, built from
    // substrings so both engines replay it byte-for-byte
    val probeCols = col("q_bucket") +: (0 until planes).map { i =>
      concat(
        substring(col("q_bucket"), 1, i),
        when(substring(col("q_bucket"), i + 1, 1) === "1", lit("0"))
          .otherwise(lit("1")),
        substring(col("q_bucket"), i + 2, planes - i - 1))
    }
    val q = broadcast(query
      .select(col(idCol).as("q_id"), vecD(col(vecCol)).as("qv"))
      .withColumn("q_nrm", norm(col("qv")))
      .withColumn("q_bucket", lshBucket(col("qv"), signs))
      .withColumn("probe", explode(array(probeCols: _*))))
    corpus.join(q, col("bucket") === col("probe") && col(idCol) =!= col("q_id"))
      .select(
        col(idCol), col("bucket"),
        cosine(col("v"), col("qv"), col("nrm"), col("q_nrm")).as("cos_raw"))
      .orderBy(col("cos_raw").desc, col(idCol).asc)
      .limit(k)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): documents whose
    * EMBEDDINGS nearly coincide are semantic duplicates even when no
    * n-gram overlaps (translations, templated rewrites, boilerplate
    * paraphrase) — the dedup mode MinHash/SimHash structurally miss.
    * The paper's recipe, re-expressed Spark-first:
    *
    *   1. coarse k-means over the embeddings ([[Clustering.kmeans]] —
    *      deterministic: quantized coordinates, (distance, cid)
    *      argmin) — the blocking step that keeps stage 2 off the n²
    *      cliff;
    *   2. WITHIN each cluster, connect pairs with cosine ≥ τ (exact
    *      bit-identical fold, so the threshold test agrees across
    *      engines);
    *   3. connected components over the τ-graph; each group keeps its
    *      min-id member, the rest are flagged duplicates. (The paper
    *      keeps a per-group representative too — min-id is the
    *      deterministic choice an oracle can replay.)
    *
    * Scale shape: the pair stage is an intra-cluster block equi-join —
    * at production scale k tracks corpus size (the paper uses ~10⁵
    * clusters for ~10⁸ docs) so cluster sizes, and the pair cost,
    * stay bounded; CC runs on the τ-graph only (≪ corpus). Returns
    * (idCol, cluster, keep_id, is_dup) for every embedded doc,
    * checkpointed and materialized; every intermediate is released.
    *
    * CC over the τ-graph is [[graft.graph.GraphOps.ccAuto]]'s engine
    * pick: a union-find on the driver at or below `graphxMaxEdges`
    * pairs, min-propagation supersteps above. The threshold is LOWER
    * here than fuzzyDedup's 2M because semDedup's τ-graphs are dense
    * near-clique blobs (ccAuto's doc has the measurements). It affects
    * wall time only. */
  def semDedup(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, tau: Double,
      graphxMaxEdges: Long = 50000L): DataFrame = span("vector.semDedup") {
    // persist the clustered-vector frame: it feeds BOTH sides of the
    // pair join AND the final projection — without the cache every
    // consumer re-executes the full Lloyd chain (measured 31 s → ~8 s
    // for q143 at sf0.1)
    val v = emb.select(col(idCol), vecD(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .join(Clustering.kmeans(emb, idCol, vecCol, k, iters), idCol)
      .persist()
    val a = v.select(col(idCol).as("ia"), col("cluster"),
      col("v").as("va"), col("nrm").as("na"))
    val b = v.select(col(idCol).as("ib"), col("cluster"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("ia") < col("ib"))
      .filter(cosine(col("va"), col("vb"), col("na"), col("nb")) >= tau)
      .select(col("ia").as("src"), col("ib").as("dst"))
    val comp = graft.graph.GraphOps.ccAuto(pairs, "src", "dst", graphxMaxEdges,
      maxIter = 20, pointerJumping = false)
    // a checkpoint, not a persist: no later plan can reach the component
    // checkpoint released below
    val out = v.select(col(idCol), col("cluster"))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(col("component"), col(idCol)).as("keep_id"))
      .withColumn("is_dup", col("keep_id") =!= col(idCol))
      .localCheckpoint(eager = false)
    val n = out.count()
    graft.graph.GraphOps.releaseLocalCheckpoint(comp)
    v.unpersist(blocking = false)
    GraftSqlBridge.withRowBound(out, n)
  }

  /** The corpus-scaled SemDeDup k (the paper's own sizing: cluster COUNT
    * tracks corpus size so cluster SIZES — and the intra-cluster pair
    * cost, the only super-linear stage — stay bounded; Abbas et al. use
    * ~10⁵ clusters for ~10⁸ docs ≈ 10³ docs/cluster). k = ⌈n/target⌉
    * clamped to [1, maxK].
    *
    * The default target (1024) is the paper's ratio AND the measured
    * sf10 sweet spot (n = 200 k): total cost is U-shaped in k — too few
    * clusters explode the pair stage (k=8: 204–249 s), too many pay the
    * brute-force Lloyd assignment's O(n·k) (k=782: 274 s) — while
    * k=196 (target 1024) ran 64.7 s and k=64 (target 3125) 58.0 s.
    * More clusters also trade a little recall: cross-cluster near-dup
    * pairs are invisible by design (0.26 % fewer dup flags at k=64 vs
    * k=8 on the replicated sf10 corpus). */
  def semDedupAutoK(n: Long, targetClusterSize: Long, maxK: Int = 1 << 17): Int = {
    require(targetClusterSize > 0, "targetClusterSize must be positive")
    // overflow-free ceil(n/t): the additive form n+t-1 wraps Long for
    // n near Long.MaxValue (the same trap class as heavyHitters' q159 fix)
    val ceil = n / targetClusterSize + (if (n % targetClusterSize > 0) 1L else 0L)
    math.min(maxK.toLong, math.max(1L, ceil)).toInt
  }

  /** [[semDedup]] with the corpus-scaled k derived from the input itself
    * — a sizing helper, not a behavior change: delegates to semDedup
    * with k = [[semDedupAutoK]](count, targetClusterSize). The count is
    * one scalar job (the fixed-point-loop convention); everything else
    * is identical, so results equal semDedup at the same k. */
  def semDedupAuto(
      emb: DataFrame, idCol: String, vecCol: String,
      iters: Int, tau: Double, targetClusterSize: Long = 1024L): DataFrame =
    semDedup(emb, idCol, vecCol,
      semDedupAutoK(emb.count(), targetClusterSize), iters, tau)

  /** Symmetric int8 quantization of an embedding column — the 4×
    * vector-store compression step (q = ⌊127·x/amax + 0.5⌋ per element,
    * amax = per-vector max |x|). Every op in the chain is IEEE-exact
    * (widening cast, mul, div, add, floor) so the quantized codes are
    * bit-identical in any engine — no transcendentals, unlike a
    * round() whose tie rule differs across engines. All-zero vectors
    * (amax = 0) quantize to all zeros rather than dividing by zero.
    * Returns (idCol, n_dims, amax, q, sum_q); dequantization is
    * q·amax/127. Scale: embarrassingly parallel single projection. */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = vecD(col(vecCol))
    val amax = array_max(transform(v, x => abs(x)))
    val q = when(amax === 0.0, transform(v, _ => lit(0)))
      .otherwise(transform(v,
        x => floor(x * lit(127.0) / amax + lit(0.5)).cast("int")))
    emb.select(col(idCol), size(v).as("n_dims"), amax.as("amax"), q.as("q"))
      .withColumn("sum_q",
        aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast("long")))
  }

  /** Product-quantization codes (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search") — the vector-store
    * compression step beyond per-vector int8 ([[quantizeInt8]]): split
    * each vector into `m` contiguous `subDims`-dim subvectors, learn a
    * k-codeword codebook PER subvector with the deterministic
    * [[Clustering.kmeans]], and store each vector as m small codes
    * (64-dim float32 → m bytes at k ≤ 256: 32× compression, and ADC
    * lookup tables replace full dot products at query time).
    *
    * Codes are the seed-vector ids of [[Clustering.kmeans]] — fully
    * deterministic, so the whole codebook+assignment has an exact SQL
    * oracle. Scale shape: m independent kmeans runs over sliced columns
    * (each: broadcast centroids + one scan + a k·subDims-sized agg per
    * iteration), then an m-way id-keyed join of the per-subvector code
    * frames — all hash joins on the id, no pairwise work.
    * Returns (idCol, code_0 … code_{m-1}). */
  def pqCodes(
      emb: DataFrame, idCol: String, vecCol: String,
      m: Int, subDims: Int, k: Int, iters: Int): DataFrame = {
    val codes = (0 until m).map { s =>
      val sub = emb.select(col(idCol),
        slice(vecD(col(vecCol)), s * subDims + 1, subDims).as("sub"))
      Clustering.kmeans(sub, idCol, "sub", k, iters)
        .select(col(idCol), col("cluster").as(s"code_$s"))
    }
    codes.reduce(_.join(_, Seq(idCol)))
  }

  /** A fitted PQ model — the reusable artifact a real pipeline fits ONCE
    * and serves every search from (re-fitting m k-means runs per query
    * was q146's measured ~2× fit cost). Per subvector `s`:
    * `asg(s)` = the corpus code assignment (idCol, cluster), persisted;
    * `cent(s)` = the exact-integer codebook centroids (cid, cv), k rows,
    * persisted. [[release]] drops both cache sets. */
  final case class PqModel(
      m: Int, subDims: Int,
      asg: Seq[DataFrame], cent: Seq[DataFrame],
      // the actually-persisted assignment frames (carry qv; `asg` are
      // narrow projections of these) — release() must unpersist the
      // frames persist() was called on, not derived plans (r16)
      private val cached: Seq[DataFrame] = Nil) {
    def release(): Unit = {
      (if (cached.nonEmpty) cached else asg)
        .foreach(_.unpersist(blocking = false))
      cent.foreach(_.unpersist(blocking = false))
    }
  }

  /** Fit the PQ model: m independent deterministic k-means runs over the
    * subvector slices (exactly [[pqCodes]]' fits) PLUS the exact-integer
    * final-assignment centroids [[pqAdcTopK]] searches against. Both
    * frames are persisted and materialized here so downstream consumers
    * (code extraction, any number of ADC searches) never re-run a fit.
    * Scale shape unchanged from pqCodes/pqAdcTopK: broadcast centroids,
    * k·subDims-bounded aggs, no pairwise work.
    *
    * The m chains materialize CONCURRENTLY (round 14): kmeans builds a
    * lazy plan, so the fit's only driver barriers were the per-subspace
    * `cent.count()` calls — sequential, they serialized m full Lloyd
    * DAGs end to end even though the chains share nothing. One
    * submitting thread per chain overlaps them (Spark job submission is
    * thread-safe; under FIFO, idle task slots drain later jobs' stages
    * — the iteration stages are k·dim-sized aggs that never saturate a
    * cluster alone). Results are bit-identical either way: each chain
    * is a pure function of its slice (the determinism contract above),
    * and the q145/q151/q153/q167–q176 oracles pin exactly that.
    * One prerequisite: a caller-persisted input (the residual variants
    * pass a lazily-persisted `resid` frame) is materialized HERE, before
    * the fan-out — otherwise every chain's first job races to compute
    * the shared upstream plan m times over (same answers, m× the work;
    * Spark's cache fills per-partition best-effort under concurrency). */
  def pqFit(
      emb: DataFrame, idCol: String, vecCol: String,
      m: Int, subDims: Int, k: Int, iters: Int,
      distinctSeeds: Boolean = false): PqModel = span("vector.pqFit") {
    if (emb.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      emb.count() // one pass fills the cache the m chains then share
    val fitted = graft.operators.Concurrent.mapInParallel(0 until m) { s =>
      val sub = emb.select(col(idCol),
        slice(vecD(col(vecCol)), s * subDims + 1, subDims).as("sub"))
      // kmeansFull's assignment carries the quantized subvector, so the
      // final-codebook update below reads it straight off the assignment
      // — the old `asg ⋈ qsub` id-join (a corpus-sized exchange per
      // subspace, r16 guide §2.4) is gone. The persisted asg keeps the
      // (id, cluster) shape every consumer expects; qv is dropped first.
      val (asgq, _) = Clustering.kmeansFull(
        sub, idCol, "sub", k, iters, distinctSeeds)
      val asgFull = asgq.persist()
      val asg = asgFull.select(col(idCol), col("cluster"))
      val cent = asgFull
        .select(col("cluster").as("cid"), posexplode(col("qv")).as(Seq("d", "q")))
        .groupBy("cid", "d")
        .agg(sum("q").as("s"), count(lit(1)).as("n"))
        .groupBy("cid")
        .agg(transform(
          array_sort(collect_list(struct(col("d").as("d"),
            (col("s").cast("double") / col("n")).as("m")))),
          x => x.getField("m")).as("cv"))
        .persist()
      cent.count() // materializes cent AND populates asgFull's cache
      (asg, asgFull, cent)
    }
    PqModel(m, subDims, fitted.map(_._1), fitted.map(_._3),
      fitted.map(_._2))
  }

  /** PQ codes read off a fitted model — bit-identical to [[pqCodes]]
    * (same deterministic fits), zero additional k-means work. */
  def pqCodesFromModel(model: PqModel, idCol: String): DataFrame =
    model.asg.zipWithIndex.map { case (a, s) =>
      a.select(col(idCol), col("cluster").as(s"code_$s"))
    }.reduce(_.join(_, Seq(idCol)))

  /** PQ asymmetric-distance (ADC) top-k search — the query path of
    * [[pqCodes]] (Jégou et al. 2011 §III): the query stays exact while
    * corpus vectors are represented by their codeword centroids, so a
    * per-subvector distance TABLE (k entries each) replaces the full
    * dot product — each corpus row costs m table lookups + m−1 adds.
    *
    * Determinism end-to-end: centroids are exact-integer means of the
    * final assignment (one extra update step over the quantized grid),
    * the query is quantized to the same grid, distance folds are
    * left-to-right, and the m partial distances add in fixed subvector
    * order — every double is bit-identical cross-engine, so the top-k
    * set AND order have an exact SQL oracle.
    *
    * Scale shape: m kmeans runs + per-subvector (k-row) distance tables
    * broadcast onto the code frames; the ranking is one TakeOrdered.
    * No corpus×corpus work. Returns (idCol, adc_dist) ascending. */
  def pqAdcTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, topK: Int,
      m: Int, subDims: Int, k: Int, iters: Int): DataFrame = {
    val model = pqFit(emb, idCol, vecCol, m, subDims, k, iters)
    val out = pqAdcTopK(model, idCol, vecCol, query, topK).persist()
    out.count() // materialize before dropping the model's caches
    model.release()
    out
  }

  /** Per-corpus-row ADC distance to the query under a fitted model:
    * broadcast k-row distance tables per subvector, m id-keyed joins,
    * fixed-order sum. Returns (idCol, raw). */
  private def adcDistances(
      model: PqModel, idCol: String, vecCol: String,
      query: DataFrame): DataFrame = {
    val joined = (0 until model.m).map { s =>
      val qv = broadcast(query.limit(1).select(
        Clustering.quantize(
            slice(vecD(col(vecCol)), s * model.subDims + 1, model.subDims))
          .cast("array<double>").as("qd")))
      val dt = broadcast(model.cent(s).crossJoin(qv)
        .select(col("cid"), Clustering.sqDist(col("qd"), col("cv")).as(s"d_$s")))
      model.asg(s).join(dt, col("cluster") === col("cid"))
        .select(col(idCol), col(s"d_$s"))
    }
    val full = joined.reduce(_.join(_, Seq(idCol)))
    val adc = (0 until model.m).map(s => col(s"d_$s")).reduce(_ + _)
    full.select(col(idCol), adc.as("raw"))
  }

  /** ADC search against a pre-fitted [[PqModel]] — the serving path:
    * only the per-subvector k-row distance tables (broadcast) and the
    * final TakeOrdered run per query; zero fit work. Bit-identical
    * results to the fit-inline overload (the fits are deterministic). */
  def pqAdcTopK(
      model: PqModel, idCol: String, vecCol: String,
      query: DataFrame, topK: Int): DataFrame = {
    val qId = broadcast(query.limit(1).select(col(idCol).as("q_id")))
    adcDistances(model, idCol, vecCol, query)
      .crossJoin(qId)
      .filter(col(idCol) =!= col("q_id"))
      .select(col(idCol), col("raw"))
      .orderBy(col("raw").asc, col(idCol).asc)
      .limit(topK)
      .select(col(idCol), round(col("raw"), 6).as("adc_dist"))
  }

  /** IVF-PQ: the realistic billion-vector index shape (Jégou et al. 2011
    * §V, faiss's IVFPQ with by_residual=false) — the coarse IVF
    * quantizer routes the search to the query's cell, and ONLY that
    * cell's PQ codes are ranked by ADC distance. Cost per query =
    * |cell| ADC lookups (≈ corpus/nCells) instead of the whole corpus;
    * the PQ model is the same raw-vector codebook as [[pqCodes]] (no
    * residual encoding — documented deviation, kept for the exact
    * integer-grid determinism that gives every stage a SQL oracle).
    *
    * Scale shape: cells is one broadcast argmax scan, the model is
    * fitted once ([[pqFit]]) and persisted, the cell restriction is an
    * id equi-join, distance tables are broadcast k-rows. No
    * corpus×corpus work anywhere. Returns (idCol, adc_dist) ascending. */
  def annIvfPq(
      emb: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, topK: Int, nCells: Int,
      m: Int, subDims: Int, k: Int, iters: Int): DataFrame = {
    val cells = ivfCells(emb, idCol, vecCol, nCells)
    val model = pqFit(emb, idCol, vecCol, m, subDims, k, iters)
    val out = ivfPqTopK(model, cells, idCol, vecCol, query, topK).persist()
    out.count() // materialize before dropping the model's caches
    model.release()
    out
  }

  /** The IVF-PQ serving path: both index structures — the fitted
    * [[PqModel]] AND the cell assignment — are reused across queries;
    * each call costs the broadcast distance tables, one cell equi-join,
    * and a TakeOrdered over ≈|corpus|/nCells candidates. */
  def ivfPqTopK(
      model: PqModel, cells: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, topK: Int): DataFrame = {
    val q = broadcast(query.limit(1).select(col(idCol).as("q_id"))
      .join(cells.select(col("cell_id").as("q_id"), col("cell").as("q_cell")),
        "q_id"))
    val cand = cells
      .join(q, col("cell") === col("q_cell") && col("cell_id") =!= col("q_id"))
      .select(col("cell_id").as(idCol))
    cand
      .join(adcDistances(model, idCol, vecCol, query), idCol)
      .orderBy(col("raw").asc, col(idCol).asc)
      .limit(topK)
      .select(col(idCol), round(col("raw"), 6).as("adc_dist"))
  }

  /** Residual vectors w.r.t. each vector's IVF cell, over the integer
    * quantization grid — the by_residual=true encoding annIvfPq
    * documents as a determinism trade and round-9 item 8 asked to
    * attempt: residuals of EXACT-integer grid coordinates are exact
    * integer differences (qv(v) − qv(centroid), element-wise), so the
    * encoding loses nothing of the oracle story — every downstream
    * stage re-quantizes the integer-valued doubles exactly. Centroids
    * here are [[ivfCells]]' seed vectors (corpus members), so their
    * grid coordinates exist by construction. Returns
    * (idCol, cell, resid) with resid in grid units. */
  def ivfResiduals(
      emb: DataFrame, idCol: String, vecCol: String,
      cells: DataFrame): DataFrame = {
    val centVecs = emb
      .join(broadcast(cells.select(col("cell")).distinct()),
        col(idCol) === col("cell"))
      .select(col("cell"),
        Clustering.quantize(col(vecCol)).cast("array<double>").as("cv"))
    emb.join(cells, col(idCol) === col("cell_id"))
      .join(broadcast(centVecs), "cell")
      .select(col(idCol), col("cell"),
        zip_with(Clustering.quantize(col(vecCol)).cast("array<double>"),
          col("cv"), (a, b) => a - b).as("resid"))
  }

  /** Residuals anchored at each cell's min-id MEMBER instead of its seed
    * vector. [[ivfResiduals]] anchors at the vector whose id NAMES the
    * cell — right for [[ivfCells]] (the seed is a member by
    * construction) but wrong for [[ivfCellsTrained]]: Lloyd iterations
    * can drift a cluster away from the blob its seed id came from, and
    * then EVERY residual in that cell is centroid-difference-sized — the
    * mixture of scales that starves the residual codebook (measured on
    * the planted-blob fixture: seed-anchored residual ADC 0.16 vs 0.55+
    * anchored, round-11). The anchor is still a CORPUS MEMBER of the
    * cell (min id — deterministic, exact on the integer grid, same
    * oracle story), so residuals of a coherent cell are noise-scale by
    * construction, whatever the cell frame's provenance. One extra
    * aggregation (cell → min member id) + one broadcast lookup over
    * [[ivfResiduals]]' shape. Returns (idCol, cell, resid). */
  def ivfResidualsAnchored(
      emb: DataFrame, idCol: String, vecCol: String,
      cells: DataFrame): DataFrame = {
    val anchors = cells.groupBy(col("cell"))
      .agg(min(col("cell_id")).as("anchor_id"))
    val anchorVecs = emb
      .join(broadcast(anchors), col(idCol) === col("anchor_id"))
      .select(col("cell"),
        Clustering.quantize(col(vecCol)).cast("array<double>").as("cv"))
    emb.join(cells, col(idCol) === col("cell_id"))
      .join(broadcast(anchorVecs), "cell")
      .select(col(idCol), col("cell"),
        zip_with(Clustering.quantize(col(vecCol)).cast("array<double>"),
          col("cv"), (a, b) => a - b).as("resid"))
  }

  /** Residual-coded IVF-PQ (faiss IVFPQ with by_residual=true; Jégou
    * et al. 2011 §V.B): the PQ codebook is fit on the cell-relative
    * RESIDUALS instead of the raw vectors — residuals concentrate near
    * the origin, so the same k codewords resolve finer structure (the
    * standard recall lever at small nCells). Composition, not new
    * machinery: [[ivfResiduals]] feeds the ordinary [[pqFit]] /
    * [[ivfPqTopK]] with `resid` as the vector column; the query's
    * residual is its own row of the residual frame (own-cell probe, so
    * query and candidates share one cell → one consistent distance
    * table per subvector). Every stage stays on the exact integer
    * grid → exact SQL oracle (q169). Returns (idCol, adc_dist). */
  def annIvfPqResidual(
      emb: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, topK: Int, nCells: Int,
      m: Int, subDims: Int, k: Int, iters: Int): DataFrame = {
    val cells = ivfCells(emb, idCol, vecCol, nCells)
    val resid = ivfResiduals(emb, idCol, vecCol, cells).persist()
    // distinct seeding is load-bearing here: the cell seeds' own
    // residuals are all zero, so default lowest-id seeding would start
    // every codeword at the origin and collapse the codebook
    val model = pqFit(resid, idCol, "resid", m, subDims, k, iters,
      distinctSeeds = true)
    val qResid = resid
      .join(broadcast(query.limit(1).select(col(idCol))), Seq(idCol))
    val out = ivfPqTopK(model, cells, idCol, "resid", qResid, topK).persist()
    out.count() // materialize before dropping the model + residual caches
    model.release()
    resid.unpersist(blocking = false)
    out
  }

  /** Residual-coded IVF-PQ over an EXPLICIT cell frame — composed with
    * [[ivfCellsTrained]] this is the full production faiss IVFPQ shape
    * (trained coarse quantizer + by_residual coding + ADC), the config
    * where residual coding actually pays (q169's honest finding: it
    * loses under arbitrary corpus-point cells on structure-free data).
    * [[annIvfPqResidual]] fixes cells to the training-free lowest-id
    * quantizer and seed-anchored residuals; this variant accepts any
    * (cell_id, cell) assignment and anchors residuals at each cell's
    * min-id MEMBER ([[ivfResidualsAnchored]]), so the encoding stays
    * cell-relative whatever the cell frame's provenance. Same scale
    * shape as [[annIvfPqResidual]]. Returns (idCol, adc_dist). */
  def annIvfPqResidualWithCells(
      emb: DataFrame, idCol: String, vecCol: String,
      cells: DataFrame, query: DataFrame, topK: Int,
      m: Int, subDims: Int, k: Int, iters: Int): DataFrame = {
    val resid = ivfResidualsAnchored(emb, idCol, vecCol, cells).persist()
    val model = pqFit(resid, idCol, "resid", m, subDims, k, iters,
      distinctSeeds = true)
    val qResid = resid
      .join(broadcast(query.limit(1).select(col(idCol))), Seq(idCol))
    val out = ivfPqTopK(model, cells, idCol, "resid", qResid, topK).persist()
    out.count() // materialize before dropping the model + residual caches
    model.release()
    resid.unpersist(blocking = false)
    out
  }

  /** Persist a fitted IVF-PQ index as bucketed tables — the serve-from-
    * disk artifact a real pipeline materializes between fit and serving
    * (the band-index pattern, graft.dedup.Dedup.writeBandIndex): after
    * this, ADC serving needs ONLY the index tables plus the query
    * vector — never the corpus embeddings (the point of PQ at 100 TB:
    * m codes per row serve in place of the full vectors). Tables:
    *   <t>_meta   (m, sub_dims, id_col, coarse_metric)  1 row
    *   <t>_cent   (s, cid, cv)                          m·k rows
    *   <t>_codes  (<id>, code_0..code_{m-1})            n rows, bucketBy(id)
    *   <t>_cells  (cell_id, cell)                       n rows, bucketBy(cell_id)
    *   <t>_coarse (cell, cv)                            k rows, optional
    * bucketBy(id) on the code table lets a served query's
    * candidate ⋈ codes id-join co-locate; the k-row frames stay plain.
    * Everything stored is exact (integer-grid doubles round-trip
    * parquet bit-for-bit), so served results are bit-equal to the
    * in-memory fit.
    *
    * `coarse` makes the index GROWABLE ([[appendPqIndex]]): the coarse
    * quantizer's centroid vectors plus the metric tag that says how new
    * vectors pick a cell — "cos_raw" ([[ivfCells]]' seed vectors in raw
    * double units, cosine argmax with low-id ties) or "l2_grid"
    * ([[ivfCellsTrained]]'s Lloyd centroids in grid units, sqDist
    * argmin with low-id ties). Without it the index serves but cannot
    * grow. */
  def writePqIndex(model: PqModel, cells: DataFrame, idCol: String,
      table: String, buckets: Int = 8,
      coarse: Option[(DataFrame, String)] = None): Unit = span("vector.writePqIndex") {
    val spark = cells.sparkSession
    import spark.implicits._
    // validate EVERYTHING checkable driver-side BEFORE the destructive
    // drop below — a typo'd metric, a malformed coarse frame, or an
    // empty/ragged model must not destroy an existing index and then
    // abort (round-11 review + round-11 ADVICE). These are schema/shape
    // checks only (no jobs run); a mid-WRITE crash can still leave a
    // partial index, which the next successful writePqIndex replaces —
    // the same overwrite semantics every saveAsTable sink here has.
    val metric = coarse.map(_._2).getOrElse("none")
    require(Set("none", "cos_raw", "l2_grid")(metric),
      s"unknown coarse metric: $metric")
    require(model.m >= 1 && model.subDims >= 1,
      s"degenerate PQ model: m=${model.m} subDims=${model.subDims}")
    require(model.cent.size == model.m && model.asg.size == model.m,
      s"ragged PQ model: m=${model.m} but cent=${model.cent.size} " +
        s"asg=${model.asg.size} subspace frames")
    coarse.foreach { case (c, _) =>
      require(Set("cell", "cv").subsetOf(c.columns.toSet),
        s"coarse frame needs (cell, cv) columns; got ${c.columns.mkString(",")}")
    }
    require(Set("cell_id", "cell").subsetOf(cells.columns.toSet),
      s"cells frame needs (cell_id, cell) columns; got ${cells.columns.mkString(",")}")
    // drop-and-clean: a warehouse directory can outlive the in-memory
    // catalog (fresh session, stale location), and saveAsTable refuses
    // to CREATE over an orphan directory — the q105 lesson; location
    // resolution centralized in ManagedTables (round-13 advice: never
    // guess <warehouse>/<tbl>)
    Seq("meta", "cent", "codes", "cells", "coarse").foreach { sfx =>
      graft.sinks.ManagedTables.dropTableAndLocation(spark, s"${table}_$sfx")
    }
    // The five tables are disjoint — write them CONCURRENTLY (round 14).
    // Each saveAsTable stages under its own table directory and registers
    // its own catalog entry, so the writes share nothing on disk or in
    // the catalog. The model frames are materialized (pqFit persisted and
    // counted them); cells/coarse may be caller-lazy, where the worst a
    // concurrent read of a shared upstream costs is computing it twice
    // (they are k- and n-row frames) — never a wrong answer. The
    // crash-window story is unchanged: ANY partial subset fails loudly at
    // read (missing table or empty meta), exactly as a mid-sequence crash
    // always has.
    // buckets lands in meta so appends are self-describing — a mismatched
    // bucket spec on append would fail the ingest job (round-11 review)
    val writes: Seq[() => Unit] =
      coarse.map { case (c, _) => () =>
        c.select(col("cell"), col("cv"))
          .write.mode("overwrite").saveAsTable(s"${table}_coarse")
      }.toSeq ++ Seq(
        () => Seq((model.m, model.subDims, idCol, metric, buckets))
          .toDF("m", "sub_dims", "id_col", "coarse_metric", "buckets")
          .write.mode("overwrite").saveAsTable(s"${table}_meta"),
        () => model.cent.zipWithIndex
          .map { case (c, s) => c.select(lit(s).as("s"), col("cid"), col("cv")) }
          .reduce(_ unionByName _)
          .write.mode("overwrite").saveAsTable(s"${table}_cent"),
        () => pqCodesFromModel(model, idCol)
          .write.mode("overwrite").bucketBy(buckets, idCol).sortBy(idCol)
          .saveAsTable(s"${table}_codes"),
        () => cells.select(col("cell_id"), col("cell"))
          .write.mode("overwrite").bucketBy(buckets, "cell_id").sortBy("cell_id")
          .saveAsTable(s"${table}_cells"))
    graft.operators.Concurrent.mapInParallel(writes)(_())
    ()
  }

  /** Read a persisted IVF-PQ index back into serving shape, from ANY
    * session — the guarded-refresh discipline of
    * graft.dedup.Dedup.readBandIndex, so a session that didn't write
    * (a cloned foreachBatch session, the next job in a chain) can never
    * plan against a stale file list. The model's frames are LAZY reads
    * of the bucketed tables (a serving deployment persists what its
    * query rate warrants; `release()` on lazy frames is a no-op).
    * [[ivfPqTopK]] over the read-back index is bit-equal to the
    * in-memory fit. Returns (model, cells). */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): (PqModel, DataFrame) = {
    Seq("meta", "cent", "codes", "cells")
      .foreach(sfx => spark.catalog.refreshTable(s"${table}_$sfx"))
    // headOption: an empty meta table (an interrupted build's residue)
    // must fail with a named error, not a bare NoSuchElementException
    // (the BandIndex.open discipline, round-13 verdict item 4)
    val meta = spark.table(s"${table}_meta").limit(1).collect().headOption
      .getOrElse(throw new IllegalStateException(
        s"${table}_meta exists but holds no parameter row — the index " +
          s"build was interrupted; re-run writePqIndex/IvfPqIndex.write"))
    val (m, subDims, idCol) =
      (meta.getAs[Int]("m"), meta.getAs[Int]("sub_dims"),
        meta.getAs[String]("id_col"))
    val cent = (0 until m).map(s =>
      spark.table(s"${table}_cent").filter(col("s") === s).select("cid", "cv"))
    val asg = (0 until m).map(s =>
      spark.table(s"${table}_codes")
        .select(col(idCol), col(s"code_$s").as("cluster")))
    (PqModel(m, subDims, asg, cent), spark.table(s"${table}_cells"))
  }

  /** GROW a persisted IVF-PQ index without refitting — faiss `add()`,
    * the daily-ingest loop at 100 TB (refitting against the grown
    * corpus would be corpus-sized; this is batch-sized): new vectors
    * are encoded against the STORED codebooks (nearest codeword per
    * subvector, grid-euclidean with low-cid ties — the kmeans
    * assignment rule applied to the final centroids, the standard
    * add-time encoding) and assigned a cell by the stored coarse
    * quantizer under its recorded metric; codes + cells rows append in
    * the same bucketBy layout, so serving joins keep their plan shape.
    * Guarded refresh after (the appendBandIndex discipline — other
    * sessions go through [[readPqIndex]]).
    *
    * Documented encoding nuance: fitted rows carry the kmeans
    * assignment against the PRE-final centroids (pqFit's model), while
    * appended rows encode against the final stored codebook — exactly
    * faiss's train()/add() split; both rules are deterministic and
    * SQL-replayable (q176's oracle replays each).
    *
    * CONCURRENCY CONTRACT (round-11 ADVICE): single writer. The
    * anti-join idempotence guards RETRIES of the same append (and
    * completes a partially-failed one), not CONCURRENT appends — two
    * simultaneous jobs can both pass the anti-join and land duplicate
    * id rows, which then surface as duplicate candidates in served
    * top-k. Serial callers (a Structured Streaming foreachBatch sink,
    * a daily ingest job) satisfy this by construction; anything else
    * needs external serialization (a catalog/table lock or a queue).
    * ID-COLLISION SEMANTICS: ignore-on-collision — an id already in the
    * index keeps its STORED codes/cell even if it re-arrives with a
    * different vector (faiss add() likewise never updates in place).
    * Re-encoding a changed vector requires a rebuild ([[writePqIndex]])
    * or an explicit delete-then-append maintenance pass. */
  def appendPqIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, newEmb: DataFrame, vecCol: String): Unit = span("vector.appendPqIndex") {
    Seq("meta", "cent", "codes", "cells")
      .foreach(sfx => spark.catalog.refreshTable(s"${table}_$sfx"))
    // headOption: an empty meta table (an interrupted build's residue)
    // must fail with a named error, not a bare NoSuchElementException
    // (the BandIndex.open discipline, round-13 verdict item 4)
    val meta = spark.table(s"${table}_meta").limit(1).collect().headOption
      .getOrElse(throw new IllegalStateException(
        s"${table}_meta exists but holds no parameter row — the index " +
          s"build was interrupted; re-run writePqIndex/IvfPqIndex.write"))
    val (m, subDims, idCol, metric, buckets) =
      (meta.getAs[Int]("m"), meta.getAs[Int]("sub_dims"),
        meta.getAs[String]("id_col"), meta.getAs[String]("coarse_metric"),
        meta.getAs[Int]("buckets")) // self-describing: the write's bucket spec
    require(metric != "none",
      s"index $table was written without a coarse quantizer; pass " +
        "coarse=Some(...) to writePqIndex to make it growable")
    spark.catalog.refreshTable(s"${table}_coarse")
    // IDEMPOTENCE (round-11 review): at-least-once callers (foreachBatch
    // retries, re-run ingest jobs) may re-append rows; each table append
    // anti-joins the ids it already holds, so a duplicate append is a
    // no-op and a retry after a partial failure (codes written, cells
    // not) completes exactly the missing half.
    // The two appends target disjoint tables (each anti-joins only its
    // OWN target) — they run concurrently (round 14); a shared lazy
    // newEmb upstream costs at most one duplicate batch-sized compute.
    val appends: Seq[() => Unit] = Seq(
      () => {
        // codes: nearest stored codeword per subvector (grid units) — the
        // kmeans assignment rule against the final codebook, via the
        // shared Clustering.assignTo body
        val codes = (0 until m).map { s =>
          val cent = spark.table(s"${table}_cent")
            .filter(col("s") === s).select("cid", "cv")
          Clustering.assignTo(newEmb, idCol,
              slice(vecD(col(vecCol)), s * subDims + 1, subDims), cent)
            .select(col(idCol), col("cluster").as(s"code_$s"))
        }.reduce(_.join(_, Seq(idCol)))
          .join(spark.table(s"${table}_codes").select(col(idCol)),
            Seq(idCol), "left_anti")
        codes.write.mode("append").bucketBy(buckets, idCol).sortBy(idCol)
          .saveAsTable(s"${table}_codes")
      },
      () => {
        // cells: the stored coarse quantizer under its recorded metric,
        // via the SAME shared bodies the build used (cosAssign / assignTo)
        val coarse = spark.table(s"${table}_coarse")
        val newCells = (metric match {
          case "cos_raw" => cosAssign(newEmb, idCol, vecCol, coarse)
          case "l2_grid" =>
            Clustering.assignTo(newEmb, idCol, col(vecCol),
                coarse.select(col("cell").as("cid"), col("cv")))
              .select(col(idCol).as("cell_id"), col("cluster").as("cell"))
        }).join(spark.table(s"${table}_cells").select(col("cell_id")),
          Seq("cell_id"), "left_anti")
        newCells.write.mode("append")
          .bucketBy(buckets, "cell_id").sortBy("cell_id")
          .saveAsTable(s"${table}_cells")
      })
    graft.operators.Concurrent.mapInParallel(appends)(_())
    Seq("codes", "cells")
      .foreach(sfx => spark.catalog.refreshTable(s"${table}_$sfx"))
  }

  /** The query's `nProbe` nearest IVF cells (faiss's nprobe knob) —
    * centroids ranked by cosine to the query with the same
    * (cosine desc, cid asc) order the cell ASSIGNMENT uses, so
    * nProbe=1 probes exactly the query's own cell. Returns `q_cell`
    * (nProbe rows); a pure broadcast computation. */
  def ivfProbeCells(
      emb: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, nCells: Int, nProbe: Int): DataFrame =
    ivfProbeCellsFromSeeds(
      emb.select(col(idCol).as("cell"), vecD(col(vecCol)).as("cv"))
        .orderBy(col("cell")).limit(nCells),
      query, vecCol, nProbe)

  /** [[ivfProbeCells]]' ranking against an EXPLICIT raw-vector seed
    * frame (cell, cv) — the stored `<t>_coarse` table of a persisted
    * cos_raw index ([[writePqIndex]]), so a serving session can probe
    * nProbe>1 cells without the corpus embeddings. One shared body with
    * [[ivfProbeCells]] (which passes the nCells lowest-id corpus
    * vectors), so in-memory and from-disk probe lists can never
    * diverge. Same (cosine desc, cid asc) total order as the cell
    * assignment; a pure broadcast computation. Returns `q_cell`. */
  def ivfProbeCellsFromSeeds(
      seeds: DataFrame, query: DataFrame, vecCol: String,
      nProbe: Int): DataFrame = {
    val cent = broadcast(seeds
      .select(col("cell").as("cid"), col("cv").cast("array<double>").as("cv"))
      .withColumn("cnrm", norm(col("cv"))))
    val q = query.limit(1).select(vecD(col(vecCol)).as("qv"))
      .withColumn("q_nrm", norm(col("qv")))
    q.crossJoin(cent)
      .select(col("cid"),
        cosine(col("qv"), col("cv"), col("q_nrm"), col("cnrm")).as("ccos"))
      .orderBy(col("ccos").desc, col("cid").asc)
      .limit(nProbe)
      .select(col("cid").as("q_cell"))
  }

  /** Multi-probe IVF-PQ: rank the PQ codes of the `nProbe` nearest
    * cells instead of just the query's own — the standard recall lever
    * (per-query cost scales linearly with nProbe, still ≪ the corpus).
    * `probes` is [[ivfProbeCells]]' output (or any q_cell list). */
  def ivfPqTopK(
      model: PqModel, cells: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String,
      query: DataFrame, topK: Int): DataFrame = {
    val qId = broadcast(query.limit(1).select(col(idCol).as("q_id")))
    val cand = cells
      .join(broadcast(probes.select(col("q_cell"))),
        col("cell") === col("q_cell"))
      .crossJoin(qId)
      .filter(col("cell_id") =!= col("q_id"))
      .select(col("cell_id").as(idCol))
    cand
      .join(adcDistances(model, idCol, vecCol, query), idCol)
      .orderBy(col("raw").asc, col(idCol).asc)
      .limit(topK)
      .select(col(idCol), round(col("raw"), 6).as("adc_dist"))
  }

  /** IVF-PQ with an exact-distance REFINE stage (faiss's refine step;
    * Jégou et al. 2011 §V.D's re-ranking): stage 1 takes the top-`topR`
    * candidates by ADC distance PER PROBED CELL, stage 2 re-ranks only
    * those ≤ nProbe·R rows by exact cosine and emits the top-k. This
    * closes the measured coarse-ADC displacement mode (round-9 finding:
    * nProbe=4 recall 0.30 < own-cell 0.33 at sf0.1 — widening the
    * candidate set under an approximate ranking can push a true hit out
    * of the top-k): any true neighbor that survives to the pool is put
    * back in front by the exact re-rank, so refined recall is provably
    * ≥ the unrefined path's (the pool contains the global ADC top-10).
    *
    * The quota is per-cell, NOT a global ADC top-R: a global pool
    * shrinks per-cell as probes widen (measured: refined nProbe=4 0.69 <
    * nProbe=1 0.73 at sf0.1 with a global top-50 — the displacement
    * just moved from rank 10 to rank R), while per-cell quotas make
    * pool(nProbe=4) ⊇ pool(nProbe=1) by construction ([[ivfProbeCells]]
    * probe lists are rank-prefixes), so the nprobe knob is MONOTONE by
    * theorem: more probes can only add candidates, and exact re-rank
    * recall is monotone in pool inclusion.
    *
    * Cost: the per-cell rank window runs over the probed cells'
    * candidates only (≈ nProbe·corpus/nCells rows — the same data the
    * unrefined TakeOrdered touches), and the refine is an
    * (nProbe·R)-row exact-cosine pass riding a broadcast semi-join —
    * negligible next to stage 1. Returns (idCol, cos_sim) by
    * (cosine desc, id asc); raw cosine is the bit-deterministic VecDot
    * fold, so set AND order replay exactly in SQL. */
  def ivfPqRefineTopK(
      model: PqModel, cells: DataFrame, probes: DataFrame,
      emb: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, topR: Int, topK: Int): DataFrame = {
    val qId = broadcast(query.limit(1).select(col(idCol).as("q_id")))
    val cand = cells
      .join(broadcast(probes.select(col("q_cell"))),
        col("cell") === col("q_cell"))
      .crossJoin(qId)
      .filter(col("cell_id") =!= col("q_id"))
      .select(col("cell_id").as(idCol), col("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy(col("raw").asc, col(idCol).asc)
    val pool = cand
      .join(adcDistances(model, idCol, vecCol, query), idCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topR)
      .select(col(idCol))
    val q = broadcast(query.limit(1)
      .select(col(idCol).as("q_id"), vecD(col(vecCol)).as("qv"))
      .withColumn("q_nrm", norm(col("qv"))))
    emb.select(col(idCol), vecD(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .join(broadcast(pool), Seq(idCol), "left_semi")
      .crossJoin(q)
      .select(col(idCol),
        cosine(col("v"), col("qv"), col("nrm"), col("q_nrm")).as("cos_raw"))
      .orderBy(col("cos_raw").desc, col(idCol).asc)
      .limit(topK)
      .select(col(idCol), round(col("cos_raw"), 6).as("cos_sim"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998) —
    * the diversity-aware retrieval step RAG stacks put between ANN
    * candidates and the LLM context window: greedily select k documents
    * maximizing λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), so near-duplicate
    * passages don't crowd out coverage.
    *
    * Deterministic across engines: every similarity is quantized to a
    * BIGINT (⌊cos·qscale⌋ — the cosine itself is the bit-exact VecDot
    * fold, so the floor agrees engine-to-engine) and the greedy argmax
    * compares integers with (score desc, id asc) ties — the kmeans
    * quantization discipline, which makes the whole selection a pure
    * function of the input and lets a SQL oracle replay it step by step.
    *
    * Scale shape: stage 1 is the distributed part — one broadcast-query
    * scan of the corpus + TakeOrdered for the `candidates`-row pool
    * (exactly knnBrute's plan). The greedy loop then runs k−1 tiny jobs
    * over the checkpointed pool; per step the selected set rides along
    * as a ONE-ROW collected-struct broadcast (never a candidate×selected
    * join — no cartesian shape anywhere), and the penalty is an
    * array-fold over ≤k entries. Returns (rank, id, qsim). */
  /** Matryoshka-style truncation evaluation (Kusupati et al. 2022's MRL
    * usage pattern): for each prefix length d, rank the corpus by cosine
    * over the FIRST d dimensions and report top-k overlap with the
    * full-dimension ranking — the dimension-vs-recall curve that decides
    * how far stored vectors can be truncated (a 4× index-size lever at
    * corpus scale). Prefix cosine = the same left-to-right fold over
    * `slice(v, 1, d)`, so a SQL oracle replays each curve point exactly.
    *
    * Scale shape: one [[knnBrute]] scan per requested d (broadcast query,
    * TakeOrdered) + a k-row overlap join — linear passes, no pairwise
    * product. Returns one row per d: (dims, n_hits, recall). */
  def matryoshkaRecall(
      emb: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, k: Int, dimsList: Seq[Int]): DataFrame = {
    require(dimsList.nonEmpty, "matryoshkaRecall needs at least one dim")
    val full = knnBrute(emb, idCol, vecCol, query, k)
      .select(col(idCol)).persist()
    val rows = dimsList.map { d =>
      val sliced = emb.select(col(idCol),
        slice(col(vecCol), 1, d).as(vecCol))
      val slicedQ = query.select(col(idCol),
        slice(col(vecCol), 1, d).as(vecCol))
      knnBrute(sliced, idCol, vecCol, slicedQ, k)
        .select(col(idCol))
        .join(full, idCol)
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d).as("dims"), col("n_hits"),
          round(col("n_hits").cast("double") / k, 6).as("recall"))
    }
    val out = rows.reduce(_ unionByName _).persist()
    out.count()
    full.unpersist(blocking = false)
    out
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) — the standard
    * hybrid-retrieval combiner a RAG stack puts over its lexical (BM25)
    * and vector (cosine) rankings: score(d) = Σ_lists 1/(kRrf + rank_d),
    * rewarding documents that rank well in ANY list without score
    * calibration across retrievers.
    *
    * Determinism: each input list is ranked by (its score desc, id asc) —
    * a total order — and the per-document fusion sum folds left-to-right
    * over the source-sorted rank list (the bm25TopK discipline), so the
    * result is a pure function of the inputs and a SQL oracle replays it.
    *
    * Scale shape: inputs are BOUNDED top-K retrieval outputs (that is the
    * contract — rank them with their own distributed top-K first), so the
    * per-list row_number window over one partition touches ≤k rows; the
    * fusion itself is one hash agg over Σ|lists| rows. */
  def rrfFuse(
      rankings: Seq[DataFrame], idCol: String, scoreCol: String,
      topK: Int, kRrf: Long = 60L): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    import org.apache.spark.sql.expressions.Window
    val ranked = rankings.zipWithIndex.map { case (df, i) =>
      // unpartitioned window is BOUNDED by contract: each input is a top-K
      // retriever output (≤k rows), never raw corpus — not a scale bug
      val w = Window.orderBy(col(scoreCol).desc, col(idCol).asc)
      df.select(col(idCol), col(scoreCol))
        .withColumn("r", row_number().over(w).cast("long"))
        .select(col(idCol).as("id"), col("r"), lit(i).as("src"))
    }
    ranked.reduce(_ unionByName _)
      .groupBy("id")
      .agg(count(lit(1)).cast("int").as("n_lists"),
        aggregate(
          transform(
            sort_array(collect_list(struct(col("src").as("s"), col("r").as("r")))),
            x => lit(1.0) / (lit(kRrf).cast("double") + x.getField("r").cast("double"))),
          lit(0.0), _ + _).as("raw"))
      .select(col("id"), col("n_lists"), round(col("raw"), 9).as("rrf"),
        col("raw"))
      .orderBy(col("raw").desc, col("id").asc)
      .limit(topK)
      .drop("raw")
  }

  def mmrRerank(
      emb: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, k: Int, lambdaPct: Long = 70L,
      candidates: Int = 12,
      qscale: Long = 1000000000000L): DataFrame = {
    val corpus = emb.select(col(idCol).as("id"), vecD(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = broadcast(query.select(col(idCol).as("q_id"), vecD(col(vecCol)).as("qv"))
      .withColumn("q_nrm", norm(col("qv"))))
    val cands = corpus.crossJoin(q)
      .filter(col("id") =!= col("q_id"))
      .select(col("id"), col("v"), col("nrm"),
        floor(cosine(col("v"), col("qv"), col("nrm"), col("q_nrm")) * qscale)
          .cast("long").as("qsim"))
      .orderBy(col("qsim").desc, col("id").asc)
      .limit(candidates)
      .localCheckpoint() // tiny pool; consumed once per greedy step
    var selected = cands
      .orderBy(col("qsim").desc, col("id").asc).limit(1)
      .select(lit(1).as("rank"), col("id"), col("qsim"))
      .localCheckpoint()
    for (r <- 2 to k) {
      // the selected set as ONE collected row (≤k structs), broadcast —
      // the size-bounded representation of the "compare against
      // everything chosen so far" dependency
      val selVecs = broadcast(
        selected.join(cands.select(col("id"), col("v"), col("nrm")), "id")
          .agg(collect_list(struct(col("v"), col("nrm"))).as("sel")))
      val prev = selected
      val next = cands
        .join(selected.select(col("id")), Seq("id"), "left_anti")
        .crossJoin(selVecs)
        .select(col("id"), col("qsim"),
          array_max(transform(col("sel"), s =>
            floor(cosine(col("v"), s.getField("v"), col("nrm"), s.getField("nrm"))
              * qscale).cast("long"))).as("pen"))
        .select(col("id"), col("qsim"),
          (lit(lambdaPct) * col("qsim") - lit(100L - lambdaPct) * col("pen"))
            .as("score"))
        .orderBy(col("score").desc, col("id").asc).limit(1)
        .select(lit(r).as("rank"), col("id"), col("qsim"))
      selected = prev.unionByName(next).localCheckpoint()
      graft.graph.GraphOps.releaseLocalCheckpoint(prev)
    }
    val out = selected.persist()
    out.count()
    graft.graph.GraphOps.releaseLocalCheckpoint(selected)
    graft.graph.GraphOps.releaseLocalCheckpoint(cands)
    out
  }
}
