package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.obs.span

/** Fit-time configuration for [[IvfPqIndex]] — the four structural
  * decisions of a faiss-style `IVF<nCells>,PQ<m>x<bits>` factory
  * string, plus the two quality levers this engine measured:
  *
  *   - `trained = false`: coarse cells are the `nCells` lowest-id
  *     corpus vectors (training-free, zero fit cost — fine for smoke
  *     and for corpora with no cluster structure).
  *     `trained = true`: deterministic k-means cells
  *     ([[Similarity.ivfCellsTrained]]) — the production quantizer;
  *     on clustered data this is what lifts recall (0.938 vs 0.825 on
  *     the planted-blob fixture, PLANS.md round-11).
  *   - `residual = false`: PQ codebooks fit raw vectors
  *     (by_residual=false). `residual = true`: codebooks fit
  *     cell-relative residuals — pays when cells are genuinely tighter
  *     than codewords (blobs ≫ codewords: ADC recall 0.438 vs 0.337),
  *     loses on structure-free data (q169's honest finding). Residual
  *     indexes serve own-cell only and are in-memory only (see
  *     [[IvfPqIndex.write]]).
  *
  * `m`·`subDims` must cover the vector dims; `k` codewords per
  * subquantizer; `iters` Lloyd iterations for every k-means involved.
  */
final case class IvfPqConfig(
    idCol: String, vecCol: String,
    nCells: Int, m: Int, subDims: Int, k: Int, iters: Int,
    trained: Boolean = false,
    residual: Boolean = false)

/** THE recommended ANN serving surface (round-11 verdict item 4): one
  * façade over the proven Similarity kernels accreted across rounds
  * 8–11, covering the full production lifecycle:
  *
  * {{{
  * val idx = IvfPqIndex.fit(emb, IvfPqConfig("vec_id", "embedding",
  *   nCells = 1024, m = 8, subDims = 8, k = 256, iters = 4,
  *   trained = true))
  * idx.search(query, topK = 10)                       // own-cell ADC
  * idx.search(query, 10, nProbe = 4)                  // multi-probe
  * idx.search(query, 10, nProbe = 4, refine = Some(50)) // + exact re-rank
  * idx.write("corpus_ann")                            // persist (bucketed)
  * idx.release()
  * // any later session, no corpus needed:
  * IvfPqIndex.append(spark, "corpus_ann", dailyBatch, "embedding")
  * val served = IvfPqIndex.read(spark, "corpus_ann", "embedding")
  * served.search(query, 10, nProbe = 4)               // probes off the
  *                                                    // stored coarse table
  * }}}
  *
  * Every path delegates to the kernels the 176-query oracle gate pins
  * (ivfCells / ivfCellsTrained / pqFit / ivfPqTopK / ivfPqRefineTopK /
  * writePqIndex / readPqIndex / appendPqIndex; the last three are
  * `private[graft]`, so this is the index's one public entry point) —
  * the façade adds no new math, so its results are bit-equal to the
  * long-hand compositions in q153/q172/q174/q175/q176 (whose bodies
  * now call it).
  *
  * Knob semantics (measured trade-offs in PLANS.md rounds 9–11):
  *   - `nProbe`: cells searched per query; recall is MONOTONE in it
  *     (probe lists are rank-prefixes under the assignment's own
  *     metric). Cost: ≈ nProbe·corpus/nCells ADC lookups.
  *   - `refine = Some(R)`: exact-cosine re-rank of the top-R ADC
  *     candidates PER PROBED CELL (per-cell quota keeps the nProbe knob
  *     monotone; a global pool doesn't — round-9 finding). Needs the
  *     corpus frame for the exact distances: present after [[IvfPqIndex.fit]],
  *     attach with [[withCorpus]] after [[IvfPqIndex.read]].
  *
  * 100 TB shape: the fitted model is k-row broadcast frames; cells and
  * codes are id-keyed equi-joins (bucketBy'd on disk, zero index-side
  * exchange when served); search is one TakeOrdered over the probed
  * cells' candidates. No corpus×corpus work on any path.
  *
  * Reference behavior mirrored: ChromaDB collection build + query
  * (scripts/ingest_community_summaries.py:136-139,
  * scripts/query_embeddings.py:52-58 in /root/reference), re-expressed
  * as the faiss-style index faiss's own docs recommend at this scale.
  */
final class IvfPqIndex private (
    val model: Similarity.PqModel,
    val cells: DataFrame,
    trainedCent: Option[DataFrame], // (cell, cv) grid units, trained only
    residFrame: Option[DataFrame],  // (idCol, cell, resid), residual only
    corpus: Option[DataFrame],      // raw emb; None on a read-back index
    coarseSeeds: Option[DataFrame], // stored coarse: (cell, cv) + metric tag
    coarseMetric: String,           // "cos_raw" | "l2_grid" | "none"
    idCol: String, vecCol: String, nCells: Int,
    residual: Boolean,
    ownsCells: Boolean) {           // fit() persisted cells; read() didn't

  /** Top-k by ADC distance (residual or raw coding as fitted), with the
    * standard serving knobs. Returns (idCol, adc_dist) ascending — or
    * (idCol, cos_sim) descending when `refine` is set (exact re-rank).
    *
    * `query` must be ONE corpus-member row carrying (idCol, vecCol) —
    * own-cell routing (nProbe=1) reads the query's cell off the index's
    * own assignment, exactly the q153 contract. */
  def search(query: DataFrame, topK: Int,
      nProbe: Int = 1, refine: Option[Int] = None): DataFrame = {
    if (residual) {
      require(nProbe == 1 && refine.isEmpty,
        "residual-coded indexes serve own-cell only (query and candidates " +
          "must share one cell so the residual distance tables are " +
          "consistent) — use residual=false for multi-probe/refine")
      val rf = residFrame.getOrElse(sys.error("residual frame missing"))
      val qResid = rf.join(
        broadcast(query.limit(1).select(col(idCol))), Seq(idCol))
      return Similarity.ivfPqTopK(model, cells, idCol, "resid", qResid, topK)
    }
    (nProbe, refine) match {
      case (1, None) =>
        Similarity.ivfPqTopK(model, cells, idCol, vecCol, query, topK)
      case (p, None) =>
        Similarity.ivfPqTopK(model, cells, probesFor(query, p),
          idCol, vecCol, query, topK)
      case (p, Some(r)) =>
        val emb = corpus.getOrElse(sys.error(
          "refine re-ranks by exact cosine over the corpus vectors — " +
            "attach them with withCorpus(emb) on a read-back index"))
        Similarity.ivfPqRefineTopK(model, cells, probesFor(query, p),
          emb, idCol, vecCol, query, topR = r, topK = topK)
    }
  }

  /** The query's nProbe-cell probe list under the SAME metric the cell
    * assignment used — trained centroids when trained, seed vectors
    * otherwise; from the stored coarse table on a read-back index. */
  private def probesFor(query: DataFrame, nProbe: Int): DataFrame =
    trainedCent match {
      case Some(cent) =>
        Similarity.ivfProbeCellsTrained(cent, query, vecCol, nProbe)
      case None => coarseMetric match {
        case "cos_raw" => Similarity.ivfProbeCellsFromSeeds(
          coarseSeeds.getOrElse(sys.error("coarse seeds missing")),
          query, vecCol, nProbe)
        case "l2_grid" => Similarity.ivfProbeCellsTrained(
          coarseSeeds.getOrElse(sys.error("coarse seeds missing")),
          query, vecCol, nProbe)
        case _ =>
          // a read-back index has nCells = -1: without the stored coarse
          // table there is NO way to rank probe cells (withCorpus can't
          // help — the seed count is unknown); fit-path indexes always
          // carry a valid nCells and a corpus frame
          require(nCells > 0,
            "nProbe>1 on an index persisted without a coarse quantizer — " +
              "re-write it with IvfPqIndex.write's growable default")
          val emb = corpus.getOrElse(sys.error("corpus frame missing"))
          Similarity.ivfProbeCells(emb, idCol, vecCol, query, nCells, nProbe)
      }
    }

  /** Attach the corpus frame to a read-back index — enables
    * `refine` (exact re-rank needs the true vectors; everything else
    * serves from the index tables alone). */
  def withCorpus(emb: DataFrame): IvfPqIndex =
    new IvfPqIndex(model, cells, trainedCent, residFrame, Some(emb),
      coarseSeeds, coarseMetric, idCol, vecCol, nCells, residual, ownsCells)

  /** Persist as bucketed tables ([[Similarity.writePqIndex]]) — always
    * GROWABLE: the coarse quantizer (trained centroids under l2_grid,
    * or the seed vectors under cos_raw) is stored alongside, so
    * [[IvfPqIndex.append]] and from-disk multi-probe both work.
    * Residual indexes don't persist (serving them needs the query's
    * residual, which needs the anchor vectors AND the query's cell —
    * in-memory serving only; documented deviation). */
  def write(table: String, buckets: Int = 8): Unit = {
    require(!residual,
      "residual-coded indexes are in-memory only (the query-side " +
        "residual encoding needs fit-session state); fit with " +
        "residual=false to persist")
    // a read-back index (nCells = -1) is ALREADY persisted — and the
    // untrained fallback below would rebuild a cos_raw quantizer that
    // mismatches an l2_grid-origin cell assignment; copy the tables to
    // relocate an index
    require(trainedCent.isDefined || nCells > 0,
      "write() persists a fit-session index; this one was opened with " +
        "IvfPqIndex.read and its tables already exist — copy/CTAS the " +
        s"<table>_{meta,cent,codes,cells,coarse} tables to relocate it")
    val coarse = trainedCent match {
      case Some(cent) => (cent, "l2_grid")
      case None =>
        val emb = corpus.getOrElse(sys.error("corpus frame missing"))
        (emb.select(col(idCol).as("cell"),
            Similarity.vecD(col(vecCol)).as("cv"))
          .orderBy(col("cell")).limit(nCells), "cos_raw")
    }
    Similarity.writePqIndex(model, cells, idCol, table, buckets, Some(coarse))
  }

  /** Drop every cache this index holds (model codebooks/assignments,
    * the cell frame if fit() persisted it, the residual frame).
    * Materialize (persist+count) any result you still need FIRST. */
  def release(): Unit = {
    model.release()
    residFrame.foreach(_.unpersist(blocking = false))
    trainedCent.foreach(_.unpersist(blocking = false))
    if (ownsCells) cells.unpersist(blocking = false)
  }
}

object IvfPqIndex {

  /** Fit an index over `emb` — faiss `train()` + the initial `add()`.
    * Cells and (for residual) the residual frame are persisted; call
    * [[IvfPqIndex.release]] when done serving from this session. */
  def fit(emb: DataFrame, cfg: IvfPqConfig): IvfPqIndex = span("vector.IvfPqIndex.fit") {
    import cfg._
    // validate the scaladoc'd coverage invariant up front: pqFit slices
    // exactly m x subDims dims, so a mis-sized config would silently
    // index a PREFIX of every vector (or produce out-of-range empty
    // slices) — degraded neighbors with no error. One 1-row probe.
    // headOption: an empty corpus must fail with a named error, not a
    // bare NoSuchElementException from head() (round-12 ADVICE)
    val dims = emb.select(size(col(vecCol))).limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"IvfPqIndex.fit: the corpus frame is empty — nothing to index"))
      .getInt(0)
    require(m * subDims == dims,
      s"m*subDims must equal the vector dims: m=$m x subDims=$subDims " +
        s"= ${m * subDims}, but $vecCol has $dims dims")
    val (cells, cent) =
      if (trained) {
        val (asg, c) = Similarity.ivfCellsTrainedWithCentroids(
          emb, idCol, vecCol, nCells, iters)
        // the centroid frame is k rows but its LINEAGE is the whole
        // Lloyd chain — unpersisted, every nProbe>1 search and write()
        // would re-run corpus-wide k-means just to rank cells
        (asg.persist(), Some(c.persist()))
      } else
        (Similarity.ivfCells(emb, idCol, vecCol, nCells).persist(), None)
    if (residual) {
      // trained cells anchor residuals at each cell's min-id MEMBER
      // (Lloyd drift makes seed anchoring wrong — round-11 measurement);
      // training-free cells keep the seed anchor, whose grid coordinates
      // exist by construction (q169's exact-oracle story).
      val resid = (if (trained)
          Similarity.ivfResidualsAnchored(emb, idCol, vecCol, cells)
        else Similarity.ivfResiduals(emb, idCol, vecCol, cells)).persist()
      // distinct seeding is load-bearing: cell anchors' own residuals
      // are all zero — lowest-id seeding would collapse the codebook
      val model = Similarity.pqFit(resid, idCol, "resid",
        m, subDims, k, iters, distinctSeeds = true)
      new IvfPqIndex(model, cells, cent, Some(resid), Some(emb), None,
        "none", idCol, vecCol, nCells, residual = true, ownsCells = true)
    } else {
      val model = Similarity.pqFit(emb, idCol, vecCol, m, subDims, k, iters)
      new IvfPqIndex(model, cells, cent, None, Some(emb), None,
        "none", idCol, vecCol, nCells, residual = false, ownsCells = true)
    }
  }

  /** Open a persisted index for serving, from ANY session (guarded
    * refresh — [[Similarity.readPqIndex]]). Needs only the index
    * tables: own-cell and (when the index was written growable, the
    * [[IvfPqIndex.write]] default) multi-probe search work without the
    * corpus; `refine` additionally needs [[IvfPqIndex.withCorpus]].
    * `vecCol` names the query frame's vector column. */
  def read(spark: SparkSession, table: String, vecCol: String): IvfPqIndex = {
    val (model, cells) = Similarity.readPqIndex(spark, table)
    val meta = spark.table(s"${table}_meta").head()
    // by NAME, not position: a meta table from a different layout must
    // fail with a named-column error, not misparse (round-12 ADVICE)
    val idCol = meta.getAs[String]("id_col")
    val metric = meta.getAs[String]("coarse_metric")
    val seeds =
      if (metric == "none") None
      else {
        spark.catalog.refreshTable(s"${table}_coarse")
        Some(spark.table(s"${table}_coarse"))
      }
    new IvfPqIndex(model, cells, None, None, None, seeds, metric,
      idCol, vecCol, nCells = -1, residual = false, ownsCells = false)
  }

  /** Grow a persisted index without refitting — faiss `add()`; see
    * [[Similarity.appendPqIndex]] for the encoding rules and the
    * single-writer / ignore-on-id-collision contract. */
  def append(spark: SparkSession, table: String,
      newEmb: DataFrame, vecCol: String): Unit =
    Similarity.appendPqIndex(spark, table, newEmb, vecCol)

  /** COMPACT the index's bucketed tables (codes, cells) back to one
    * file per bucket. Each [[append]] adds `buckets` files to both, so
    * a daily-ingest index fragments linearly — after N batches every
    * serving scan opens N·buckets files per table. Compaction restores
    * the write-time layout without touching the k-row frames (meta,
    * cent, coarse — they never grow). The two rewrites are disjoint
    * tables and run concurrently. Crash-safe and resumable:
    * [[graft.sinks.ManagedTables.compactBucketedTable]]'s
    * tmp-write → drop → rename protocol. Serving results are
    * bit-identical before and after (same rows, same bucket spec — the
    * spec and q179's oracle pin it). */
  def compact(spark: SparkSession, table: String): Unit = {
    graft.operators.Concurrent.mapInParallel(Seq("codes", "cells")) { sfx =>
      graft.sinks.ManagedTables.compactBucketedTable(spark, s"${table}_$sfx")
    }
    ()
  }
}
