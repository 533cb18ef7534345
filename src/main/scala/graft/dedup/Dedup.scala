package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.obs.span

/** Deduplication operator library — the training-data-pipeline extensions
  * from the brief (exact, MinHash+LSH, SimHash, n-gram Jaccard), designed
  * for 100 TB corpora:
  *
  *  - All hashing is *portable arithmetic over md5 hex* so every operator
  *    has an exact DuckDB oracle (no engine-specific hash functions).
  *  - MinHash signatures use one md5 per shingle + k·(h1 + i·h2) double
  *    hashing (Broder-style), computed as k partial `min` aggregates in a
  *    single map-side-combining groupBy — the shuffle carries only
  *    |docs|·|shingles| narrow rows and the combiner collapses them to
  *    |docs| rows per partition before the exchange.
  *  - SimHash is 32 conditional-sum aggregates in one groupBy (one shuffle).
  *  - Jaccard runs only inside LSH-style blocks (source × length bucket) —
  *    never a full cross join.
  *
  * The reference itself dedups only exactly (unique-by-key,
  * data_transformation_helpers.py:89-120 via /root/reference); the
  * near-dup family is the scale extension the brief asks for.
  */
object Dedup {

  /** Lowercased word tokens — the shingling base. Same regex runs on
    * DuckDB's RE2; the engine side rides the codegen'd ASCII fast scan
    * with Spark's own lower+regex as the non-ASCII fallback
    * ([[graft.functions.TextExpressions.fastWordTokens]], r16). */
  def wordTokens(c: Column): Column =
    graft.functions.TextExpressions.fastWordTokens(c)

  /** Distinct word n-gram shingles (space-joined). Callers should filter
    * `size(wordTokens) >= n` first; shorter docs would yield one truncated
    * shingle. */
  def wordShingles(toks: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))

  /** 48-bit base hashes from md5 hex — h1 = hex[1..12], h2 = hex[13..24]
    * forced odd. 48 bits keeps h1 + 15·h2 < 2^53 (no overflow in either
    * engine); odd h2 makes the double-hash family well-distributed. */
  val HashSpace: Long = 1L << 48
  def h1(s: Column): Column = conv(substring(md5(s), 1, 12), 16, 10).cast("long")
  def h2odd(s: Column): Column =
    conv(substring(md5(s), 13, 12), 16, 10).cast("long") * 2 + 1

  /** Reproducible train/val/test split by key hash — the deterministic
    * alternative to seeded `sample()`: membership depends only on the
    * key, so splits are stable across runs, partitionings, and engines
    * (no RNG state). Thresholds are over the first md5 byte (0-255);
    * defaults 205/230 ≈ 80/10/10. */
  def hashSplit3(keyCol: Column, b1: Int = 205, b2: Int = 230): Column = {
    val byte = conv(substring(md5(keyCol.cast("string")), 1, 2), 16, 10).cast("int")
    when(byte < b1, "train").when(byte < b2, "val").otherwise("test")
  }

  /** Training-mixture sampling: keep a row iff the first md5 byte of its
    * key falls under the per-stratum threshold (0-256 ≈ keep rate ·256).
    * Like [[hashSplit3]], membership depends only on the key — the
    * deterministic, engine-portable form of per-source rate sampling a
    * training mixture needs (seeded `sample()` is partitioning-dependent).
    * `rate256` maps stratum value → threshold; strata absent from the map
    * use `defaultRate256`. */
  def mixtureKeep(
      keyCol: Column, stratumCol: Column,
      rate256: Map[String, Int], defaultRate256: Int): Column = {
    val byte = conv(substring(md5(keyCol.cast("string")), 1, 2), 16, 10).cast("int")
    val thresh = rate256.foldLeft(lit(defaultRate256)) {
      case (acc, (stratum, r)) => when(stratumCol === stratum, lit(r)).otherwise(acc)
    }
    byte < thresh
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir", A-ES): per row draw
    * key = ln(u)/w with u uniform in (0, 1]; the n LARGEST keys are
    * distributed exactly as sequential weight-proportional draws without
    * replacement. u derives from md5(id:seed)'s first 12 hex digits —
    * the [[hashSplit3]]/[[mixtureKeep]] determinism discipline:
    * membership depends only on (id, seed), reproducible, partitioning-
    * independent, engine-portable (a seeded `sample()` is neither).
    * Float discipline: h+1 ≤ 16¹² < 2⁵³ is exact in double, u is one
    * IEEE division of exact integers, ln of such a double and the
    * divide by the (integer-valued) weight are single IEEE ops — the
    * q111-proven recipe, so selection AND order replay exactly in SQL.
    * Rows with weight ≤ 0 are excluded (zero weight = never sampled).
    *
    * Scale: one projection + TakeOrderedAndProject — a single corpus
    * pass with an n-row result, no full sort; the one-shot form of
    * quality-weighted subsampling a mixture builder runs per source.
    * Returns the sampled rows with their `skey` (drop it if unneeded). */
  /** The A-ES key ln(u)/w — see [[weightedSample]] for the discipline. */
  private def aesKey(idCol: String, weightCol: String, seed: Long): Column = {
    val h = conv(
      substring(md5(concat(col(idCol).cast("string"), lit(s":$seed"))), 1, 12),
      16, 10).cast("long")
    val u = (h + lit(1L)).cast("double") / lit(281474976710656.0) // 16^12
    log(u) / col(weightCol).cast("double")
  }

  def weightedSample(
      df: DataFrame, idCol: String, weightCol: String,
      n: Int, seed: Long): DataFrame =
    df.filter(col(weightCol) > 0)
      .withColumn("skey", aesKey(idCol, weightCol, seed))
      .orderBy(col("skey").desc, col(idCol).asc)
      .limit(n)

  /** Per-stratum [[weightedSample]]: the A-ES keys ranked WITHIN each
    * stratum — weight-proportional per-source quotas in ONE pass (the
    * [[domainCap]] shape, but picks are weight-proportional draws
    * instead of hash-arbitrary). One window shuffle on the stratum
    * columns; same determinism and oracle story as weightedSample. */
  def weightedSamplePerGroup(
      df: DataFrame, idCol: String, weightCol: String,
      groupCols: Seq[String], nPerGroup: Int, seed: Long): DataFrame =
    df.filter(col(weightCol) > 0)
      .withColumn("skey", aesKey(idCol, weightCol, seed))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(groupCols.map(col): _*)
          .orderBy(col("skey").desc, col(idCol).asc)))
      .filter(col("__rn") <= nPerGroup)
      .drop("__rn")

  /** Temperature-based mixture rebalancing (the multilingual T-sampling
    * step, temperature fixed at 2): per-stratum keep THRESHOLDS derived
    * from the corpus itself so the kept distribution follows
    * p^(1/2) — downsample-only with maximum retention (the stratum with
    * the largest n/sqrt(p) keeps everything; dominant strata are cut).
    * All float math is sqrt/division/multiplication — IEEE-exact and
    * identical across engines, so the thresholds (and therefore every
    * keep decision) are oracle-checkable bit-for-bit.
    *
    * Returns (stratum, n_orig, thresh) with thresh ∈ [0,256] for the
    * [[mixtureKeep]]-style first-md5-byte test. Scale: the corpus is
    * scanned ONCE (the per-stratum count agg); every derived scalar is a
    * window over the counts frame, whose cardinality is the number of
    * strata — tiny by construction — so the empty-frame windows never
    * see corpus-sized data. The argmin stratum is matched by exact float
    * equality on the identically-computed ratio, so its threshold is
    * EXACTLY 256 (keeps everything) rather than 255 via floor rounding. */
  def temperatureThresholds(df: DataFrame, stratumCol: String): DataFrame = {
    val w = Window.partitionBy(lit(1))
    df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))
      .withColumn("qs", sqrt(col("n").cast("double") / sum(col("n")).over(w)))
      .withColumn("ratio", col("n").cast("double") / col("qs"))
      .withColumn("cmin", min(col("ratio")).over(w))
      .select(col(stratumCol), col("n").as("n_orig"),
        when(col("ratio") === col("cmin"), lit(256))
          .otherwise(floor(col("cmin") * col("qs") / col("n") * 256).cast("int"))
          .as("thresh"))
  }

  /** Deterministic global shuffle for training-example ordering, in the
    * scalable bucketed form: rows land in `buckets` hash buckets (first
    * md5 nibbles) and get a dense position within their bucket, ordered
    * by full hash then key. Consumers read buckets in order for a stable
    * pseudo-random permutation; no single-partition global window —
    * per-bucket windows run on `buckets`-way shuffled partitions. */
  def shuffleBuckets(df: DataFrame, keyCol: String, buckets: Int = 16): DataFrame = {
    require(buckets == 16 || buckets == 256, "buckets must be 16 or 256 (hex prefix)")
    val hexDigits = if (buckets == 16) 1 else 2
    val hashed = df
      .withColumn("__h", md5(col(keyCol).cast("string")))
      .withColumn("bucket",
        conv(substring(col("__h"), 1, hexDigits), 16, 10).cast("int"))
    val w = Window.partitionBy("bucket").orderBy(col("__h"), col(keyCol))
    hashed.withColumn("pos", row_number().over(w)).drop("__h")
  }

  /** Per-domain document caps (the C4/RefinedWeb domain-balancing step):
    * keep at most `maxPerDomain` rows per domain, chosen deterministically
    * by md5-of-key order (a reproducible uniform sample of each domain,
    * not "whatever the scan produced first" — Spark has no file order).
    * One shuffle on the domain column; the per-domain row_number window
    * runs domain-parallel. Heavy-tailed domain sizes skew that shuffle at
    * corpus scale; the standard mitigation (pre-trim within
    * (domain, md5-prefix salt) to maxPerDomain each, then re-rank the
    * salts·maxPerDomain survivors — identical result, since the global
    * per-domain top-N by hash is contained in the union of per-salt
    * top-Ns) composes from this same kernel when a domain outgrows one
    * reducer. */
  def domainCap(
      df: DataFrame, keyCol: String, domainCol: String,
      maxPerDomain: Int): DataFrame = {
    val h = md5(col(keyCol).cast("string"))
    val w = Window.partitionBy(col(domainCol)).orderBy(h, col(keyCol))
    df.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= maxPerDomain)
  }

  /** Token-budget corpus selection: keep the best-scoring rows whose
    * running cost (e.g. token count, ordered by score desc then key) stays
    * within `budget` — "the highest-quality N-billion-token subset", the
    * selection step a budgeted pretraining mix needs.
    *
    * The running sum is a DISTRIBUTED prefix sum, never a one-partition
    * global window: rows land in `buckets` score-range buckets (bucket is
    * a pure function of the score, so equal scores never straddle a
    * boundary and (bucket asc, score desc, key asc) is the global order);
    * per-bucket totals (≤ `buckets` rows) get running offsets via a window
    * over that tiny frame; each row's global cumulative cost is then its
    * bucket offset + an intra-bucket cumulative window that runs
    * bucket-parallel. Scores must lie in [0,1] (callers normalize). */
  def budgetSelect(
      df: DataFrame, keyCol: String, scoreCol: String, costCol: String,
      budget: Long, buckets: Int = 64): DataFrame = {
    val bucket = least(floor((lit(1.0) - col(scoreCol)) * buckets), lit(buckets - 1))
      .cast("int").as("bucket")
    val b = df.select(col(keyCol), col(scoreCol), col(costCol), bucket)
    val totals = b.groupBy("bucket").agg(sum(col(costCol)).as("btot"))
    // partitionBy(lit(1)): single explicit partition over the ≤`buckets`-row
    // totals frame (the temperatureThresholds idiom — intentional, tiny)
    val wOff = Window.partitionBy(lit(1)).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = totals
      .withColumn("off", coalesce(sum(col("btot")).over(wOff), lit(0L)))
      .select("bucket", "off")
    val wCum = Window.partitionBy("bucket")
      .orderBy(col(scoreCol).desc, col(keyCol).asc)
    b.join(broadcast(offs), "bucket")
      .withColumn("cum", col("off") + sum(col(costCol)).over(wCum))
      .filter(col("cum") <= budget)
      .select(col(keyCol), col(scoreCol), col(costCol), col("cum"))
  }

  /** Exact dedup: content-hash groupBy keeping the smallest id per group
    * (the distributed version of unique-by-key; one shuffle on the 64-hex
    * fingerprint, partial-aggregated map-side). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature + LSH banding. Returns (id, band, band_key): docs
    * sharing any (band, band_key) are near-dup candidates. `numHashes`
    * minhashes split into `bands` bands; band key = md5 of the comma-joined
    * band slice.
    *
    * Scale shape: explode shingles (narrow rows), ONE md5 per distinct
    * shingle occurrence, then a single groupBy(id) computing all k mins as
    * partial aggregates; banding is a pure projection. Candidate pairing
    * afterwards is a self-equi-join on (band, band_key) — hash-joinable,
    * never quadratic.
    */
  /** Raw MinHash signature: (id, mh0..mh{k-1}). The signature-agreement
    * fraction between two docs is an unbiased estimator of their shingle
    * Jaccard similarity (the property DedupSpec verifies).
    *
    * Form note (measured round 5): the explode→groupBy(k partial mins)
    * shape is the right one. Its shuffle is NOT shingle-count-sized —
    * the codegen'd partial mins collapse map-side to ≤ |docs|·k values
    * per partition before the exchange. A per-row variant (k array_min
    * folds over a staged (h1,h2) struct array, zero shuffles) measured
    * EQUAL solo (~4s for q33 at sf0.1: md5 dominates and the interpreted
    * HOF lambdas cost what the shuffle saved) but 2× WORSE inside q91's
    * fuzzy-dedup pipeline — downstream self-joins consume the signature
    * twice, and with no exchange there is nothing for ReuseExchange to
    * dedup, so both join sides re-hashed the whole corpus. The agg form
    * gives every consumer a reusable exchange for free. */
  def minhashSignature(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16): DataFrame = {
    // r16 (guide §1.2 per-task work): tokenize ONCE per doc and md5 ONCE
    // per shingle. The old inlined form re-ran the tokenizer regex 3×
    // per doc (the size filter + twice inside wordShingles — sequence
    // bound and slice both inlined `toks`) and md5 2× per shingle (h1
    // and h2odd each call md5(s)). Materializing each in its own
    // projection pins one evaluation: CollapseProject refuses to inline
    // non-cheap expressions used more than once, and the size guard
    // moved INSIDE the explode argument (empty array ⇒ no rows — the
    // exact rows the old filter dropped, since sub-n docs emitted
    // nothing downstream of it) so no Filter gets pushdown-substituted
    // below the projection. Bit-identical output.
    val sh = df
      .select(col(idCol), wordTokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(
        when(size(col("toks")) >= shingleN, wordShingles(col("toks"), shingleN))
          .otherwise(array().cast("array<string>"))).as("s"))
      .select(col(idCol), md5(col("s")).as("m"))
      .select(col(idCol),
        conv(substring(col("m"), 1, 12), 16, 10).cast("long").as("h1"),
        (conv(substring(col("m"), 13, 12), 16, 10).cast("long") * 2 + 1).as("h2"))
    val mins = (0 until numHashes).map(i =>
      min((col("h1") + col("h2") * i) % HashSpace).as(s"mh$i"))
    sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  def minhashBands(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sig = minhashSignature(df, idCol, textCol, shingleN, numHashes)
    val bandKeys = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      md5(concat_ws(",", slice: _*))
    }
    sig.select(
      col(idCol),
      posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
  }

  /** LSH candidate pairs: ids sharing at least one band key. */
  def lshCandidates(bandsDf: DataFrame, idCol: String): DataFrame = {
    val a = bandsDf.select(col(idCol).as("id_a"), col("band"), col("band_key"))
    val b = bandsDf.select(col(idCol).as("id_b"), col("band"), col("band_key"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** 32-bit SimHash over the distinct-token set, as a '0'/'1' bitstring
    * (MSB-first per hex nibble of the token's md5). One shuffle: 32
    * conditional-sum partial aggregates in a single groupBy(id). */
  def simhash32(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toksRows = df.select(
      col(idCol), explode(array_distinct(wordTokens(col(textCol)))).as("tok"))
      .withColumn("m", md5(col("tok")))
    val bitSums = (0 until 32).map { j =>
      val nib = conv(substring(col("m"), j / 4 + 1, 1), 16, 10).cast("int")
      val bit = shiftright(nib, 3 - j % 4) % 2
      sum(when(bit === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val sums = toksRows.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val bitChars = (0 until 32).map(j =>
      when(col(s"b$j") >= 0, lit("1")).otherwise(lit("0")))
    sums.select(col(idCol), concat(bitChars: _*).as("simhash"))
  }

  /** Blocked n-gram Jaccard: pairwise |A∩B|/|A∪B| over distinct shingle
    * sets, restricted to blocks (e.g. source × length-bucket) so the join
    * stays an equi-join — the blocking that makes pairwise similarity
    * feasible at corpus scale. `blockCols` must exist in `df`. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[Column], shingleN: Int = 2): DataFrame = {
    // `__toks` materialized via withColumn (r16): the old inlined form
    // ran the tokenizer regex twice more inside wordShingles (and
    // blockCols may reference arbitrary df columns, so the projection
    // must keep them all). The size filter must STAY a row filter here
    // (docs below n tokens must not pair at all — an empty-array row
    // would emit null-jaccard pairs), so it re-runs the regex once
    // under pushdown: 2 evals per doc instead of 3.
    val base = df
      .withColumn("__toks", wordTokens(col(textCol)))
      .filter(size(col("__toks")) >= shingleN)
      .select(col(idCol) +: (blockCols :+
        wordShingles(col("__toks"), shingleN).as("sh")): _*)
    val a = base.columns.foldLeft(base)((d, c) => d.withColumnRenamed(c, s"a_$c"))
    val b = base.columns.foldLeft(base)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    val joinCond = base.columns.filterNot(c => c == idCol || c == "sh")
      .map(c => col(s"a_$c") === col(s"b_$c"))
      .reduce(_ && _) && col(s"a_$idCol") < col(s"b_$idCol")
    val inter = size(array_intersect(col("a_sh"), col("b_sh")))
    val union = size(col("a_sh")) + size(col("b_sh")) - inter
    a.join(b, joinCond)
      .select(
        col(s"a_$idCol").as("id_a"), col(s"b_$idCol").as("id_b"),
        round(inter.cast("double") / union.cast("double"), 6).as("jaccard"))
  }

  /** End-to-end fuzzy dedup — the near-dup REMOVAL pipeline production
    * pretraining curation runs (the SlimPajama/RefinedWeb shape), composed
    * from this module's kernels: MinHash signatures → LSH banding →
    * candidate pairs ([[lshCandidates]]) → exact shingle-Jaccard
    * verification → connected components over the verified near-dup graph
    * → min-id canonical selection. Returns one row per input doc:
    * (idCol, cluster, keep) with cluster = smallest doc id in the doc's
    * near-dup cluster and keep ⇔ the doc IS that canonical.
    *
    * The Jaccard threshold is the rational jaccNum/jaccDen and the test is
    * the integer cross-multiply `|∩|·den ≥ |∪|·num` — no float division,
    * so the keep/drop decision has no rounding edge and replays exactly in
    * any engine.
    *
    * Scale shape: candidates come from a band-key equi-join (never
    * doc×doc); verification joins ONLY candidate pairs against per-doc
    * distinct-shingle arrays (a semi-join-sized fraction of the corpus);
    * the verified pair graph holds near-dups only — usually orders of
    * magnitude smaller than the corpus — so at or below `graphxMaxEdges`
    * verified pairs its components come from one collect and a
    * union-find on the driver (32 MB of edges at the 2M default), and
    * past it from [[graft.graph.GraphOps.ccStarEdges]] (pointer jumping,
    * O(log n) rounds on any topology) — the heavily-duplicated-corpus
    * regime where each dup group is a near-clique and the pair graph
    * itself is big (round-12 measurement at sf10: on the 27M-edge
    * replicated dup graph the Catalyst path cut q91's min-of-2 189 s →
    * 88 s against GraphX Pregel). The pick is
    * [[graft.graph.GraphOps.ccAuto]]'s; both engines label every vertex
    * with its component's MIN id (AlgoRandomSpec asserts set-equality),
    * so the switch can never change results. */
  def fuzzyDedup(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      jaccNum: Int = 1, jaccDen: Int = 2,
      graphxMaxEdges: Long = 2000000L): DataFrame = span("dedup.fuzzyDedup") {
    import graft.graph.GraphOps
    // the band pass is persisted: the cand subplan is embedded three
    // times in the verify stage (candIds inside both shingle-set sides
    // plus the verify join itself), and the cache guarantees one band
    // pass without relying on exchange reuse
    val cand = lshCandidates(
      minhashBands(docs, idCol, textCol, shingleN, numHashes, bands), idCol)
      .persist()
    // tokenize once (r16, same rewrite as minhashSignature): `toks` in
    // its own projection, size guard inside the shingle expression
    // instead of a pushdown-substituted Filter. Sub-n docs now carry an
    // empty `sh` instead of being absent — indistinguishable downstream:
    // they have no bands, so they can never appear in `cand`, and the
    // verify join is candidates-only.
    // r16 candidate restriction (guide §2.3/§8): the verify-side shingle
    // arrays are built ONLY for docs appearing in some candidate pair —
    // the old form re-tokenized and shuffled the whole corpus a second
    // time (the band pass already paid the first) even when candidates
    // covered a sliver of it. The semi-join is an identity on the inner
    // candidate joins below; AQE sizes it from the candidate side's real
    // runtime bytes. Worst case (every doc in some pair) it degrades to
    // the old corpus-sized shape plus one cheap semi filter.
    val candIds = cand.select(
      explode(array(col("id_a"), col("id_b"))).as("cid"))
    val sets = docs
      .join(candIds, docs(idCol) === candIds("cid"), "left_semi")
      .select(col(idCol).as("sid"), wordTokens(col(textCol)).as("toks"))
      .select(col("sid"),
        when(size(col("toks")) >= shingleN, wordShingles(col("toks"), shingleN))
          .otherwise(array().cast("array<string>")).as("sh"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val uni = size(col("sh_a")) + size(col("sh_b")) - inter
    val verified = cand
      .join(sets.select(col("sid").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("sid").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(inter * jaccDen >= uni * jaccNum)
    // the CC output stays referenced by the returned lazy frame
    val cc = GraphOps.ccAuto(verified, "id_a", "id_b", graphxMaxEdges)
    cand.unpersist(blocking = false)
    docs.select(col(idCol))
      .join(cc.select(col("id").as(idCol), col("component")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster"),
        (coalesce(col("component"), col(idCol)) === col(idCol)).as("keep"))
  }

  /** Incremental near-dup check of a NEW batch against an EXISTING corpus
    * — the daily-ingest shape: band keys of the batch equi-join the
    * (precomputable, appendable) band index of the corpus, candidate
    * pairs are verified with the exact shingle-Jaccard test, and each new
    * doc reports whether it near-dups something already ingested (and
    * the smallest such id). Asymmetric by construction: never new×new or
    * index×index — the join cost tracks the BATCH size, not the corpus,
    * which is what makes per-increment dedup affordable against a 100 TB
    * accumulated index. Within-batch duplicates are [[fuzzyDedup]]'s job
    * on the batch alone.
    *
    * Returns one row per new doc: (id, is_dup, dup_of — null when clean). */
  def incrementalNearDup(
      newDocs: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      jaccNum: Int = 1, jaccDen: Int = 2): DataFrame =
    incrementalNearDupWithIndex(newDocs,
      minhashBands(corpus, idCol, textCol, shingleN, numHashes, bands)
        .select(col(idCol).as("old_id"), col("band"), col("band_key")),
      corpus, idCol, textCol, shingleN, jaccNum, jaccDen,
      numHashes = numHashes, bands = bands)

  /** Write the corpus band index as a bucketed table — the ONE-time
    * shuffle that [[incrementalNearDupWithIndex]] then rides forever:
    * bucketBy(band_key) makes the table's layout satisfy the band
    * join's distribution, so every subsequent batch joins the index
    * with zero index-side exchange (PlanSpec walks the executed plan).
    * Columns: (old_id, band, band_key).
    *
    * Drop-and-clean before the write (the writePqIndex discipline): a
    * warehouse directory can outlive the in-memory catalog (fresh
    * session, stale location), and saveAsTable(overwrite) refuses a
    * location it doesn't own with LOCATION_ALREADY_EXISTS. */
  def writeBandIndex(
      table: String, corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      buckets: Int = 8): Unit = span("dedup.writeBandIndex") {
    val spark = corpus.sparkSession
    graft.sinks.ManagedTables.dropTableAndLocation(spark, table)
    minhashBands(corpus, idCol, textCol, shingleN, numHashes, bands)
      .select(col(idCol).as("old_id"), col("band"), col("band_key"))
      .write.mode("overwrite")
      .bucketBy(buckets, "band_key").sortBy("band_key")
      .saveAsTable(table)
  }

  /** MAINTAIN the band index: fold a processed batch's bands INTO the
    * bucketed table, so the next batch's dedup sees this batch's docs —
    * the daily-ingest loop at 100 TB (re-deriving the index from the
    * grown corpus would be corpus-sized; this append is batch-sized).
    * The appended files carry the same bucketBy(band_key) layout, so
    * the next batch's band join STILL plans zero index-side exchange
    * (PlanSpec's two-batch case asserts exactly that). Parameters must
    * match the index's build parameters — band keys are md5 over the
    * band's minhash slice, so a mismatch silently yields no candidates
    * (same caveat as [[incrementalNearDupWithIndex]]). */
  def appendBandIndex(
      table: String, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      buckets: Int = 8): Unit = span("dedup.appendBandIndex") {
    minhashBands(batch, idCol, textCol, shingleN, numHashes, bands)
      .select(col(idCol).as("old_id"), col("band"), col("band_key"))
      .write.mode("append")
      .bucketBy(buckets, "band_key").sortBy("band_key")
      .saveAsTable(table)
    // the writing session's relation cache would otherwise keep serving
    // the pre-append file list to the NEXT batch's index read (bitten in
    // the streaming foreachBatch loop, where each micro-batch runs in a
    // cloned session — readers in OTHER sessions go through
    // [[readBandIndex]], which refreshes their own cache first)
    batch.sparkSession.catalog.refreshTable(table)
  }

  /** The GUARDED read path for a maintained band index: refresh the
    * READING session's relation cache before handing out the DataFrame,
    * so a session that didn't perform the append (a cloned foreachBatch
    * session, a second interactive session, the next job in a chain)
    * can never silently plan against the pre-append file list —
    * [[appendBandIndex]] can only refresh the cache of the session that
    * wrote (round-9 verdict item 5). The refresh is a catalog metadata
    * call, not a scan; the returned frame keeps the bucketBy(band_key)
    * layout, so the band join still plans zero index-side exchange. */
  def readBandIndex(spark: SparkSession, table: String): DataFrame = {
    spark.catalog.refreshTable(table)
    spark.table(table)
  }

  /** [[incrementalNearDup]] against a MAINTAINED corpus band index —
    * the 100 TB shape: the corpus side of the band join is a table of
    * (old_id, band, band_key) written ONCE (ideally `bucketBy` on
    * band_key, so the scan's bucket layout satisfies the join's
    * distribution and the index side joins with ZERO exchange per
    * batch; only the batch's bands shuffle). The caller guarantees the
    * index was built with the same shingleN/numHashes/bands as the
    * batch side — band keys are md5 over the band's minhash slice, so
    * mismatched parameters silently produce no candidates. */
  def incrementalNearDupWithIndex(
      newDocs: DataFrame, corpusBands: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, jaccNum: Int = 1, jaccDen: Int = 2,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val nb = minhashBands(newDocs, idCol, textCol, shingleN, numHashes, bands)
      .select(col(idCol).as("new_id"), col("band"), col("band_key"))
    val cb = corpusBands.select(col("old_id"), col("band"), col("band_key"))
    val cand = nb.join(cb, Seq("band", "band_key"))
      .select("new_id", "old_id").distinct()
    // Verify-side shingle sets are computed ONLY for docs that appear in
    // a candidate pair (r16, guide §2.3/§8 "decide with small rows"): the
    // old form tokenized+shingled the ENTIRE corpus per batch — corpus-
    // sized CPU plus a corpus-sized (id, shingle-array) shuffle — even
    // though the inner verify join keeps only candidate old_ids
    // (batch-bounded). The semi-join is an identity on that inner join
    // (a non-candidate row can never survive it), and AQE plans it from
    // the candidate side's REAL runtime size — broadcast when small, so
    // the corpus is scanned in place, filtered, and only candidate rows
    // pay the tokenizer and the shuffle; when candidates are genuinely
    // huge the fallback is a corpus shuffle of raw text, the same bytes
    // class the old shape always paid. `cand` feeds three consumers, all
    // above its distinct's Exchange, which ReuseExchange dedups — the
    // band join still runs once.
    def shingleSets(
        df: DataFrame, candIds: DataFrame, candIdCol: String, as: String) = {
      // tokenize once (r16, the minhashSignature rewrite): guarded-empty
      // shingles instead of a filter — sub-n docs have no bands on either
      // side, so they never reach the candidate join anyway
      df.join(candIds, df(idCol) === candIds(candIdCol), "left_semi")
        .select(col(idCol).as(as), wordTokens(col(textCol)).as("toks"))
        .select(col(as),
          when(size(col("toks")) >= shingleN, wordShingles(col("toks"), shingleN))
            .otherwise(array().cast("array<string>")).as(s"sh_$as"))
    }
    val inter = size(array_intersect(col("sh_new_id"), col("sh_old_id")))
    val uni = size(col("sh_new_id")) + size(col("sh_old_id")) - inter
    val dups = cand
      .join(shingleSets(newDocs, cand.select(col("new_id")), "new_id", "new_id"),
        "new_id")
      .join(shingleSets(corpus, cand.select(col("old_id")), "old_id", "old_id"),
        "old_id")
      .filter(inter * jaccDen >= uni * jaccNum)
      .groupBy(col("new_id"))
      .agg(min(col("old_id")).as("dup_of"))
    newDocs.select(col(idCol))
      .join(dups.select(col("new_id").as(idCol), col("dup_of")), Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }

  /** Leakage-safe dataset split: assign near-duplicate CLUSTERS
    * ([[fuzzyDedup]]'s connected components), not individual documents,
    * to train/val/test via [[hashSplit3]] on the cluster id. A doc-keyed
    * split lets two near-identical documents straddle the train/test
    * boundary — the quiet contamination mode that inflates eval numbers;
    * splitting on the cluster key makes that impossible by construction
    * (every member shares the cluster's hash). Same scale shape as
    * fuzzyDedup (LSH banding, never all-pairs) plus one split projection. */
  def leakageSafeSplit(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      jaccNum: Int = 1, jaccDen: Int = 2): DataFrame =
    fuzzyDedup(spark, docs, idCol, textCol, shingleN, numHashes, bands,
        jaccNum, jaccDen)
      .select(col(idCol), col("cluster"),
        hashSplit3(col("cluster")).as("split"))

  /** Dedup RESOLUTION — the "which copy do we keep" step after
    * [[fuzzyDedup]]: pick one canonical document per near-dup cluster
    * by a QUALITY order (descending `qualityCol`, ties to the smaller
    * id) instead of fuzzyDedup's arbitrary min-id convention — real
    * pipelines keep the longest / highest-scoring copy, not the
    * lowest-keyed one. One hash-agg argmax per cluster (the
    * argmaxPerGroup fast path — no window sort), then one cluster-keyed
    * join back. Returns (idCol, cluster, canonical_id, keep).
    *
    * The "ties to the smaller id" tie-break negates the id for the
    * struct-max, which only works for NUMERIC ids — on a string id
    * Spark's unary minus casts to double and yields null, silently
    * flipping the tie-break to the LARGER id. So the negation is
    * type-dispatched: numeric ids take the hash-agg fast path; any
    * other id type falls back to a row_number window ordered
    * (quality desc, id asc) — same result, per-cluster sort cost. */
  def canonicalPerCluster(
      asg: DataFrame, clusterCol: String, idCol: String,
      qualityCol: String): DataFrame = {
    val numericId = asg.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val canon = (if (numericId)
      graft.operators.Relational.argmaxPerGroup(
        asg.select(col(clusterCol), col(idCol), col(qualityCol)),
        groupCols = Seq(clusterCol),
        sortKey = Seq(col(qualityCol), -col(idCol)),
        payload = Seq(idCol))
    else
      asg.select(col(clusterCol), col(idCol), col(qualityCol))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(clusterCol)
            .orderBy(col(qualityCol).desc, col(idCol).asc)))
        .filter(col("__rn") === 1)
        .select(col(clusterCol), col(idCol)))
      .withColumnRenamed(idCol, "canonical_id")
    asg.select(col(idCol), col(clusterCol))
      .join(canon.select(col(clusterCol), col("canonical_id")), clusterCol)
      .select(col(idCol), col(clusterCol), col("canonical_id"),
        (col(idCol) === col("canonical_id")).as("keep"))
  }

  /** Test-set decontamination (the C4/Dolma preprocessing step): flag
    * every document sharing at least one word n-gram with the test
    * subset. One explode per side into (id, n-gram) rows, distinct
    * test-side n-grams, one n-gram equi-join (the test side is the small
    * one — AQE broadcasts it when its measured size allows), one per-doc
    * count. Work is |corpus n-grams| + |matches| — never a doc×doc
    * cross join — and the n-gram explode aggregates map-side before the
    * only wide shuffle. Documents shorter than `n` tokens contribute no
    * n-grams (n_shared = 0). */
  def decontaminateNgrams(
      docs: DataFrame, idCol: String, textCol: String,
      isTest: Column, n: Int = 8): DataFrame = {
    // size guard inside the explode argument (r16): a Filter here gets
    // pushdown-substituted below the projection and re-runs the
    // tokenizer regex per doc; the guarded-empty form tokenizes once
    val toks = docs
      .select(col(idCol), wordTokens(col(textCol)).as("t"), isTest.as("is_test"))
    val grams = toks.select(
      col(idCol), explode(
        when(size(col("t")) >= n, wordShingles(col("t"), n))
          .otherwise(array().cast("array<string>"))).as("ng"), col("is_test"))
    val testGrams = grams.filter(col("is_test")).select("ng").distinct()
    val shared = grams.join(testGrams, "ng")
      .groupBy(col(idCol))
      .agg(countDistinct(col("ng")).as("n_shared"))
    docs.select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Cross-source contamination MATRIX — [[decontaminateNgrams]]
    * generalized from one held-out set to EVERY source pair: for
    * sources a < b, the number of distinct word n-grams appearing in
    * both, plus each side's containment share — the leak audit run
    * before mixing corpora (which crawls duplicate which, whether a
    * benchmark suite bleeds into a training source).
    *
    * Shape: distinct (source, n-gram) — one hash agg — then a
    * gram-keyed self-join whose per-gram fan-out is bounded by
    * C(|sources|, 2), then one pair-keyed groupBy: work is
    * |distinct grams| + |matches|, never doc×doc and never a per-pair
    * corpus scan. At corpus scale swap the join key for xxhash64(ng)
    * (the duplicateSpans trick — 8-byte shuffle keys; kept raw here so
    * the oracle is collision-free exact). Returns one row per
    * overlapping pair: (source_a, source_b, shared_ngrams, tot_a,
    * tot_b, containment_a, containment_b). */
  def crossSourceNgramOverlap(
      docs: DataFrame, sourceCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    // same guarded-empty rewrite as decontaminateNgrams (r16): one
    // tokenizer run per doc instead of a pushed-down filter's second
    val toks = docs
      .select(col(sourceCol).as("src"), wordTokens(col(textCol)).as("t"))
    val sg = toks
      .select(col("src"), explode(
        when(size(col("t")) >= n, wordShingles(col("t"), n))
          .otherwise(array().cast("array<string>"))).as("ng"))
      .distinct()
    val tot = sg.groupBy(col("src")).agg(count(lit(1)).as("tot"))
    val pairs = sg.as("a")
      .join(sg.as("b"), col("a.ng") === col("b.ng") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("shared_ngrams"))
    pairs
      .join(tot.select(col("src").as("source_a"), col("tot").as("tot_a")), "source_a")
      .join(tot.select(col("src").as("source_b"), col("tot").as("tot_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("shared_ngrams"),
        col("tot_a"), col("tot_b"),
        round(col("shared_ngrams").cast("double") / col("tot_a"), 6).as("containment_a"),
        round(col("shared_ngrams").cast("double") / col("tot_b"), 6).as("containment_b"))
  }

  /** Substring-level duplicate-span detection — exact-substring dedup in
    * the style of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better": memorized spans repeat VERBATIM across
    * documents even when whole docs aren't near-dups; doc-level MinHash
    * misses them). Pipeline shape, all pure Catalyst (sequence/explode/
    * substring — codegen'd, no UDF):
    *
    *   1. slide winLen-char windows at `stride` over every doc
    *      (`sequence` + `explode` + `substring`);
    *   2. a window is DUPLICATED when its exact text occurs in ≥2
    *      distinct docs — detected on xxhash64(window), never the raw
    *      50-char string: the shuffle carries an 8-byte key instead of
    *      ~2× the corpus in window bytes (~6× fewer shuffle bytes
    *      measured at sf0.1), and a 64-bit collision turning a unique
    *      window into a "duplicate" is negligible for a dedup signal
    *      (~n²/2⁶⁵ expected false pairs). "≥2 distinct docs" is
    *      min(doc)≠max(doc) per hash — partial min/max collapse map-side,
    *      so corpus-scale hot boilerplate windows never concentrate in
    *      one reducer the way a countDistinct or window-function pass
    *      would;
    *   3. merge each doc's overlapping duplicated windows into maximal
    *      spans (running-max window + island numbering — per-doc
    *      partitions, no global sort).
    *
    * The (id, pos, hash) window frame is persisted so the corpus is
    * exploded+substringed ONCE (detection and marking both read the
    * cache; 24-byte rows, far smaller than the corpus); the result is
    * materialized and the cache released before returning, per the
    * library's materialize-and-release discipline.
    *
    * Cost: |corpus|/stride window rows through two hash shuffles —
    * linear, never pairwise. Returns one row per maximal duplicated span
    * (doc_id, span_start, span_end), 0-based char offsets, end exclusive. */
  def duplicateSpans(
      docs: DataFrame, idCol: String, textCol: String,
      winLen: Int = 50, stride: Int = 25): DataFrame = {
    val wins = docs
      .filter(length(col(textCol)) >= winLen)
      .select(col(idCol), col(textCol).as("t"))
      .select(col(idCol),
        explode(sequence(lit(0), length(col("t")) - winLen, lit(stride))).as("pos"),
        col("t"))
      .select(col(idCol), col("pos"),
        xxhash64(expr(s"substring(t, pos + 1, $winLen)")).as("h"))
      .persist()
    val dup = wins.groupBy("h")
      .agg(min(col(idCol)).as("mn"), max(col(idCol)).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("h")
    val marked = wins.join(dup, "h")
      .select(col(idCol), col("pos").as("s"), (col("pos") + winLen).as("e"))
    val byDoc = Window.partitionBy(idCol).orderBy("s")
    val out = marked
      .withColumn("me", max(col("e")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl", sum(
        when(col("me").isNull || col("s") > col("me"), 1).otherwise(0)).over(byDoc))
      .groupBy(col(idCol), col("isl"))
      .agg(min("s").as("span_start"), max("e").as("span_end"))
      .drop("isl")
      .persist()
    out.count()
    wins.unpersist(blocking = false)
    out
  }
}
