package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Near-dup detection on planted duplicates — the evidence the synthetic
  * corpus (no dups) can't provide. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "spark catalyst optimizes logical plans into physical plans using " +
      "cost based rules and pushes filters into columnar parquet scans " +
      "while broadcast joins avoid shuffles for small dimension tables"
  private val nearDup = base.replace("small dimension", "compact dimension")
  private val unrelated =
    "completely different text about cooking pasta with tomato sauce " +
      "and fresh basil leaves in a large pot of boiling salted water " +
      "until al dente then serving with grated parmesan cheese on top"

  private lazy val docs = Seq(
    (1L, base), (2L, base), (3L, nearDup), (4L, unrelated))
    .toDF("doc_id", "text")

  test("duplicateSpans: cross-doc verbatim spans found and merged; within-doc repeats alone don't count") {
    val shared = "A" * 30 + "B" * 30 // 60 chars, verbatim in docs 1 and 2
    val docs = Seq(
      (1L, "x" * 40 + shared + "y" * 40),
      (2L, "z" * 15 + shared + "w" * 90),
      // doc 3 repeats ITS OWN phrase twice but shares nothing cross-doc
      (3L, ("p" * 60 + "q" * 15) * 2),
      (4L, "unique text only " * 10)).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", winLen = 50, stride = 25)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val byDoc = spans.groupBy(_._1)
    // docs 1 and 2 each carry exactly one merged span; 3 and 4 none
    assert(byDoc.keySet == Set(1L, 2L))
    assert(byDoc(1L).length == 1 && byDoc(2L).length == 1)
    // each merged span covers the shared text's windows (winLen-aligned,
    // so it spans at least the shared region's covered windows)
    for ((doc, s, e) <- spans) {
      val text = if (doc == 1L) "x" * 40 + shared + "y" * 40
                 else "z" * 15 + shared + "w" * 90
      assert(e - s >= 50, s"span shorter than a window: doc $doc [$s,$e)")
      assert(text.substring(s, e).contains("A" * 25) ||
             text.substring(s, e).contains("B" * 25))
    }
    // deterministic
    val again = Dedup.duplicateSpans(docs, "doc_id", "text", winLen = 50, stride = 25)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(spans.sorted.sameElements(again.sorted))
  }

  test("exactGroups collapses identical texts to one representative") {
    val out = Dedup.exactGroups(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 3)
    assert(out(0).getLong(1) == 1L && out(0).getLong(2) == 2L) // docs 1,2 merged
  }

  test("minhash LSH: exact+near dups collide, unrelated does not") {
    val bands = Dedup.minhashBands(docs, "doc_id", "text").cache()
    val pairs = Dedup.lshCandidates(bands, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical → all bands collide
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near-dup caught
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L }) // unrelated stays out
  }

  test("minhash signature is deterministic across runs") {
    val a = Dedup.minhashBands(docs, "doc_id", "text").orderBy("doc_id", "band")
      .collect().map(_.toSeq)
    val b = Dedup.minhashBands(docs, "doc_id", "text").orderBy("doc_id", "band")
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("minhash signature agreement estimates shingle jaccard") {
    val sigs = Dedup.minhashSignature(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    def agreement(a: Long, b: Long): Double =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y } / 16.0
    // true 3-gram jaccard of base vs nearDup (one word changed)
    def shingles(t: String) =
      t.toLowerCase.split("[^a-z0-9]+").sliding(3).map(_.mkString(" ")).toSet
    val j = {
      val (sa, sb) = (shingles(base), shingles(nearDup))
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    assert(agreement(1L, 2L) == 1.0) // identical docs → identical signatures
    assert(math.abs(agreement(1L, 3L) - j) <= 0.35) // 16-hash estimator tolerance
    assert(agreement(1L, 4L) <= 0.25) // unrelated docs ≈ 0
  }

  test("simhash: identical texts equal, near-dups within small hamming distance") {
    val hs = Dedup.simhash32(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    def hamming(x: String, y: String) = x.zip(y).count { case (a, b) => a != b }
    assert(hs(1L) == hs(2L))
    assert(hamming(hs(1L), hs(3L)) <= 6)
    assert(hamming(hs(1L), hs(4L)) > 6)
  }

  test("hashSplit3: deterministic, total, and roughly 80/10/10") {
    val ids = (1L to 2000L).toDF("id")
    val split = ids.select(Dedup.hashSplit3(col("id")).as("s"))
    val counts = split.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 1500 && counts("train") < 1700) // ~80% of 2000
    assert(counts("val") > 130 && counts("val") < 260)
    // stability: same ids → identical assignment
    val again = ids.select(Dedup.hashSplit3(col("id")).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(again == counts)
  }

  test("weightedSample: reproducible, weight-proportional, excludes non-positive weights") {
    // 100 light items (w=1) + 5 heavy (w=1000) + 2 invalid (w=0, w=-3)
    val rows = (1L to 100L).map(i => (i, 1L)) ++
      (101L to 105L).map(i => (i, 1000L)) ++ Seq((106L, 0L), (107L, -3L))
    val df = rows.toDF("id", "w")
    def run(seed: Long) = Dedup.weightedSample(df, "id", "w", n = 10, seed = seed)
      .select("id").as[Long].collect().toSeq
    val s42 = run(42L)
    assert(s42.size == 10)
    assert(!s42.exists(Set(106L, 107L))) // non-positive weights never sampled
    assert(run(42L) == s42)              // same seed → identical draw
    assert(run(7L) != s42)               // different seed → different draw
    // A-ES keys make 1000× weights overwhelmingly likely per draw; with
    // the fixed hash this is a deterministic fact of the fixture
    assert((s42.toSet & (101L to 105L).toSet).size >= 4,
      s"heavy items underrepresented: $s42")
    // n larger than the population returns everything valid
    assert(Dedup.weightedSample(df, "id", "w", n = 500, seed = 1L).count() == 105)
  }

  test("canonicalPerCluster: quality argmax, singleton self-canonical, id tie-break") {
    val asg = Seq(
      (1L, 100L, 50L),  // cluster 100: doc 2 is longest → canonical
      (2L, 100L, 80L),
      (3L, 100L, 80L),  // quality tie with 2 → smaller id (2) wins
      (9L, 9L, 10L))    // singleton cluster → itself
      .toDF("doc_id", "cluster", "n_chars")
    val out = Dedup.canonicalPerCluster(asg, "cluster", "doc_id", "n_chars")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._3 == 2L && !out(1L)._4)
    assert(out(2L)._3 == 2L && out(2L)._4)
    assert(out(3L)._3 == 2L && !out(3L)._4)
    assert(out(9L)._3 == 9L && out(9L)._4)
  }

  test("canonicalPerCluster: STRING ids tie-break to the smaller id too") {
    // round-9 ADVICE: -col(id) on a string id casts to double → null,
    // silently flipping quality ties to the LARGEST id; the type-dispatched
    // window fallback must keep the documented smaller-id convention
    val asg = Seq(
      ("doc_a", 100L, 80L),  // quality tie with doc_b → doc_a (smaller) wins
      ("doc_b", 100L, 80L),
      ("doc_c", 100L, 50L),
      ("doc_z", 9L, 10L))    // singleton → itself
      .toDF("doc_id", "cluster", "n_chars")
    val out = Dedup.canonicalPerCluster(asg, "cluster", "doc_id", "n_chars")
      .as[(String, Long, String, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out("doc_a")._3 == "doc_a" && out("doc_a")._4)
    assert(out("doc_b")._3 == "doc_a" && !out("doc_b")._4)
    assert(out("doc_c")._3 == "doc_a" && !out("doc_c")._4)
    assert(out("doc_z")._3 == "doc_z" && out("doc_z")._4)
  }

  test("crossSourceNgramOverlap: shared passage counted once, disjoint pair absent") {
    val passage = "one two three four five six seven eight nine"
    val docs = Seq(
      (1L, "A", s"$passage alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "A", passage), // same passage twice in A — distinct grams count once
      (3L, "B", s"intro words here then $passage"),
      (4L, "C", "totally different words that never overlap with anything else at all"))
      .toDF("doc_id", "source", "text")
    val out = Dedup.crossSourceNgramOverlap(docs, "source", "text", n = 8)
      .as[(String, String, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // the 9-word passage has two 8-grams; both appear in A and B
    assert(out.keySet == Set(("A", "B"))) // C overlaps nothing
    val ab = out(("A", "B"))
    assert(ab._3 == 2L)
    // containment = shared / per-source distinct totals
    assert(ab._6 == BigDecimal(2.0 / ab._4).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(ab._7 == BigDecimal(2.0 / ab._5).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("weightedSamplePerGroup: per-stratum quotas, global-sample consistency") {
    val df = ((1L to 200L).map(i => (i, "a", 1L)) ++
      (201L to 250L).map(i => (i, "b", 10L))).toDF("id", "g", "w")
    val out = Dedup.weightedSamplePerGroup(df, "id", "w",
        groupCols = Seq("g"), nPerGroup = 15, seed = 7L)
      .select("g", "id").as[(String, Long)].collect().toSeq
    assert(out.count(_._1 == "a") == 15 && out.count(_._1 == "b") == 15)
    // within one stratum the quota IS weightedSample of that stratum
    val aOnly = Dedup.weightedSample(df.filter(col("g") === "a"), "id", "w",
        n = 15, seed = 7L)
      .select("id").as[Long].collect().toSet
    assert(out.filter(_._1 == "a").map(_._2).toSet == aOnly)
    // quota larger than a stratum returns the whole stratum
    val all = Dedup.weightedSamplePerGroup(df, "id", "w",
      groupCols = Seq("g"), nPerGroup = 100, seed = 7L)
    assert(all.filter(col("g") === "b").count() == 50)
  }

  test("ngram jaccard: identity 1.0, near-dup high, blocked pairs only") {
    val blocked = docs.withColumn("blk", lit(1))
    val out = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", Seq(col("blk")))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 3L)) > 0.8)
    assert(out((1L, 4L)) < 0.05)
  }

  test("decontaminateNgrams: overlap with the test subset is flagged, short docs pass") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta trailing words here"), // test
      (2L, "prefix alpha beta gamma delta epsilon zeta eta theta suffix"), // shares 8-gram
      (3L, "totally different words with no shared window at all ok then"), // clean
      (4L, "too short to shingle")) // < 8 tokens → no n-grams
      .toDF("doc_id", "text")
    val out = Dedup.decontaminateNgrams(docs, "doc_id", "text",
        isTest = col("doc_id") === 1L, n = 8)
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, n, c) => id -> ((n, c)) }.toMap
    assert(out(1L)._2) // test doc trivially overlaps itself
    assert(out(2L) == ((1L, true))) // one shared 8-gram window
    assert(out(3L) == ((0L, false)))
    assert(out(4L) == ((0L, false)))
  }

  test("domainCap: per-domain cap respected, deterministic, rank dense") {
    val rows = (1L to 30L).map(i => (i, if (i <= 20) "big" else "small"))
    val df = rows.toDF("doc_id", "source")
    val out = Dedup.domainCap(df, "doc_id", "source", maxPerDomain = 7)
      .as[(Long, String, Int)].collect()
    val byDom = out.groupBy(_._2)
    assert(byDom("big").length == 7) // capped
    assert(byDom("small").length == 7) // 10 docs → capped too
    assert(out.forall(r => r._3 >= 1 && r._3 <= 7))
    assert(byDom.values.forall(_.map(_._3).sorted.toSeq == (1 to 7))) // dense ranks
    val again = Dedup.domainCap(df, "doc_id", "source", maxPerDomain = 7)
      .as[(Long, String, Int)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq) // hash order, no RNG
  }

  test("budgetSelect: bucketed prefix sum ≡ global running sum, budget maximal") {
    // scores engineered to straddle bucket boundaries and include ties
    val rows = (1L to 200L).map { i =>
      val score = math.rint((i % 17).toDouble / 16 * 1e6) / 1e6 // ties galore
      (i, score, 10L + i % 7)
    }
    val df = rows.toDF("doc_id", "score", "cost")
    val budget = 1500L
    val out = Dedup.budgetSelect(df, "doc_id", "score", "cost", budget)
      .as[(Long, Double, Long, Long)].collect().sortBy(_._4)
    // oracle: single global running sum over (score desc, doc_id asc)
    val global = rows.sortBy { case (id, s, _) => (-s, id) }
    val cums = global.scanLeft(0L) { case (acc, (_, _, c)) => acc + c }.tail
    val expect = global.zip(cums).takeWhile(_._2 <= budget)
      .map { case ((id, s, c), cum) => (id, s, c, cum) }
    assert(out.toSeq == expect)
    // maximality: the next row in global order would blow the budget
    assert(cums(expect.length) > budget)
  }

  test("fuzzyDedup: clusters transitively, keeps min id, leaves singletons") {
    // chain A≈B≈C (A-C may fall below threshold — transitivity must close
    // the cluster), one exact dup pair, one unrelated singleton
    val a = base
    val b = base.replace("small dimension", "compact dimension")
    val c = b.replace("columnar parquet", "vectorized parquet")
    val corpus = Seq(
      (10L, a), (11L, b), (12L, c), (20L, unrelated), (21L, unrelated),
      (30L, "short text only")).toDF("doc_id", "text")
    // 8 bands × 2 rows: ~99% candidate recall at J≈0.77 (4×4 banding
    // would miss ~18% of true pairs — banding is a recall/cost dial)
    val out = Dedup.fuzzyDedup(spark, corpus, "doc_id", "text", bands = 8)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    val cluster = out.map(r => r._1 -> r._2).toMap
    val keep = out.map(r => r._1 -> r._3).toMap
    assert(cluster(10L) == 10L && cluster(11L) == 10L && cluster(12L) == 10L)
    assert(cluster(20L) == 20L && cluster(21L) == 20L) // exact dups cluster
    assert(cluster(30L) == 30L) // singleton keeps itself
    assert(keep.filter(_._2).keySet == Set(10L, 20L, 30L)) // one canonical each
  }

  test("fuzzyDedup: the large-graph ccStarEdges path (graphxMaxEdges=0) " +
      "is bit-equal to the default driver-local path") {
    val a = base
    val b = base.replace("small dimension", "compact dimension")
    val c = b.replace("columnar parquet", "vectorized parquet")
    val corpus = Seq(
      (10L, a), (11L, b), (12L, c), (20L, unrelated), (21L, unrelated),
      (30L, "short text only")).toDF("doc_id", "text")
    val local = Dedup.fuzzyDedup(spark, corpus, "doc_id", "text", bands = 8)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val catalyst = Dedup.fuzzyDedup(spark, corpus, "doc_id", "text",
        bands = 8, graphxMaxEdges = 0L)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(catalyst == local)
    assert(local.nonEmpty)
  }

  test("BandIndex facade: build/checkBatch/append/open replays the kernel " +
      "paths; open recovers the stored parameters") {
    import graft.dedup.{BandIndex, BandIndexConfig}
    val a = base
    val b = base.replace("small dimension", "compact dimension")
    val day0 = Seq((1L, a), (2L, unrelated)).toDF("doc_id", "text")
    val day1 = Seq((10L, b), (11L, "novel content about stream state")).toDF("doc_id", "text")
    val day2 = Seq((20L, b), (21L, unrelated)).toDF("doc_id", "text")
    val cfg = BandIndexConfig("doc_id", "text", bands = 8, numHashes = 16)
    val tbl = "graft_band_facade_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_meta")
    val idx = BandIndex.build(spark, tbl, day0, cfg)
    // day-1 check == the no-index kernel on the same frames
    val viaIdx = idx.checkBatch(day1, day0)
      .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
    val viaKernel = Dedup.incrementalNearDup(day1, day0, "doc_id", "text",
        numHashes = 16, bands = 8)
      .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
    assert(viaIdx == viaKernel)
    assert(viaIdx.map(r => r._1 -> ((r._2, r._3))).toMap
      .apply(10L) == ((true, Some(1L))))
    // fold day-1 in; a freshly OPENED index (parameters from _meta, not
    // the caller) must see day-1 docs through the appended bands
    idx.append(day1)
    val opened = BandIndex.open(spark, tbl)
    assert(opened.cfg == cfg)
    val d2 = opened.checkBatch(day2, day0.unionByName(day1))
      .as[(Long, Boolean, Option[Long])].collect().map(r => r._1 -> r).toMap
    assert(d2(20L) == ((20L, true, Some(1L))))  // near-dups day-0 doc 1
    assert(d2(21L) == ((21L, true, Some(2L))))  // exact-dups day-0 doc 2
    // checkOnce == the inline kernel
    val once = BandIndex.checkOnce(day2, day0.unionByName(day1), cfg)
      .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
    assert(once == d2.values.toSeq.sortBy(_._1))
  }

  test("BandIndex.compact: appended index shrinks to one file per bucket " +
      "and the next batch's check is unchanged") {
    import graft.dedup.{BandIndex, BandIndexConfig}
    import graft.sinks.ManagedTables.dataFileCount
    val a = base
    val b = base.replace("small dimension", "compact dimension")
    val day0 = Seq((1L, a), (2L, unrelated)).toDF("doc_id", "text")
    val day1 = Seq((10L, b), (11L, "novel content about stream state")).toDF("doc_id", "text")
    val day2 = Seq((20L, b), (21L, unrelated)).toDF("doc_id", "text")
    val cfg = BandIndexConfig("doc_id", "text", bands = 8, numHashes = 16,
      buckets = 4)
    val tbl = "graft_band_compact_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_meta")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}__compacting")
    val idx = BandIndex.build(spark, tbl, day0, cfg)
    idx.append(day1)
    val pre = dataFileCount(spark, tbl)
    val before = idx.checkBatch(day2, day0.unionByName(day1))
      .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
    idx.compact()
    assert(dataFileCount(spark, tbl) == 4L)
    assert(dataFileCount(spark, tbl) < pre,
      s"compaction must shrink the file count (was $pre)")
    // the grown-and-compacted index answers the next batch identically,
    // from the compacting session AND from a fresh open
    val after = idx.checkBatch(day2, day0.unionByName(day1))
      .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
    assert(after == before)
    val reopened = BandIndex.open(spark, tbl)
      .checkBatch(day2, day0.unionByName(day1))
      .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
    assert(reopened == before)
    // still appendable after the rewrite
    idx.append(day2)
    assert(spark.table(tbl).select("old_id").distinct().count() == 6L)
  }

  test("BandIndex.build: rebuild succeeds over stale warehouse directories " +
      "the catalog does not know (fresh-session rebuild)") {
    // the round-13 regression: a fresh session's catalog doesn't know a
    // previous session's managed tables, so DROP IF EXISTS no-ops while
    // the stale directory makes saveAsTable(overwrite) refuse with
    // LOCATION_ALREADY_EXISTS. Simulated here by planting orphan
    // directories (no catalog entry) at both table locations.
    import graft.dedup.{BandIndex, BandIndexConfig}
    val tbl = "graft_band_stale_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_meta")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    for (t <- Seq(tbl, s"${tbl}_meta")) {
      val d = new java.io.File(new java.net.URI(wh).getPath, t)
      assert(d.mkdirs() || d.isDirectory)
      java.nio.file.Files.writeString(d.toPath.resolve("junk"), "stale")
    }
    val docs = Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text")
    val idx = BandIndex.build(spark, tbl, docs, BandIndexConfig("doc_id", "text"))
    assert(idx.bands.count() == 8) // 2 docs x 4 bands
    assert(BandIndex.open(spark, tbl).cfg == idx.cfg)
  }

  test("BandIndex.open: empty meta table fails with a named error") {
    val tbl = "graft_band_emptymeta_spec"
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_meta")
    spark.range(0).selectExpr("'x' AS id_col").write
      .mode("overwrite").saveAsTable(s"${tbl}_meta")
    val e = intercept[IllegalStateException] {
      graft.dedup.BandIndex.open(spark, tbl)
    }
    assert(e.getMessage.contains("interrupted"))
  }

  test("incrementalNearDup: batch flagged against corpus only, smallest dup id, clean docs pass") {
    val a = base
    val b = base.replace("small dimension", "compact dimension")
    val corpus = Seq((1L, a), (2L, unrelated)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, b),                       // near-dups corpus doc 1
      (11L, unrelated),               // exact-dups corpus doc 2
      (12L, "totally novel content about streaming watermarks and state"),
      (13L, b))                       // also near-dups doc 1 — but NOT 10
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(batch, corpus, "doc_id", "text", bands = 8)
      .as[(Long, Boolean, Option[Long])].collect().map(r => r._1 -> r).toMap
    assert(out(10L) == ((10L, true, Some(1L))))
    assert(out(11L) == ((11L, true, Some(2L))))
    assert(out(12L) == ((12L, false, None)))
    // 13 matches the CORPUS doc, not its batch-mate 10 (asymmetry)
    assert(out(13L) == ((13L, true, Some(1L))))
  }

  test("leakageSafeSplit: near-dup cluster members always share a split") {
    val a = base
    val b = base.replace("small dimension", "compact dimension")
    val c = b.replace("columnar parquet", "vectorized parquet")
    val corpus = Seq(
      (10L, a), (11L, b), (12L, c), (20L, unrelated), (21L, unrelated),
      (30L, "short text only")).toDF("doc_id", "text")
    val out = Dedup.leakageSafeSplit(spark, corpus, "doc_id", "text", bands = 8)
      .as[(Long, Long, String)].collect()
    val bySplit = out.map(r => r._1 -> r._3).toMap
    // whole near-dup chain rides one split; exact-dup pair likewise —
    // no pair of near-identical docs can straddle train/test
    assert(Seq(10L, 11L, 12L).map(bySplit).distinct.size == 1)
    assert(bySplit(20L) == bySplit(21L))
    // split label equals the doc-keyed hashSplit3 of the CLUSTER id
    val expected = Seq((10L, 10L), (20L, 20L), (30L, 30L)).toDF("doc_id", "k")
      .select(col("doc_id"), Dedup.hashSplit3(col("k")).as("s"))
      .as[(Long, String)].collect().toMap
    assert(bySplit(12L) == expected(10L) && bySplit(30L) == expected(30L))
    // deterministic across runs
    val again = Dedup.leakageSafeSplit(spark, corpus, "doc_id", "text", bands = 8)
      .as[(Long, Long, String)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }
}
