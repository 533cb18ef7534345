package graft.queries

import graft.{Q, Tables}
import graft.functions.{TextFunctions => T}
import graft.text.{Chunker, Sections}
import org.apache.spark.sql.functions._

/** End-to-end RAG pipeline composition + the remaining sink/source ops:
  * idempotent upsert (V3), fulltext-filter substitute (K5), HLL sketch
  * (A6 scale variant), and the full documents→chunks→vector-ids pipeline
  * (the reference's artists_articles → wikipedia_articles → vector_db DAG,
  * README.md:280-295 via /root/reference, as ONE composed lazy plan).
  */
object RagQueries {

  private def tmpPath(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$name"

  val all: Seq[Q] = Seq(

    // V3+J6+K6: idempotent upsert — seed a "collection" with half the
    // corpus, upsert the full corpus via anti-join; every doc must land
    // exactly once (the content-hash-id upsert of ingest_vector_db.py:
    // 181-204 / ingest_community_summaries.py:136-159).
    Q("q54_upsert_dedup",
      """SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT doc_id) AS n_ids
        |FROM documents GROUP BY source""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "source")
      val path = tmpPath(s"upsert_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
      docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(path)
      val existing = s.read.parquet(path)
      val newDocs = docs.join(existing.select("doc_id"), Seq("doc_id"), "left_anti")
      existing.unionByName(newDocs)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), countDistinct("doc_id").as("n_ids"))
    },

    // K5 substitute: fulltext AND-match as pushed-down rlike filters (no
    // secondary indexes in Spark — the scan-time predicate is the analog;
    // word-boundary regex runs identically on RE2).
    Q("q55_fulltext_filter",
      """SELECT doc_id, n_chars FROM documents
        |WHERE regexp_matches(text, '\bspark\b') AND regexp_matches(text, '\bjoin\b')""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .filter(col("text").rlike("\\bspark\\b") && col("text").rlike("\\bjoin\\b"))
        .select("doc_id", "n_chars")
    },

    // A6 scale variant: HLL sketch validated against the exact count in
    // the same plan. The sketch value itself is engine-specific, so the
    // oracle-checked surface is (exact, within_tol): DuckDB asserts the
    // exact count and TRUE; Spark's side is TRUE iff its HLL++ estimate
    // (rsd 2%) lands within the 5% tolerance — deterministic for a fixed
    // dataset. The raw ≤2% error bound is additionally asserted in RagSpec.
    Q("q56_approx_distinct",
      """SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact,
        |       TRUE AS within_tol FROM orders""".stripMargin) { (s, dir) =>
      Tables(s, dir, "orders").agg(
        countDistinct("o_custkey").as("exact"),
        approx_count_distinct(col("o_custkey"), rsd = 0.02).as("approx"))
        .select(col("exact"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.05).as("within_tol"))
    },

    // A6 scale variant #2: K-minimum-values distinct sketch (bottom-k,
    // Bar-Yossef et al. 2002) as a custom typed Aggregator — unlike
    // q56's opaque HLL++ buffer, KMV state is "the k smallest md5
    // hashes": deterministic, bounded (≤k doubles per partial state,
    // group cardinality notwithstanding), mergeable by union+truncate,
    // and therefore EXACTLY replayable in SQL — estimate included.
    Q("q157_kmv_distinct",
      """WITH h AS (
        |  SELECT DISTINCT o_orderpriority,
        |    CAST(list_reduce(list_transform(generate_series(1, 12),
        |      i -> CAST(strpos('0123456789abcdef',
        |             substr(md5(CAST(o_custkey AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) + 1 AS DOUBLE) / 281474976710656.0 AS hv
        |  FROM orders),
        |r AS (SELECT o_orderpriority, hv,
        |        row_number() OVER (PARTITION BY o_orderpriority ORDER BY hv) AS rn,
        |        COUNT(*) OVER (PARTITION BY o_orderpriority) AS nh
        |      FROM h),
        |est AS (SELECT o_orderpriority,
        |          CASE WHEN MAX(nh) < 256 THEN CAST(MAX(nh) AS DOUBLE)
        |               ELSE 255.0 / MAX(CASE WHEN rn = 256 THEN hv END) END AS e
        |        FROM r GROUP BY o_orderpriority),
        |ex AS (SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact
        |       FROM orders GROUP BY 1)
        |SELECT est.o_orderpriority, ROUND(est.e, 6) AS est_distinct, ex.exact,
        |       ABS(est.e - ex.exact) <= 0.1 * ex.exact AS within_tol
        |FROM est JOIN ex USING (o_orderpriority)""".stripMargin) { (s, dir) =>
      import graft.functions.KmvSketch
      val o = Tables(s, dir, "orders")
      val est = o.groupBy("o_orderpriority")
        .agg(KmvSketch.kmvDistinct(col("o_custkey"), k = 256).as("e"))
      val exact = o.groupBy("o_orderpriority")
        .agg(countDistinct("o_custkey").as("exact"))
      est.join(exact, "o_orderpriority")
        .select(col("o_orderpriority"), round(col("e"), 6).as("est_distinct"),
          col("exact"),
          (abs(col("e") - col("exact")) <= col("exact") * 0.1).as("within_tol"))
    },

    // KMV set ALGEBRA (Beyer et al. 2007, "On synopses for distinct-
    // value estimation under multiset operations"): pairwise union /
    // Jaccard / intersection-size estimates between the 5 priority
    // classes' customer sets from their q157 sketches ALONE — union =
    // bottom-k of the deduped concatenation, J ≈ |M∩A∩B|/|M|, D∩ =
    // J·D∪. The pair stage touches 5 k-double arrays, never the
    // corpus: N corpora compare pairwise without pairwise scans.
    Q("q158_kmv_set_algebra",
      """WITH h AS (
        |  SELECT DISTINCT o_orderpriority AS p,
        |    CAST(list_reduce(list_transform(generate_series(1, 12),
        |      i -> CAST(strpos('0123456789abcdef',
        |             substr(md5(CAST(o_custkey AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) + 1 AS DOUBLE) / 281474976710656.0 AS hv
        |  FROM orders),
        |r AS (SELECT p, hv, row_number() OVER (PARTITION BY p ORDER BY hv) AS rn FROM h),
        |sk AS (SELECT p, array_agg(hv ORDER BY hv) AS hs FROM r WHERE rn <= 256 GROUP BY p),
        |pr AS (SELECT a.p AS pa, a.hs AS ha, b.p AS pb, b.hs AS hb
        |       FROM sk a JOIN sk b ON a.p < b.p),
        |mm AS (SELECT pa, pb, ha, hb,
        |         list_sort(list_distinct(ha || hb))[1:256] AS m FROM pr),
        |c AS (SELECT pa, pb, CAST(len(m) AS BIGINT) AS m_size,
        |        CAST(len(list_filter(m,
        |          x -> list_contains(ha, x) AND list_contains(hb, x))) AS BIGINT) AS k_both,
        |        CASE WHEN len(m) < 256 THEN CAST(len(m) AS DOUBLE)
        |             ELSE 255.0 / m[256] END AS eu
        |      FROM mm)
        |SELECT pa, pb, m_size, k_both,
        |  ROUND(eu, 6) AS est_union,
        |  ROUND(CAST(k_both AS DOUBLE) / CAST(m_size AS DOUBLE), 6) AS est_jaccard,
        |  ROUND(CAST(k_both AS DOUBLE) / CAST(m_size AS DOUBLE) * eu, 6) AS est_intersect
        |FROM c""".stripMargin) { (s, dir) =>
      import graft.functions.KmvSketch
      val k = 256
      val g = Tables(s, dir, "orders").groupBy("o_orderpriority")
        .agg(KmvSketch.kmvArray(col("o_custkey"), k).as("hs"))
      val a = g.select(col("o_orderpriority").as("pa"), col("hs").as("ha"))
      val b = g.select(col("o_orderpriority").as("pb"), col("hs").as("hb"))
      a.join(b, col("pa") < col("pb"))
        .withColumn("m", slice(array_sort(array_union(col("ha"), col("hb"))), 1, k))
        .withColumn("m_size", size(col("m")).cast("long"))
        .withColumn("k_both",
          size(array_intersect(array_intersect(col("m"), col("ha")), col("hb")))
            .cast("long"))
        .withColumn("eu", KmvSketch.estimateFromArray(col("m"), k))
        .withColumn("ej", col("k_both").cast("double") / col("m_size").cast("double"))
        .select(col("pa"), col("pb"), col("m_size"), col("k_both"),
          round(col("eu"), 6).as("est_union"),
          round(col("ej"), 6).as("est_jaccard"),
          round(col("ej") * col("eu"), 6).as("est_intersect"))
    },

    // The composed RAG document pipeline in ONE lazy plan:
    // normalize (T1) → section parse (T2) → chunk (T3) → chunk ids (T5) →
    // context-header template (T4) → content-addressed vector ids (T6).
    // Catalyst fuses the scan+normalize+join projections around the two
    // flatMap generators; no intermediate materialization.
    // (Chunk ids are doc-scoped — unique here because this corpus yields
    // one section per doc; multi-section corpora would key by section.)
    Q("q57_rag_pipeline",
      """WITH c AS (
        |  SELECT doc_id, source, lang,
        |    trim(regexp_replace(regexp_replace(regexp_replace(text, '\\"', '"', 'g'),
        |         '[\n\r]+', ' ', 'g'), '\s+', ' ', 'g')) AS clean
        |  FROM documents),
        |s AS (SELECT * FROM c WHERE length(clean) >= 30),
        |d AS (SELECT *, GREATEST(1, CAST(CEIL((length(clean) - 50) / 150.0) AS BIGINT)) AS n_chunks
        |      FROM s),
        |idx AS (SELECT doc_id, source, lang, clean,
        |        unnest(generate_series(0, n_chunks - 1)) AS i FROM d),
        |ch AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_index,
        |    doc_id || '_chunk_' || (i + 1) AS chunk_id,
        |    'search_document: Topic: ' || source || '. Context: ' || lang ||
        |    ' | doc ' || CAST(doc_id AS VARCHAR) || ' (Section: Introduction) | ' ||
        |    substr(clean, CAST(i * 150 + 1 AS INT), 200) AS header
        |  FROM idx)
        |SELECT doc_id, chunk_index, chunk_id, header,
        |       substr(sha256(header || '-' || chunk_id), 1, 32) AS vec_id
        |FROM ch""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val clean = docs.select(
        col("doc_id"), col("source"), col("lang"),
        T.normalizeText(col("text")).as("text"))
      val sections = Sections.explode(clean.select("doc_id", "text")).toDF()
      val chunks = Chunker.explode(
        sections.select(col("doc_id"), col("content").as("text")), 200, 50).toDF()
      val meta = clean.select("doc_id", "source", "lang")
      chunks.join(meta, "doc_id")
        .select(
          col("doc_id"), col("chunk_index"), col("chunk_id"),
          concat(
            lit("search_document: Topic: "), col("source"),
            lit(". Context: "), col("lang"),
            lit(" | doc "), col("doc_id").cast("string"),
            lit(" (Section: Introduction) | "), col("chunk")).as("header"))
        .withColumn("vec_id", T.contentDocId(col("header"), col("chunk_id")))
    },
  )
}
