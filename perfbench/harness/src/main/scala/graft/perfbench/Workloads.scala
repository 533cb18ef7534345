package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.graph.GraphOps
import graft.operators.{Relational => R}

/** Span helper for a traced pass. A span tags every job started inside it
  * (on this thread or on threads created inside it) with its name, and
  * records its wall interval. [[materialize]] makes a span's output
  * resident inside the span, so the work is charged to the layer that
  * produced it; the caller releases it once the next consumer has run.
  */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer[Recorder.SpanRec]()

  def apply[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Recorder.SpanKey, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += Recorder.SpanRec(name, t0, System.currentTimeMillis())
      sc.setLocalProperty(Recorder.SpanKey, null)
    }
  }

  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  def release(dfs: DataFrame*): Unit = dfs.foreach(_.unpersist(blocking = true))
}

/** One benchmark workload: a registered engine query (the untraced pass
  * runs it exactly as a user would, through `SparkEntry.queries`) and the
  * same pipeline recomposed from the engine's public layer functions with
  * a span around each call (the traced pass). Both must return the same
  * rows. */
sealed trait Workload {
  def query: String
  def tables: Seq[String]
  /** Untimed passes before the timed ones, the cold first pass included. */
  def warmups: Int
  /** The fewest timed passes (rounds, when traced) a run makes. */
  def minPasses: Int
  def traced(s: SparkSession, dir: String, span: Tracer): (Array[Row], DataFrame)
}

object Workload {
  val all: Map[String, Workload] = Map("graphrag" -> GraphRag, "curation" -> Curation)
}

/** q150_graphrag_capstone: co-purchase graph, the Leiden ladder over
  * gamma in {200, 50, 10} %, per-community metadata, idempotent upsert. */
object GraphRag extends Workload {
  val query = "q150_graphrag_capstone"
  val tables = Seq("lineitem", "part")
  // a pass is ~10 s warm and still getting faster (JIT). The second pass
  // is untimed too: on a slow host it lags furthest behind. Timing it
  // gave pipeline_s a ten-seed spread of 0.26, against 0.07 without.
  // More passes do not fit the run-time budget.
  val warmups = 2
  val minPasses = 2

  def traced(s: SparkSession, dir: String, span: Tracer): (Array[Row], DataFrame) = {
    val q = s"queries.$query"
    val (e, edgeRows) = span("tables.edges") {
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val e = li.as("a").join(li.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").cast("long").as("src"), col("b.p").cast("long").as("dst"))
        .distinct()
        .localCheckpoint(eager = false)
      (e, e.count())
    }
    val parts = Some(GraphOps.sizedLoopParts(s, BigInt(edgeRows) * 2))
    val ladder = span("graph.lpaLeidenRefineMulti") {
      span.materialize(GraphOps.lpaLeidenRefineMulti(e, "src", "dst",
        lpaIters = 2, rounds = 1, gammaPcts = Seq(200L, 50L, 10L),
        numPartitions = parts))
    }
    val base = span(q) {
      val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val part = Tables(s, dir, "part").select(
        col("p_partkey").cast("long").as("id"), col("p_brand"), col("p_type"))
      span.materialize(ladder.join(part, "id").join(deg, Seq("id"), "left")
        .select(col("gamma_pct"), col("label"), col("id"),
          col("p_brand"), col("p_type"),
          coalesce(col("deg"), lit(0L)).as("deg")))
    }
    span.release(ladder)
    val grp = Seq("gamma_pct", "label")
    val brandTop = span("operators.topNFrequent")(span.materialize(
      R.topNFrequent(base.select("gamma_pct", "label", "p_brand"), grp, "p_brand", n = 2)))
    val contTop = span("operators.topNFrequent")(span.materialize(
      R.topNFrequent(base.select("gamma_pct", "label", "p_type"), grp, "p_type", n = 1)))
    val repsTop = span("operators.topKPerGroup")(span.materialize(
      R.topKPerGroup(base.select("gamma_pct", "label", "id", "deg"),
        grp, Seq(col("deg").desc, col("id").asc), k = 3)))
    val out = span(q) {
      val stats = base.groupBy(grp.map(col): _*)
        .agg(count(lit(1)).as("member_count"),
          countDistinct("p_brand").as("n_brands"))
      val brandAgg = brandTop
        .groupBy(grp.map(col): _*)
        .agg(transform(array_sort(collect_list(struct(col("rn"), col("p_brand")))),
          x => x.getField("p_brand")).as("brands"))
        .select(col("gamma_pct"), col("label"),
          array_join(col("brands"), ", ").as("top_brands"),
          element_at(col("brands"), 1).as("brand1"))
      val cont1 = contTop
        .select(col("gamma_pct"), col("label"), col("p_type").as("cont1"))
      val reps = repsTop
        .groupBy(grp.map(col): _*)
        .agg(array_join(
          transform(array_sort(collect_list(struct((-col("deg")).as("nd"), col("id")))),
            x => x.getField("id").cast("string")),
          ", ").as("rep_members"))
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
      val existing = meta.filter(pmod(col("label"), lit(2)) === 0)
      val fresh = meta.join(existing.select("gamma_pct", "label"), grp, "left_anti")
      val df = existing.withColumn("status", lit("existing"))
        .unionByName(fresh.withColumn("status", lit("inserted")))
      (df.collect(), df)
    }
    span.release(brandTop, contTop, repsTop, base)
    out
  }
}

/** q106_curation_pipeline: language + quality gate, exact dedup, 8-gram
  * decontamination against the doc_id % 10 = 0 held-out set, train split;
  * reported as per-stage survivor counts. */
object Curation extends Workload {
  val query = "q106_curation_pipeline"
  val tables = Seq("documents")
  // a pass is ~2 s warm, but each of the first ~5 is still faster than
  // the one before (JIT); timed passes start once that trend has flattened
  val warmups = 5
  val minPasses = 4

  def traced(s: SparkSession, dir: String, span: Tracer): (Array[Row], DataFrame) = {
    val (docs, s1) = span("text.qualityScore") {
      val docs = Tables(s, dir, "documents") // the read may run a job
      (docs, span.materialize(docs.filter(col("lang") === "en" &&
        round(TextFunctions.qualityScore(col("text")), 6) >= 0.52)))
    }
    val s2 = span("dedup.exactGroups")(span.materialize(s1.join(
      Dedup.exactGroups(s1, "doc_id", "text")
        .select(col("keep_id").as("doc_id")), "doc_id")))
    val s3 = span("dedup.decontaminateNgrams") {
      val dec = Dedup.decontaminateNgrams(s2, "doc_id", "text",
        isTest = pmod(col("doc_id"), lit(10)) === 0, n = 8)
      span.materialize(s2
        .join(dec.filter(!col("contaminated")).select("doc_id"), "doc_id")
        .filter(pmod(col("doc_id"), lit(10)) =!= 0))
    }
    val s4 = span("dedup.hashSplit3")(span.materialize(
      s3.filter(Dedup.hashSplit3(col("doc_id")) === "train")))
    val out = span(s"queries.$query") {
      val df = Seq("1_input" -> docs, "2_quality" -> s1, "3_exact_dedup" -> s2,
          "4_decontaminated" -> s3, "5_train" -> s4)
        .map { case (n, df) =>
          df.agg(count(lit(1)).as("n_docs")).select(lit(n).as("stage"), col("n_docs"))
        }
        .reduce(_ unionByName _)
      (df.collect(), df)
    }
    span.release(s1, s2, s3, s4)
    out
  }
}
