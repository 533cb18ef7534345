package graft

import java.util.concurrent.CopyOnWriteArrayList

import org.apache.spark.sql.SparkSession

/** Spans: named, nested regions of driver code whose Spark jobs a
  * [[obs.Recorder]] rolls up.
  *
  * `span(name) { … }` sets the Spark local property [[obs.SpanKey]] to
  * the span's path — the enclosing span's path, a `/`, then `name` — and
  * restores the enclosing value on exit, also when the body throws. Every
  * job submitted inside carries the path: Spark's broadcast and AQE
  * stage threads copy the submitting thread's local properties, and
  * threads created inside the span (`Concurrent.mapInParallel`'s pool)
  * inherit them. Names are `<module>.<function>` of the engine seam that
  * runs jobs eagerly; a profiled query's root span is `queries.<name>`.
  *
  * A span keeps no record of its own. Its wall interval goes only to
  * recorders attached with [[obs.Recorder.attach]], so with none attached
  * a span costs one local-property read and two writes, and a long
  * session does not grow.
  */
package object obs {
  /** The local property a span sets; distinct from the benchmark's own
    * `graft.perfbench.span`, which a span leaves untouched. */
  val SpanKey = "graft.obs.span"

  private[graft] val recorders = new CopyOnWriteArrayList[Recorder]()

  def span[A](name: String)(body: => A): A =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case None => body
      case Some(s) =>
        val sc = s.sparkContext
        val outer = sc.getLocalProperty(SpanKey)
        val path = if (outer == null) name else s"$outer/$name"
        sc.setLocalProperty(SpanKey, path)
        val t0 = System.currentTimeMillis()
        try body
        finally {
          sc.setLocalProperty(SpanKey, outer)
          if (!recorders.isEmpty) {
            val t1 = System.currentTimeMillis()
            recorders.forEach(_.spanEnded(path, t0, t1))
          }
        }
    }
}
