package graft

import org.apache.spark.graphx.{Edge, EdgeTriplet, Graph, Pregel, VertexId}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** GraphX reference forms the graph specs check the engine against: an
  * independent RDD implementation (Pregel), so an agreement spec does
  * not compare the engine with itself. Results are collected to the
  * driver and every graph is unpersisted before returning. */
object GraphXReference {

  /** A GraphX graph over an edge frame with two long columns. */
  def fromEdges(edges: DataFrame, srcCol: String, dstCol: String): Graph[Long, Int] =
    Graph.fromEdges(
      edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
        .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1)),
      defaultValue = 0L)

  /** GraphX connected components: each vertex's min-vertex-id label. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String): Map[Long, Long] = {
    val g = fromEdges(edges, srcCol, dstCol)
    val cc = g.connectedComponents()
    try cc.vertices.collect().toMap finally release(cc, g)
  }

  /** Deterministic synchronous label propagation as a Pregel program:
    * every superstep each vertex adopts its most frequent neighbour
    * label, ties broken by the smallest label. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int): Map[Long, Long] = {
    val g = fromEdges(edges, srcCol, dstCol)
    def sendMsg(e: EdgeTriplet[VertexId, Int]): Iterator[(VertexId, Map[VertexId, Long])] =
      Iterator((e.srcId, Map(e.dstAttr -> 1L)), (e.dstId, Map(e.srcAttr -> 1L)))
    def mergeMsg(a: Map[VertexId, Long], b: Map[VertexId, Long]): Map[VertexId, Long] =
      (a.keySet ++ b.keySet).iterator
        .map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    def vprog(vid: VertexId, attr: VertexId, msg: Map[VertexId, Long]): VertexId =
      if (msg.isEmpty) attr
      else msg.toSeq.minBy { case (label, cnt) => (-cnt, label) }._1
    val lpa = Pregel(g.mapVertices { case (vid, _) => vid },
        initialMsg = Map.empty[VertexId, Long], maxIterations = maxIter)(
      vprog, sendMsg, mergeMsg)
    try lpa.vertices.collect().toMap finally release(lpa, g)
  }

  private def release(graphs: Graph[_, _]*): Unit = graphs.foreach { (g: Graph[_, _]) =>
    g.unpersistVertices(blocking = false)
    val e = g.edges
    e.unpersist(blocking = false)
  }
}
