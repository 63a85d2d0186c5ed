package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly-connected components (SURVEY.md §2.6 D1).
  *
  * Strategy per the survey: weak-CC first (a shuffle algorithm that
  * scales), then a *local* iterative Tarjan inside each weak component via
  * `flatMapGroups` — cycles in river networks are tiny relative to the
  * planet, so each weak component fits an executor; the distribution axis
  * is the number of components. Mirrors Kosaraju semantics of the
  * reference (/root/reference/src/kosaraju.rs:10-90) including the
  * singleton-component drop (kosaraju.rs:87).
  */
object Scc {

  /** Pure local Tarjan (iterative, no recursion — components can be deep).
    * Returns nid → scc root (min nid of the SCC), only for SCCs of
    * size > 1 (reference drops singletons).
    */
  def tarjanLocal(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val index = scala.collection.mutable.HashMap.empty[Long, Int]
    val lowlink = scala.collection.mutable.HashMap.empty[Long, Int]
    val onStack = scala.collection.mutable.HashSet.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    var counter = 0
    val out = scala.collection.mutable.HashMap.empty[Long, Long]

    for (start <- nodes if !index.contains(start)) {
      // explicit DFS stack of (node, iterator over neighbours)
      val work = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Iterator[Long])]
      index(start) = counter; lowlink(start) = counter; counter += 1
      stack += start; onStack += start
      work += ((start, adj.getOrElse(start, Nil).iterator))
      while (work.nonEmpty) {
        val (v, it) = work.last
        if (it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) {
            index(w) = counter; lowlink(w) = counter; counter += 1
            stack += w; onStack += w
            work += ((w, adj.getOrElse(w, Nil).iterator))
          } else if (onStack(w)) {
            lowlink(v) = math.min(lowlink(v), index(w))
          }
        } else {
          work.remove(work.length - 1)
          if (work.nonEmpty) {
            val (parent, _) = work.last
            lowlink(parent) = math.min(lowlink(parent), lowlink(v))
          }
          if (lowlink(v) == index(v)) {
            val comp = scala.collection.mutable.ArrayBuffer.empty[Long]
            var w = -1L
            while ({ w = stack.remove(stack.length - 1); onStack -= w
              comp += w; w != v }) ()
            if (comp.length > 1) {
              val root = comp.min
              comp.foreach(n => out(n) = root)
            }
          }
        }
      }
    }
    out.toMap
  }

  /** Distributed SCC: weak-CC shuffle pass, then local Tarjan per weak
    * component. Output: (nid, scc) for nodes in non-singleton SCCs;
    * scc = min nid of the cycle (deterministic).
    *
    * @param edges DataFrame(src: Long, dst: Long)
    */
  def run(edges: DataFrame, weakLabels: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // weakLabels: precomputed UNDIRECTED CC labels of this edge set (the
    // caller often has them memoized; min-nid labels are a pure function
    // of the component partition, so any edge set with the same
    // undirected components yields identical labels)
    val weak = weakLabels.getOrElse(ConnectedComponents.run(e).labels)
    e.join(weak.withColumnRenamed("nid", "src"), Seq("src"))
      .select(col("comp"), col("src"), col("dst"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, rows) =>
        val es = rows.map(r => (r._2, r._3)).toSeq
        tarjanLocal(es).iterator.map { case (nid, root) => (nid, root) }
      }
      .toDF("nid", "scc")
  }
}
