package graft.runtime

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.graph.{ConnectedComponents, GraphBuild, KeyedEdge}
import graft.text.TextOps

/** A loop that checkpoints its state every round keeps O(1) generations
  * resident: the RDDs a call leaves persisted do not grow with its
  * number of rounds. Each case runs one loop at few and at many rounds
  * and compares how many RDDs the call left in `sc.getPersistentRDDs`.
  */
class LoopGenerationsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** The value of `f` and the number of RDDs it left persisted. The
    * context cleaner unpersists an RDD once it is garbage, whenever a GC
    * runs, so a poller holds every RDD persisted meanwhile: only the
    * call's own releases can lower the count. */
  private def leftPersisted[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    @volatile var polling = true
    val poller = new Thread(() =>
      while (polling) { sc.getPersistentRDDs.values.foreach(held.add); Thread.sleep(1) })
    poller.start()
    val v = try f finally { polling = false; poller.join() }
    val left = (sc.getPersistentRDDs.keySet -- before).size
    held.clear()
    (v, left)
  }

  test("TextOps.bpeTrain: 2 vs 6 merge rounds") {
    val docs = Seq("abcdefgh abcdefgh abcdefgh", "abcdefgh xyz")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def train(rounds: Int) = TextOps.bpeTrain(docs, "text", rounds).count()
    val (few, fewLeft) = leftPersisted(train(2))
    val (many, manyLeft) = leftPersisted(train(6))
    assert((few, many) == ((2L, 6L)))
    assert(manyLeft == fewLeft, s"2 rounds left $fewLeft RDDs, 6 rounds $manyLeft")
  }

  test("ConnectedComponents.run: a long path (many star rounds) vs a star") {
    def run(edges: Seq[(Long, Long)]) =
      ConnectedComponents.run(edges.toDF("src", "dst"), localMaxEdges = 0L)
    val (star, starLeft) = leftPersisted(run((1L to 63L).map(i => (0L, i))))
    val (path, pathLeft) = leftPersisted(run((0L until 63L).map(i => (i, i + 1L))))
    assert(path.rounds > star.rounds + 2, s"path ${path.rounds}, star ${star.rounds} rounds")
    assert(path.labels.select("comp").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(pathLeft == starLeft,
      s"${star.rounds} rounds left $starLeft RDDs, ${path.rounds} rounds $pathLeft")
  }

  test("GraphBuild.canonicalUndirectedKeyed: back-off at 1 vs 2 rounds") {
    def canon(es: KeyedEdge*) =
      GraphBuild.canonicalUndirectedKeyed(es.toDS()).collect()
        .map(e => (e.src, e.dst)).toSet
    // two ways on one key: the loser splits once and nothing collides
    val (one, oneLeft) = leftPersisted(canon(
      KeyedEdge(0L, 1L, 9L, Seq(5L), 1L), KeyedEdge(0L, 1L, 9L, Seq(6L), 2L)))
    assert(one == Set((1L, 9L), (1L, 6L), (6L, 9L)))
    // both losers split at node 6 into colliding halves: round 2 resolves
    // them, splitting the (1, 6) loser at node 4
    val (two, twoLeft) = leftPersisted(canon(
      KeyedEdge(0L, 1L, 9L, Seq(5L), 1L), KeyedEdge(0L, 1L, 9L, Seq(3L, 6L), 2L),
      KeyedEdge(0L, 1L, 9L, Seq(4L, 6L), 3L)))
    assert(two == Set((1L, 9L), (1L, 6L), (6L, 9L), (1L, 4L), (4L, 6L)))
    assert(twoLeft == oneLeft, s"1 round left $oneLeft RDDs, 2 rounds $twoLeft")
  }
}
