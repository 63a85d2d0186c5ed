package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.pipeline.LumpWays

/** Every grouped CC packs (group, nid) into one long through
  * [[DistContract.packedKey]]: a nid outside [0, 2^40) would spill into
  * the group bits and silently merge or drop components, so each caller
  * fails loudly instead — the lump pipeline and the D12 tag-group CC at
  * gate 0 here, the chain contractions in DistContractSpec.
  */
class PackedKeySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val badNids = Seq(1L << 40, -1L)

  private def failsLoudly(nid: Long)(run: => Any): Unit = {
    val ex = intercept[Exception](run)
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage))
    assert(msgs.exists(m => m.contains("packed (group, nid) key") && m.contains(nid.toString)),
      s"nid $nid: ${ex.getMessage}")
  }

  test("lump pipeline: a nid outside 40 bits fails loudly") {
    for (bad <- badNids) failsLoudly(bad) {
      val nodes = Seq((1L, 0.0, 0.0), (2L, 0.0, 0.001), (bad, 0.0, 0.002))
        .toDF("nid", "lat", "lon")
      val ways = Seq((1L, Seq(1L, 2L, bad), Map("waterway" -> "river")))
        .toDF("wid", "nids", "tags")
      LumpWays.features(ways, nodes,
        LumpWays.Config(shardThresholdEdges = 0L), spark).collect()
    }
  }

  test("tagGroupCC at gate 0: a nid outside 40 bits fails loudly") {
    for (bad <- badNids) failsLoudly(bad) {
      val e = Seq((1L, 2L, "a"), (2L, bad, "a")).toDF("src", "dst", "tag")
      val weak = ConnectedComponents.run(e.select("src", "dst")).labels
      DownOps.tagGroupCC(e, Some(weak), sizeThreshold = 0L).collect()
    }
  }
}
