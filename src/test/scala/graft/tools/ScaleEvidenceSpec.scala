package graft.tools

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import ScaleEvidence._

/** Every harness entry at its small size: the invariants are identical
  * under two shuffle-partition counts (the same property the evidence
  * runs check across core counts), every digest has rows, and every
  * size gate's two sides agree at the entry's parity size.
  */
class ScaleEvidenceSpec extends AnyFunSuite with SparkTestBase {

  private def on[T](partitions: Int)(f: SparkSession => T): T = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    SparkSession.setActiveSession(s)
    try f(s) finally SparkSession.setActiveSession(spark)
  }

  for (e <- entries)
    test(s"${e.name}: invariants identical at 3 and 7 shuffle partitions" +
        e.parity.fold("")(p => s"; gate parity at ${p.size}")) {
      val a = on(3)(measure(e, _, e.small)._2)
      val b = on(7)(measure(e, _, e.small)._2)
      assert(a == b)
      val rows = a.collect { case (k, n: Long) if k.endsWith("rows") => n }
      assert(rows.forall(_ > 0), json(a))
      checkParity(e, spark)
    }

  test("entry names are unique; the JSON line renders every invariant kind") {
    assert(entries.map(_.name).distinct.size == entries.size)
    assert(json(Seq("metric" -> "m", "n" -> 3L, "xs" -> Seq(1L, 2L),
        "len" -> Approx(1.5))) ==
      """{"metric":"m","n":3,"xs":[1,2],"len":1.5}""")
    assert(Approx(1e9) == Approx(1e9 + 0.5) && Approx(1.0) != Approx(1.1))
  }
}
