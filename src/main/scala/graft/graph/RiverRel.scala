package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** D13 — river relationship classification
  * (/root/reference/src/bin/osm-lump-ways-down/tag_group.rs:550-943),
  * ported rule-for-rule including the orientation flip, the
  * `possible_res.pop()` last-match-wins, and both heuristic fallbacks.
  */
object RiverRel {

  sealed trait FlowType {
    def in_ : Boolean = this == In
    def out: Boolean = this == Out
    def inOrThrough: Boolean = this == In || this == Through
    def outOrThrough: Boolean = this == Out || this == Through
  }
  case object In extends FlowType
  case object Out extends FlowType
  case object Through extends FlowType
  case object No extends FlowType

  def flowType(hasIns: Boolean, hasOuts: Boolean): FlowType = (hasIns, hasOuts) match {
    case (true, true)   => Through
    case (true, false)  => In
    case (false, true)  => Out
    case (false, false) => No
  }

  final case class GroupInfo(
      id: Long,
      lengthM: Double,
      tagged: Boolean,          // tagid.is_some()
      sinksEmpty: Boolean,
      nConfluences: Int,        // |group.confluences|
      inConfluencesSubsetOfOther: Boolean) // rule-2 precondition vs the peer

  val ATributaryB = "AIsTributaryOfB"
  val ATerminalDistributaryB = "AIsTerminalDistributaryOfB"
  val ABranchingDistributaryB = "AIsBranchingDistributaryOfB"
  val ASideChannelB = "AIsSideChannelOfB"

  /** tag_group.rs:929-943. */
  private def isSideChannel(
      a: GroupInfo, b: GroupInfo, conf: Seq[(FlowType, FlowType)]): Boolean =
    conf.length >= 2 &&
      a.lengthM < b.lengthM &&
      conf.forall { case (fa, fb) =>
        (fa.out && fb.inOrThrough) || (fa.in_ && fb.outOrThrough)
      } &&
      conf.exists { case (fa, fb) => fa.out && fb.inOrThrough } &&
      conf.exists { case (fa, fb) => fa.in_ && fb.outOrThrough }

  /** tag_group.rs:816-927: classify the (a, b) pair given the flow types
    * at their shared confluences (a's type first in each pair).
    * Result string is oriented: (rel, A-id, B-id).
    */
  def classify(
      a0: GroupInfo, b0: GroupInfo,
      shared0: Seq[(FlowType, FlowType)]): Option[(String, Long, Long)] = {
    require(shared0.nonEmpty)
    val possible = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]

    var (a, b, conf) = (a0, b0, shared0)
    for (_ <- 0 to 1) {
      if (conf.forall(c => c == ((In, Out)))) possible += ((ATerminalDistributaryB, a.id, b.id))
      if (conf.forall(c => c == ((In, Through)))) possible += ((ATributaryB, a.id, b.id))
      if (conf.forall(c => c == ((Out, Through)))) possible += ((ABranchingDistributaryB, a.id, b.id))
      if (isSideChannel(a, b, conf)) possible += ((ASideChannelB, a.id, b.id))
      val t = a; a = b; b = t
      conf = conf.map(_.swap)
    }

    if (possible.isEmpty) {
      for (_ <- 0 to 1) {
        // tiny unnamed trib that only joins b (tag_group.rs:869-877)
        if (a.lengthM / b.lengthM <= 0.1 && !a.tagged && b.tagged &&
            a.nConfluences == conf.length &&
            conf.exists(_._1.in_))
          possible += ((ATributaryB, a.id, b.id))
        // named sink-less river flowing into b (tag_group.rs:879-890)
        if (a.tagged && b.tagged && a.lengthM < b.lengthM && a.sinksEmpty &&
            a.inConfluencesSubsetOfOther)
          possible += ((ATributaryB, a.id, b.id))
        val t = a; a = b; b = t
        conf = conf.map(_.swap)
      }
    }
    possible.lastOption // possible_res.pop() — last match wins
  }

  /** DataFrame driver: classify every adjacent tag-group pair.
    *
    * @param tagGrouped (src, dst, tag, tag_group_nid) from
    *                   [[DownOps.tagGroupCC]]
    * @param lens (src, dst, len)
    * @return (rel, group_a, group_b) — group ids are (tag, tag_group_nid)
    *         densified as min-nid keys (tag carried alongside)
    */
  /** Null-safe group key: tag#min_nid with a control-char sentinel for
    * untagged — distinct from an EMPTY-STRING tag value (legal in OSM;
    * the reference keys groups by Option<String>, None ≠ Some(""));
    * control chars cannot occur in OSM tag values.
    */
  def gkeyCol: org.apache.spark.sql.Column =
    concat(coalesce(col("tag"), lit("\u0001")), lit("#"), col("tag_group_nid"))

  /** Confluence membership per (gkey, nid) with in/out flags
    * (tag_group.rs:252-280): nid is a confluence OF group g iff g flows in
    * and ANOTHER group flows out there, or vice versa — two groups merely
    * co-terminating (both In) or co-starting (both Out) at a node do NOT
    * join there.
    * @param g (gkey, src, dst, …)
    */
  def confluencesOf(g: DataFrame): DataFrame = {
    val touch = g.select(col("gkey"), col("dst").as("nid"), lit(true).as("isIn"))
      .union(g.select(col("gkey"), col("src").as("nid"), lit(false).as("isIn")))
      .groupBy("gkey", "nid")
      .agg(max(when(col("isIn"), 1).otherwise(0)).as("hasIn"),
        max(when(!col("isIn"), 1).otherwise(0)).as("hasOut"))
    val nodeTot = touch.groupBy("nid").agg(
      sum(col("hasIn")).as("totIn"), sum(col("hasOut")).as("totOut"))
    touch.join(nodeTot, Seq("nid"))
      .filter(
        (col("hasIn") === 1 && (col("totOut") - col("hasOut")) >= 1) ||
          (col("hasOut") === 1 && (col("totIn") - col("hasIn")) >= 1))
      .select("gkey", "nid", "hasIn", "hasOut")
  }

  def classifyPairs(tagGrouped: DataFrame, lens: DataFrame): DataFrame = {
    val spark = tagGrouped.sparkSession
    import spark.implicits._

    val g = tagGrouped.select(
      gkeyCol.as("gkey"), col("src"), col("dst"), col("tag"))

    val confl = confluencesOf(g).localCheckpoint(true)

    // per-group confluence sets: all confluence nids + the strictly-In
    // ones (tag_group.rs:885-888 filters a.confluences by flow_type.in_())
    val gsets = confl.groupBy("gkey").agg(
      collect_set(col("nid")).as("confl_all"),
      collect_set(when(col("hasIn") === 1 && col("hasOut") === 0, col("nid")))
        .as("confl_in"))

    // group infos
    val glens = g.join(lens, Seq("src", "dst"))
      .groupBy("gkey").agg(sum("len").as("length_m"), first("tag").as("tag"))
    // sinks (tag_group.rs:258-260): group dsts with GLOBAL out-degree 0
    val sinks = g.select(col("gkey"), col("dst").as("nid")).distinct()
      .join(g.select(col("src").as("nid")).distinct(), Seq("nid"), "left_anti")
      .groupBy("gkey").agg(count(lit(1)).as("n_sinks"))
    val nConf = confl.groupBy("gkey").agg(count(lit(1)).as("n_confluences"))
    val infos = glens
      .join(sinks, Seq("gkey"), "left").na.fill(0L, Seq("n_sinks"))
      .join(nConf, Seq("gkey"), "left").na.fill(0L, Seq("n_confluences"))

    // shared confluences per pair (a < b lexicographically)
    val pairs = confl.as("x").join(confl.as("y"),
        col("x.nid") === col("y.nid") && col("x.gkey") < col("y.gkey"))
      .select(col("x.gkey").as("ga"), col("y.gkey").as("gb"), col("x.nid").as("nid"),
        col("x.hasIn").as("ain"), col("x.hasOut").as("aout"),
        col("y.hasIn").as("bin"), col("y.hasOut").as("bout"))
      .groupBy("ga", "gb")
      .agg(collect_list(struct(col("ain"), col("aout"), col("bin"), col("bout")))
        .as("fts"),
        count(lit(1)).as("n_shared"))

    def infoCols(side: String) = infos.select(
      col("gkey").as(s"g$side"),
      col("length_m").as(s"len_$side"),
      col("tag").isNotNull.as(s"tagged_$side"),
      (col("n_sinks") === 0L).as(s"sinksempty_$side"),
      col("n_confluences").cast("int").as(s"nconf_$side"))

    def setCols(side: String) = gsets.select(
      col("gkey").as(s"g$side"),
      col("confl_all").as(s"call_$side"),
      col("confl_in").as(s"cin_$side"))

    pairs
      .join(infoCols("a"), Seq("ga"))
      .join(infoCols("b"), Seq("gb"))
      .join(setCols("a"), Seq("ga"))
      .join(setCols("b"), Seq("gb"))
      .select(col("ga"), col("gb"), col("fts"),
        col("len_a"), col("tagged_a"), col("sinksempty_a"), col("nconf_a"),
        col("len_b"), col("tagged_b"), col("sinksempty_b"), col("nconf_b"),
        col("call_a"), col("cin_a"), col("call_b"), col("cin_b"))
      .as[(String, String, Seq[(Int, Int, Int, Int)],
        Double, Boolean, Boolean, Int, Double, Boolean, Boolean, Int,
        Seq[Long], Seq[Long], Seq[Long], Seq[Long])]
      .flatMap { case (ga, gb, fts, la, ta, sa, ca, lb, tb, sb, cb,
          allA, inA, allB, inB) =>
        val shared = fts.map { case (ai, ao, bi, bo) =>
          (flowType(ai == 1, ao == 1), flowType(bi == 1, bo == 1))
        }
        // exact rule-2 precondition (tag_group.rs:879-890): ALL of a's
        // strictly-In confluences are contained in b's confluence set
        val bAll = allB.toSet
        val aAll = allA.toSet
        val aInfo = GroupInfo(0L, la, ta, sa, ca,
          inConfluencesSubsetOfOther = inA.forall(bAll.contains))
        val bInfo = GroupInfo(1L, lb, tb, sb, cb,
          inConfluencesSubsetOfOther = inB.forall(aAll.contains))
        classify(aInfo, bInfo, shared).map { case (rel, aid, _) =>
          if (aid == 0L) (rel, ga, gb) else (rel, gb, ga)
        }
      }
      .toDF("rel", "group_a", "group_b")
  }
}
