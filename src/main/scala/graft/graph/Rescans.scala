package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tagfilter.TagFilter

/** The reference's auxiliary re-scan passes as joins:
  * S4 relation-tags-overwrite and S5 ends-membership (SURVEY §2.1).
  */
object Rescans {

  /** S4 — `--relation-tags-overwrite`
    * (/root/reference/src/way_id_rel_tags.rs:16-45 + down/main.rs:288-307):
    * each way adopts the tags of its LARGEST containing relation (member
    * count; ties → highest relation id), with relation values WINNING
    * over way values per key (README.md:108-122).
    *
    * @param relations (rid, members: array<struct<objtype,ref,role>>, tags)
    * @param roleFilter keep only members whose role is ANY of these, when
    *                   non-empty (way_id_rel_tags.rs `only_roles.iter().any`)
    */
  def relationTagsOverwrite(
      ways: DataFrame,
      relations: DataFrame,
      roleFilter: Seq[String] = Nil): DataFrame = {
    val members = relations
      .select(col("rid"), col("tags").as("rel_tags"),
        size(col("members")).as("n_members"),
        explode(col("members")).as("m"))
      .filter(col("m.objtype") === "way")
      .filter(if (roleFilter.isEmpty) lit(true)
        else col("m.role").isin(roleFilter: _*))
      .select(col("m.ref").as("wid"), col("rid"), col("n_members"), col("rel_tags"))
    val winner = members
      .withColumn("rn", row_number().over(Window.partitionBy("wid")
        .orderBy(col("n_members").desc, col("rid").desc)))
      .filter(col("rn") === 1)
      .select(col("wid"), col("rel_tags"))
    ways
      .join(winner, Seq("wid"), "left")
      .withColumn("tags",
        when(col("rel_tags").isNull, col("tags"))
          .otherwise(map_concat(
            map_filter(col("tags"),
              (k, _) => !array_contains(map_keys(col("rel_tags")), k)),
            col("rel_tags"))))
      .drop("rel_tags")
  }

  /** S5 — ends-membership re-scan (down/main.rs:919-1011): for each end
    * node, OR-fold each `--ends-membership` filter over the ways that
    * contain the node, and per `--ends-tag` key concatenate the ways' tag
    * values semicolon-style, skipping a value only when it equals the
    * ENTIRE accumulated string so far (the reference's exact — slightly
    * odd — rule, main.rs:990-1004: "a","a" → "a" but "a;b","b" → "a;b;b"). The reference's fold order is its parallel scan
    * order; ours is wid order — deterministic.
    *
    * @return (nid, is_in_<i>: boolean per filter, is_in_count,
    *          tag_<key> per endTagKeys)
    */
  def endsMembership(
      ends: DataFrame, // (nid)
      ways: DataFrame, // (wid, nids, tags)
      membershipFilters: Seq[TagFilter],
      endTagKeys: Seq[String]): DataFrame = {
    val spark = ways.sparkSession
    import spark.implicits._
    val touched = ways
      .select(col("wid"), col("tags"), explode(col("nids")).as("nid"))
      .join(ends.select("nid"), Seq("nid"), "left_semi")
    val nFilters = membershipFilters.length
    val nKeys = endTagKeys.length
    touched
      .select(col("nid"), col("wid"), col("tags"))
      .as[(Long, Long, Map[String, String])]
      .groupByKey(_._1)
      .mapGroups { (nid, rows) =>
        val sorted = rows.toSeq.sortBy(_._2)
        val isIn = membershipFilters.map(f =>
          sorted.exists(w => f.eval(w._3, 'w', w._2)))
        val tagVals = endTagKeys.map { k =>
          sorted.foldLeft(Option.empty[String]) { (acc, w) =>
            w._3.get(k) match {
              case None => acc
              case Some(v) => acc match {
                case None                      => Some(v)
                case Some(prev) if prev == v       => Some(prev)
                case Some(prev)                => Some(s"$prev;$v")
              }
            }
          }.orNull
        }
        (nid, isIn, isIn.count(identity).toLong, tagVals)
      }
      .toDF("nid", "is_in", "is_in_count", "tag_vals")
      .select(
        (col("nid") +: col("is_in_count") +:
          (0 until nFilters).map(i => col("is_in")(i).as(s"is_in_$i")) ++:
          (0 until nKeys).map(i =>
            col("tag_vals")(i).as(s"tag_${endTagKeys(i)}"))): _*)
  }
}
