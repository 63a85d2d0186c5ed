package graft.tagfilter

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Compiles the tag-filter AST to Catalyst `Column` expressions over a
  * `tags: map<string,string>` column (SURVEY.md §2.2).
  *
  * Every compiled expression is **total** (never NULL): absent keys are
  * folded into the boolean result exactly as the reference's
  * `Option`-based evaluation does (tagfilter.rs:72-109). Everything is
  * built-in Catalyst — no UDFs — so filters constant-fold and push down.
  */
object TagFilterCompiler {

  /** Compile for objects that also carry a type/id (for `OSMObj` filters). */
  def compile(
      f: TagFilter,
      tags: Column,
      objType: Column = lit("w"),
      objId: Column = lit(0L)): Column = {
    def get(k: String): Column = try_element_at(tags, lit(k))
    def has(k: String): Column = get(k).isNotNull
    f match {
      case TagFilter.HasK(k)    => has(k)
      case TagFilter.HasReK(re) =>
        exists(map_keys(tags), k => k.rlike(re.pattern.pattern))
      case TagFilter.HasKLeftRightBoth(k) =>
        has(k) || has(s"$k:both") || (has(s"$k:left") && has(s"$k:right"))
      case TagFilter.NotHasKLeftRightBoth(k) =>
        !(has(k) || has(s"$k:both") || (has(s"$k:left") && has(s"$k:right")))
      case TagFilter.NotHasK(k)    => !has(k)
      case TagFilter.NotHasReK(re) =>
        !exists(map_keys(tags), k => k.rlike(re.pattern.pattern))
      case TagFilter.KV(k, v)   => get(k) <=> lit(v)
      case TagFilter.KneV(k, v) => !(get(k) <=> lit(v))
      case TagFilter.KinV(k, vs) =>
        coalesce(get(k).isin(vs: _*), lit(false))
      case TagFilter.KnotInV(k, vs) =>
        !coalesce(get(k).isin(vs: _*), lit(false))
      case TagFilter.HasKnotInV(k, vs) =>
        has(k) && !coalesce(get(k).isin(vs: _*), lit(false))
      case TagFilter.KreV(k, re) =>
        coalesce(get(k).rlike(re.pattern.pattern), lit(false))
      case TagFilter.Or(fs) =>
        fs.map(compile(_, tags, objType, objId)).reduce(_ || _)
      case TagFilter.And(fs) =>
        fs.map(compile(_, tags, objType, objId)).reduce(_ && _)
      case TagFilter.OSMObj(incl, t, id) =>
        when(objType === lit(t.toString) && objId === lit(id), lit(incl))
          .otherwise(lit(!incl))
    }
  }

  /** First-match-decides chain → `when(...).when(...).otherwise(...)`
    * (exact first-match semantics of tagfilter.rs:343-350). A chain whose
    * rules all fail yields NULL, matching the reference's `expect` panic
    * site — callers should end chains with T/F as the reference demands.
    */
  def compileFunc(tf: TagFilterFunc, tags: Column): Column = {
    val start: Option[Column] = None
    tf.elems
      .foldLeft(start) { (acc, e) =>
        def step(cond: Column, v: Boolean): Option[Column] = Some(acc match {
          case None    => when(cond, lit(v))
          case Some(c) => c.when(cond, lit(v))
        })
        e match {
          case TagFilterFuncElem.AlwaysTrue  => step(lit(true), true)
          case TagFilterFuncElem.AlwaysFalse => step(lit(true), false)
          case TagFilterFuncElem.ThenTrue(f)  => step(compile(f, tags), true)
          case TagFilterFuncElem.ThenFalse(f) => step(compile(f, tags), false)
        }
      }
      .getOrElse(lit(null).cast("boolean"))
  }

  /** `obj_pass_filters` (tagfilter.rs:352-365): AND of all `-f` filters,
    * else the filter-func, else true.
    */
  def passFilters(
      filters: Seq[TagFilter],
      func: Option[TagFilterFunc],
      tags: Column): Column =
    if (filters.nonEmpty) filters.map(compile(_, tags)).reduce(_ && _)
    else func.map(compileFunc(_, tags)).getOrElse(lit(true))

  /** `TagGrouper` (F17, /root/reference/src/taggrouper.rs:21-29): the
    * value of the first present key among a comma-separated list.
    */
  def groupValue(keys: Seq[String], tags: Column): Column =
    coalesce(keys.map(k => try_element_at(tags, lit(k))): _*)
}
