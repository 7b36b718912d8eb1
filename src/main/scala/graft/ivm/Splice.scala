package graft.ivm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}

/** The KEY-SCOPED SPLICE: replace only the groups a change touched.
  *
  *   view′ = view ▷ touched  ∪all  Q(input ⋉ touched)
  *
  * Exact for ANY deterministic aggregate `Q` (min/max/count-distinct
  * included, which subtraction-merging can't retract): a group outside
  * `touched` keeps its stored row, a touched group is recomputed from
  * its own input rows — and leaves the view when it has none left.
  * Over-approximating `touched` is still exact, because an unchanged
  * group recomputes to the same row. One query, no netting: the retract
  * side reads the stored view instead of recomputing `Q(base)`.
  *
  * Shared by the group-scoped maintenance rung ([[Ivm.maintainAuto]])
  * and the lakehouse seams ([[LakeSplice]]). Key matching is NULL-SAFE
  * throughout: a NULL group value is a real group (SQL GROUP BY
  * semantics — and partition values can be null).
  */
private[ivm] object Splice {

  /** Above this many touched single-key values, restrict with a
    * broadcast semi join instead of a literal IN — the driver-side
    * collect is bounded either way.
    */
  private val InlineCap = 10000

  /** A resolved touched-group set: restricts a frame to the touched
    * groups (`keep`) or to the untouched ones (`drop`), given the
    * frame's key expressions in touched-column order.
    */
  sealed trait Touched {
    def keep(df: DataFrame, keys: Seq[Column]): DataFrame
    def drop(df: DataFrame, keys: Seq[Column]): DataFrame
  }

  /** A small single-key set as a literal predicate: it reaches a scan as
    * a real partition/pushed filter, so a log-backed index prunes FILES
    * deterministically — a broadcast semi join only restricts rows after
    * the scan (runtime DPP may or may not fire).
    */
  private final case class InList(values: Seq[Any]) extends Touched {
    private def hit(k: Column): Column = {
      val nonNull = values.filter(_ != null)
      if (values.isEmpty) lit(false)
      else if (nonNull.isEmpty) k.isNull
      else if (nonNull.length == values.length) k.isin(nonNull: _*)
      else k.isNull || k.isin(nonNull: _*)
    }
    def keep(df: DataFrame, keys: Seq[Column]): DataFrame =
      df.filter(hit(keys.head))
    // `k IN (…)` is NULL for a NULL key when the set holds no NULL: the
    // coalesce keeps that untouched NULL group instead of dropping it
    def drop(df: DataFrame, keys: Seq[Column]): DataFrame =
      df.filter(!coalesce(hit(keys.head), lit(false)))
  }

  /** Composite keys, non-literal key types, or more values than the
    * cap: a broadcast semi/anti join. Every use re-mints the frame's
    * ExprIds — it usually shares scans with the frame it restricts, and
    * same-ExprId clones inside one join are the analyzer's blind spot.
    */
  private final case class Joined(frame: DataFrame) extends Touched {
    private def join(df: DataFrame, keys: Seq[Column], how: String) = {
      val t = Ivm.reMint(frame.toDF(frame.columns.indices.map(i =>
        s"__touched_$i"): _*))
      val cond = keys.zipWithIndex.map { case (k, i) =>
        k <=> col(s"__touched_$i")
      }.reduce(_ && _)
      df.join(broadcast(t), cond, how)
    }
    def keep(df: DataFrame, keys: Seq[Column]): DataFrame =
      join(df, keys, "left_semi")
    def drop(df: DataFrame, keys: Seq[Column]): DataFrame =
      join(df, keys, "left_anti")
  }

  /** Resolve a touched-key frame (one column per group key, duplicates
    * allowed). A single literal-typed key is collected (labeled jobs):
    * first as is — a δ-sized frame usually fits the cap without a
    * distinct, which would cost a shuffle — and only past the cap once
    * more through a distinct. Anything else, or more distinct values
    * than the cap, stays a frame for the join form.
    */
  def resolve(touched: DataFrame): Touched = {
    val inlinable = touched.columns.length == 1 &&
      (touched.schema.head.dataType match {
        // a struct/array/map grouping value collects as a Row/Seq that
        // `lit()`/`isin` cannot re-literalize — those take the join
        // form, which handles any groupable type
        case _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType => false
        case _ => true
      })
    def upToCap(df: DataFrame): Option[Seq[Any]] = {
      val vals = graft.engine.Labeled.job(df.sparkSession,
        "splice:touched-collect") {
        df.limit(InlineCap + 1).collect().map(_.get(0))
      }
      if (vals.length <= InlineCap) Some(vals.distinct.toIndexedSeq) else None
    }
    val joined = Joined(touched.distinct())
    if (!inlinable) joined
    else upToCap(touched).orElse(upToCap(touched.distinct()))
      .map(InList).getOrElse(joined)
  }

  /** `view ▷ touched ∪all agg(input ⋉ touched)`. `viewKeys` name the
    * view's key columns, `inputKeys` are the matching expressions over
    * `input` (both in touched-column order); `agg` maps the restricted
    * input to rows of the view's schema (matched by name).
    */
  def apply(view: DataFrame, viewKeys: Seq[String], touched: Touched,
      input: DataFrame, inputKeys: Seq[Column],
      agg: DataFrame => DataFrame): DataFrame =
    touched.drop(view, viewKeys.map(col))
      .unionByName(agg(touched.keep(input, inputKeys)))
}
