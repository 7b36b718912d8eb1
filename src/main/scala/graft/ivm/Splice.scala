package graft.ivm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
import org.apache.spark.sql.graft.GraftSql
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The KEY-SCOPED SPLICE: replace only the rows of the keys a change
  * touched.
  *
  *   view′ = view ▷ touched  ∪all  Q(input ⋉ touched)
  *
  * Exact whenever the view DECOMPOSES BY KEY — every view row derives
  * only from input rows of its own key: any deterministic aggregate
  * grouped by the key (min/max/count-distinct included, which
  * subtraction-merging can't retract), an outer or anti join on an
  * equi-key, a key-partitioned window. A key outside `touched` keeps its
  * stored rows, a touched key is recomputed from its own input rows — and
  * leaves the view when it has none left. Over-approximating `touched` is
  * still exact, because an unchanged key recomputes to the same rows. One
  * query, no netting: the retract side reads the stored view instead of
  * recomputing `Q(base)`.
  *
  * Shared by the signed maintenance rungs ([[Ivm.SignedDelta.applyTo]])
  * and the lakehouse seams ([[LakeSplice]]). Key matching is NULL-SAFE
  * throughout: a NULL key is a real group (SQL GROUP BY semantics —
  * and partition values can be null).
  */
private[ivm] object Splice {

  /** Above this many touched keys, restrict with a broadcast semi join of
    * the touched FRAME instead of collected keys — the driver-side
    * collect is bounded either way.
    */
  private val InlineCap = 10000

  /** A resolved touched-key set: restricts a frame to the touched keys
    * (`keep`) or to the untouched ones (`drop`), given the frame's key
    * expressions in touched-column order.
    */
  sealed trait Touched {
    def keep(df: DataFrame, keys: Seq[Column]): DataFrame
    def drop(df: DataFrame, keys: Seq[Column]): DataFrame
  }

  /** A small single-key set as an `InSet` predicate: it reaches a scan
    * as a real partition/pushed filter, so a log-backed index prunes
    * FILES deterministically — a broadcast semi join only restricts rows
    * after the scan (runtime DPP may or may not fire).
    *
    * Spark probes an `InSet` through a hash set the generated code only
    * references, so the code is the same whatever the touched values —
    * unlike a literal `IN` of ≤ 10 values (one comparison per value),
    * which is why the set is built as an `InSet` directly. The exception
    * is an int-like key (byte/short/int/date): Spark compiles an `InSet`
    * of ≤ 400 such values into a `switch` over them, so every
    * maintenance cycle with a new touched set compiles new whole-stage
    * classes (the group-scoped `v_minmax` view of the `ivm_refresh`
    * benchmark, grouped by an int nation key: 4 per refresh). That is
    * the known cost of file pruning on those keys; the join form would
    * keep the code stable but prune nothing.
    */
  private final case class InList(values: Seq[Any], keyType: DataType)
      extends Touched {
    private def hit(k: Column): Column = {
      val nonNull = values.filter(_ != null)
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(keyType)
      lazy val in = GraftSql.column(InSet(GraftSql.expression(k),
        nonNull.map(toCatalyst).toSet))
      if (values.isEmpty) lit(false)
      else if (nonNull.isEmpty) k.isNull
      else if (nonNull.length == values.length) in
      else k.isNull || in
    }
    def keep(df: DataFrame, keys: Seq[Column]): DataFrame =
      df.filter(hit(keys.head))
    // `k IN (…)` is NULL for a NULL key when the set holds no NULL: the
    // coalesce keeps that untouched NULL group instead of dropping it
    def drop(df: DataFrame, keys: Seq[Column]): DataFrame =
      df.filter(!coalesce(hit(keys.head), lit(false)))
  }

  /** A broadcast semi/anti join against a touched frame: the collected
    * keys as a driver-side relation, or past the cap the touched frame
    * itself. Every use re-mints the frame's ExprIds — it usually shares
    * scans with the frame it restricts, and same-ExprId clones inside
    * one join are the analyzer's blind spot.
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

  /** Resolve a touched-key frame (one column per key, duplicates
    * allowed). Up to the cap, its keys are collected (labeled jobs):
    * first as is — a δ-sized frame usually fits the cap without a
    * distinct, which would cost a shuffle — and only past the cap once
    * more through a distinct. A single literal-typed key becomes an
    * [[InList]], composite keys a driver-side relation to join; more
    * keys than the cap stay a frame.
    */
  def resolve(touched: DataFrame): Touched = {
    val keyType = touched.schema.head.dataType
    val single = touched.columns.length == 1 && (keyType match {
      // a struct/array/map key collects as a Row/Seq that `InSet`
      // cannot probe by value — those take the join form, which
      // handles any groupable type
      case _: StructType | _: ArrayType | _: MapType => false
      case _ => true
    })
    // a per-partition take (one job; at most cap + 1 rows per partition
    // reach the driver), not `limit`: Spark names a limit's row counter
    // from a process-wide sequence, so a LIMIT query compiles new code
    // every time it runs
    def upToCap(df: DataFrame): Option[Seq[org.apache.spark.sql.Row]] = {
      val rows = graft.engine.Labeled.job(df.sparkSession,
        "splice:touched-collect") {
        df.rdd.mapPartitions(_.take(InlineCap + 1)).collect()
      }
      if (rows.length <= InlineCap) Some(rows.distinct.toIndexedSeq) else None
    }
    upToCap(touched).orElse(upToCap(touched.distinct())) match {
      case Some(rows) if single => InList(rows.map(_.get(0)), keyType)
      case Some(rows) =>
        import scala.jdk.CollectionConverters._
        Joined(touched.sparkSession.createDataFrame(rows.asJava,
          touched.schema))
      case None => Joined(touched.distinct())
    }
  }

  /** `view ▷ touched ∪all recomputed`: `viewKeys` are the view's key
    * expressions (in touched-column order) and `recomputed` the query
    * over the touched keys' input rows, in the view's columns (matched
    * by name).
    */
  def apply(view: DataFrame, viewKeys: Seq[Column], touched: Touched,
      recomputed: DataFrame): DataFrame =
    touched.drop(view, viewKeys).unionByName(recomputed)
}
