package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.StructType

/** The MERGE action model of [[DeltaLake.mergeGeneral]] and
  * [[Iceberg.mergeGeneral]] (planned by [[RowLevelDml.merge]]) — the
  * full SQL `MERGE` clause set, the canonical upsert (`UPDATE SET *` +
  * `INSERT *`, what both formats' `merge` run) included: ordered
  * conditional `WHEN MATCHED` actions (UPDATE with an explicit SET
  * list or `SET *`, and DELETE), conditional `WHEN NOT MATCHED …
  * INSERT` (explicit values or `INSERT *`), and `WHEN NOT MATCHED BY
  * SOURCE` (UPDATE/DELETE over target-only rows). Reference scope:
  * the reference inherits full MERGE through its SQL layer; this
  * model re-expresses it over the native copy-on-write writers.
  *
  * EXPRESSION SCOPES (the column-name contract):
  *  - `WHEN MATCHED` conditions and SET values see the target row's
  *    columns by PLAIN name and the source row's columns via
  *    [[MergeActions.src]] (internally `__s_<name>`). Merge keys are
  *    equal on a matched row, so `src(key)` and `col(key)` agree.
  *  - `WHEN NOT MATCHED` insert conditions/values see ONLY the source
  *    row, by plain name (there is no target row).
  *  - `WHEN NOT MATCHED BY SOURCE` conditions/SET see ONLY the target
  *    row, by plain name (there is no source row).
  *
  * ORDERING: within each clause family, actions apply FIRST-MATCH (a
  * row takes the first action whose condition evaluates true; a NULL
  * condition result means not-taken, SQL CASE semantics); a row
  * matching no action is left untouched (matched / by-source) or
  * dropped (not-matched insert). Every action except the last in its
  * family must carry a condition (the standard's reachability rule).
  */
object MergeActions {

  /** Reference a SOURCE column inside a `WHEN MATCHED`
    * condition/assignment (see the scope contract above).
    */
  def src(name: String): Column = col(s"$SrcPrefix$name")

  private[graft] val SrcPrefix = "__s_"

  sealed trait Matched { def cond: Option[Column] }

  /** `WHEN MATCHED [AND cond] THEN UPDATE SET …`; `set = None` is
    * `UPDATE SET *` (every non-key column copied from the source).
    */
  final case class MatchedUpdate(cond: Option[Column] = None,
      set: Option[Map[String, Column]] = None) extends Matched

  /** `WHEN MATCHED [AND cond] THEN DELETE`. */
  final case class MatchedDelete(cond: Option[Column] = None)
      extends Matched

  /** `WHEN NOT MATCHED [AND cond] THEN INSERT …`; `values = None` is
    * `INSERT *`; an explicit list must assign EVERY table column (the
    * writers commit full rows — partial inserts have no
    * defaulting story worth silently inventing).
    */
  final case class NotMatchedInsert(cond: Option[Column] = None,
      values: Option[Map[String, Column]] = None)

  sealed trait BySource { def cond: Option[Column] }

  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …`. */
  final case class BySourceUpdate(cond: Option[Column],
      set: Map[String, Column]) extends BySource

  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE`. */
  final case class BySourceDelete(cond: Option[Column] = None)
      extends BySource

  /** Validate the clause families against the table shape (for both
    * formats, in [[RowLevelDml.merge]]). `autoCols`: columns the
    * writer computes or defaults (identity columns, columns with a
    * CURRENT_DEFAULT) — an INSERT may omit them.
    */
  private[sources] def validate(who: String, schema: StructType,
      keys: Seq[String], partitionCols: Seq[String],
      matched: Seq[Matched], notMatched: Seq[NotMatchedInsert],
      bySource: Seq[BySource],
      autoCols: Set[String] = Set.empty): Unit = {
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      s"$who: no merge actions")
    def reachable(conds: Seq[Option[Column]], family: String): Unit =
      conds.dropRight(1).zipWithIndex.foreach { case (c, i) =>
        require(c.isDefined,
          s"$who: $family action ${i + 1} has no condition but is " +
            "not last — later actions in the family are unreachable")
      }
    reachable(matched.map(_.cond), "WHEN MATCHED")
    reachable(notMatched.map(_.cond), "WHEN NOT MATCHED")
    reachable(bySource.map(_.cond), "WHEN NOT MATCHED BY SOURCE")
    val fields = schema.fieldNames.toSet
    def checkSet(set: Map[String, Column], clause: String): Unit = {
      require(set.nonEmpty, s"$who: $clause: empty SET")
      set.foreach { case (c, e) =>
        require(fields.contains(c),
          s"$who: $clause assigns unknown column '$c'")
        // identity entries on partition columns are tolerated (the
        // analyzer aligns fill-ins for EVERY column, so a conditional
        // UPDATE on a partitioned table always carries them; an
        // identity is a no-move no-op) — real values keep refusing
        require(!partitionCols.contains(c) ||
            e.toString == col(c).toString,
          s"$who: $clause assigns partition column '$c' — a " +
            "partition-column update is a row MOVE between " +
            "partitions, a different operation")
      }
    }
    matched.foreach {
      case MatchedUpdate(_, Some(set)) => checkSet(set, "MATCHED UPDATE")
      case _ => ()
    }
    bySource.foreach {
      case BySourceUpdate(_, set) =>
        checkSet(set, "NOT MATCHED BY SOURCE UPDATE")
      case _ => ()
    }
    notMatched.foreach {
      case NotMatchedInsert(_, Some(values)) =>
        values.keys.foreach(c => require(fields.contains(c),
          s"$who: INSERT assigns unknown column '$c'"))
        // autoCols (identity columns) are WRITER-computed: omitting
        // them from an explicit list means "allocate", not a hole
        val missing = schema.fieldNames.filterNot(c =>
          values.contains(c) || autoCols.contains(c))
        require(missing.isEmpty,
          s"$who: INSERT must assign every table column (the native " +
            s"writers commit full rows) — missing: ${missing.mkString(", ")}")
      case _ => ()
    }
  }

  /** Per-row action resolution over the matched-join frame. `joined`
    * carries the target columns by name, every source column as
    * `__s_<name>`, and `__m` (non-null = this target row matched a
    * source row). Returns the frame extended with `__outcome`
    * ('update' | 'delete' | null = untouched) and one `__v_<c>` new
    * value per table column — callers filter deletes out, project the
    * `__v_` columns back to their names, and (CDF) diff against the
    * original columns.
    */
  private[sources] def resolveRows(schema: StructType, keys: Seq[String],
      joined: DataFrame, matched: Seq[Matched],
      bySource: Seq[BySource],
      pinned: Set[String] = Set.empty): DataFrame = {
    val m = col("__m").isNotNull
    def chain(conds: Seq[Column], values: Seq[Column],
        orElse: Column): Column =
      conds.zip(values).foldLeft(Option.empty[Column]) {
        case (None, (c, v)) => Some(when(c, v))
        case (Some(acc), (c, v)) => Some(acc.when(c, v))
      }.map(_.otherwise(orElse)).getOrElse(orElse)
    def condOf(c: Option[Column]): Column = c.getOrElse(lit(true))
    // `pinned` (identity columns): immutable surrogates — UPDATE SET *
    // keeps the target's value instead of copying the source's
    def valueOf(action: Matched, f: String): Column = action match {
      case MatchedUpdate(_, None) =>
        if (keys.contains(f) || pinned.contains(f)) col(f) else src(f)
      case MatchedUpdate(_, Some(set)) =>
        // nullable cast target: nested withField rebuilds yield
        // nullable members (the reader forces nullability anyway)
        set.get(f).map(_.cast(LakeScan.asNullable(schema(f).dataType)))
          .getOrElse(col(f))
      case MatchedDelete(_) => col(f) // dropped by __outcome anyway
    }
    def bsValueOf(action: BySource, f: String): Column = action match {
      case BySourceUpdate(_, set) =>
        set.get(f).map(_.cast(LakeScan.asNullable(schema(f).dataType)))
          .getOrElse(col(f))
      case BySourceDelete(_) => col(f)
    }
    def outcomeOf(isDelete: Boolean): Column =
      lit(if (isDelete) "delete" else "update")
    val matchedOutcome = chain(matched.map(a => condOf(a.cond)),
      matched.map(a => outcomeOf(a.isInstanceOf[MatchedDelete])),
      lit(null).cast("string"))
    val bySourceOutcome = chain(bySource.map(a => condOf(a.cond)),
      bySource.map(a => outcomeOf(a.isInstanceOf[BySourceDelete])),
      lit(null).cast("string"))
    val outcome = when(m, matchedOutcome).otherwise(bySourceOutcome)
    val valueCols = schema.fieldNames.toIndexedSeq.map { f =>
      val mv = chain(matched.map(a => condOf(a.cond)),
        matched.map(a => valueOf(a, f)), col(f))
      val bv = chain(bySource.map(a => condOf(a.cond)),
        bySource.map(a => bsValueOf(a, f)), col(f))
      when(m, mv).otherwise(bv).as(s"__v_$f")
    }
    joined.select(col("*") +: outcome.as("__outcome") +: valueCols: _*)
  }

  /** Insert-side resolution over the anti-joined source rows (plain
    * source columns): first applicable insert action's values, rows
    * matching no action dropped. Returns rows in the table schema.
    * `notMatched` is non-empty.
    */
  private[sources] def resolveInserts(schema: StructType,
      inserts: DataFrame, notMatched: Seq[NotMatchedInsert],
      defaults: Map[String, Column] = Map.empty): DataFrame = {
    def condOf(c: Option[Column]): Column = c.getOrElse(lit(true))
    val keep = notMatched.map(a => condOf(a.cond)).reduce(_ || _)
    val cols = schema.fieldNames.toIndexedSeq.map { f =>
      notMatched.foldLeft(Option.empty[Column]) { (acc, a) =>
        val v = a.values match {
          // INSERT *: a source omitting a writer-computed column
          // inserts its DEFAULT (null for identity — the writer
          // allocates); the star-width check guaranteed every other
          // column is present
          case None =>
            if (inserts.columns.contains(f)) col(f)
            else defaults.getOrElse(f, lit(null))
              .cast(schema(f).dataType)
          // an explicit list may omit writer-computed/defaulted
          // columns — validate() guaranteed every other column
          case Some(values) => values.get(f)
            .map(_.cast(schema(f).dataType))
            .getOrElse(defaults.getOrElse(f, lit(null))
              .cast(schema(f).dataType))
        }
        acc match {
          case None => Some(when(condOf(a.cond), v))
          case Some(w) => Some(w.when(condOf(a.cond), v))
        }
      }.get.as(f)
    }
    inserts.filter(keep).select(cols: _*)
  }
}
