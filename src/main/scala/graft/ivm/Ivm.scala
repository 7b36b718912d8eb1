package graft.ivm

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.{abs, col, explode, lit, sequence, sum, when}
import org.apache.spark.sql.graft.GraftSql

/** Public API for incremental view maintenance (the reference's novel
  * capability, `src/delta_node.rs` + `src/optimizer_rules/mod.rs`).
  *
  * `Ivm.delta(df)` marks a query's analyzed plan with [[PosDelta]], applies
  * the delta-propagation rewrite + incremental-source resolution, and
  * re-wraps the result as a DataFrame. The returned plan contains only
  * standard operators, so the full Catalyst optimizer (pushdown, pruning,
  * join selection, AQE) runs on it — unlike the reference, whose tests run
  * the custom rule *instead of* the stock optimizer.
  */
object Ivm {

  /** Inserts-only delta of the given query, per the registered
    * [[DeltaSources]] split model, satisfying the algebraic identity
    * `delta(Q) == Q(full) − Q(base)` as multisets (pinned by
    * `DeltaIdentitySpec`).
    *
    * The rewrite clones subtrees into multiple Union/Join arms, so identical
    * attribute ExprIds appear across arms; re-wrapping through
    * [[GraftSql.ofRows]] re-runs the analyzer, whose `DeduplicateRelations`
    * re-instances the clones. That analyzer pass is load-bearing — which is
    * why the rules are applied eagerly here rather than injected as
    * optimizer rules via `SparkSessionExtensions` (post-analysis, no dedup
    * would run and the duplicated ExprIds could mis-bind).
    */
  def delta(df: Dataset[_]): DataFrame = {
    val plan = GraftSql.analyzed(df)
    requireRegisteredSource(plan, "delta")
    rewriteDf(df.sparkSession, PosDelta(plan))
  }

  /** Guard for every public delta-rewrite entry point: static
    * (unregistered) tables inside a query contribute EMPTY deltas —
    * δ(fact ⋈ static dim) = δfact ⋈ dim — but a query with NO registered
    * source anywhere has an identically-empty delta, which is far more
    * likely a forgot-to-register mistake than intent (the maintained view
    * would go silently, permanently stale): fail with the fix named
    * rather than returning zero rows forever. Shared with
    * [[IvmAgg.deltaPartial]], which builds its `PosDelta` directly and
    * would otherwise bypass [[delta]]'s check.
    */
  private[ivm] def requireRegisteredSource(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      api: String): Unit = {
    val scans = PosDeltaRule.deltaSourceScans(plan)
    if (!scans.exists(ResolvePosDeltaScan.isRegistered)) {
      val names = scans.flatMap(ResolvePosDeltaScan.tableNameOf).distinct
      throw new UnsupportedOperationException(
        s"$api: no registered delta source anywhere in the query " +
          s"(scanned: ${names.mkString(", ")}) — register the fact table " +
          "in DeltaSources (or Snapshots.track / FileSnapshots.track); " +
          "static tables joined to a registered source contribute empty " +
          "deltas automatically")
    }
  }

  private def rewriteDf(spark: org.apache.spark.sql.SparkSession,
      marked: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    GraftSql.ofRows(spark, ResolvePosDeltaScan(PosDeltaRule(marked)))

  /** The query evaluated against the pre-delta base snapshot: every
    * delta-source scan reads its base partition; all operators (including
    * aggregates/windows/sorts) pass through unchanged.
    */
  def baseOf(df: Dataset[_]): DataFrame =
    rewriteDf(df.sparkSession, BaseRel(GraftSql.analyzed(df)))

  /** Delta by differencing: `δQ = Q(full) ∖all Q(base)` for ARBITRARY
    * queries — a full recompute, so no incremental speedup, but a
    * correctness-preserving fallback when the algebraic rewrite does not
    * apply (e.g. windows, sorts, non-mergeable aggregates). Prefer
    * [[delta]] / [[IvmAgg]] whenever the query fits their envelopes.
    */
  def deltaByDiff(df: Dataset[_]): DataFrame =
    df.toDF().exceptAll(baseOf(df))

  /** Mark only (no rewrite) — for plan-shape tests mirroring the reference. */
  def mark(df: Dataset[_]): PosDelta = PosDelta(GraftSql.analyzed(df))

  // ---- self-serve maintenance ladder ----------------------------------

  /** What [[maintainAuto]] chose, and what to do with it. */
  sealed trait AutoMaintenance

  /** The algebraic delta applied (envelope queries): `rows` are δQ — append
    * them to the materialized view. The cheap path: δ arms read only the
    * pruned delta partitions.
    */
  final case class AppendDelta(rows: DataFrame) extends AutoMaintenance

  /** A mergeable-aggregate partial (Aggregate-rooted queries): fold into
    * the materialized view with [[IvmAgg.merge]] (an upsert on the group
    * keys in production sinks). Aggregated over the pruned delta scan only.
    */
  final case class MergePartial(delta: IvmAgg.AggDelta) extends AutoMaintenance

  /** A signed delta (outer / anti join, EXCEPT, agg-join, top-k,
    * key-scoped and group-scoped roots): apply with
    * [[SignedDelta.applyTo]] — a key splice where the rung has a key,
    * else `view' = (view ∪all inserts) ∖all retracts` (an upsert +
    * delete in production sinks). Incremental: every term keys on the
    * pruned delta partitions, no full recompute.
    */
  final case class ApplySigned(delta: SignedDelta) extends AutoMaintenance

  /** Differencing fallback (windows, sorts, non-mergeable aggregates):
    * `rows` are `Q(full) ∖all Q(base)` from a full recompute — only the
    * INSERT half of the change. A row that leaves the view has no
    * representation here, so appending `rows` to the stored view is
    * correct only for a view whose change never retracts (e.g. a global
    * rank by an ever-growing key); any other view must be overwritten
    * with `Q(full)` instead, which is what `IvmStream` does.
    */
  final case class DiffRows(rows: DataFrame) extends AutoMaintenance

  /** A signed delta: `inserts` to append, `retracts` to remove (one
    * instance per row, multiset semantics). The maintained view identity:
    * `Q(full) == (Q(base) ∪all inserts) ∖all retracts` — pinned by
    * `DeltaIdentitySpec`.
    *
    * Held as ONE weighted frame, a Z-set (DBSP, Budiu et al., VLDB
    * 2023): the output columns plus a `__graft_w: Long` weight, not
    * netted — a row may appear under several weights that cancel.
    * `inserts` is its net positive part and `retracts` its net negative
    * part, each netted on first read; a view maintained through
    * [[applyTo]], or a parent rung that reads only the [[touched]] cover
    * or the weighted frame, never nets the two apart.
    */
  final class SignedDelta private[ivm] (
      frame: () => DataFrame,
      cover: () => DataFrame,
      splice: Option[Splicing]) {
    import SignedDelta.{W, netPositive}

    /** The change: output columns plus `__graft_w`, not netted. */
    private[ivm] lazy val weighted: DataFrame = frame()

    /** Rows whose weights sum above 0, each repeated that many times. */
    lazy val inserts: DataFrame = netPositive(weighted)

    /** Rows whose NEGATED weights sum above 0. The retract net sums
      * `−w` instead of filtering `Σw < 0`, so its aggregate is never
      * canonically identical to the insert net's and exchange reuse
      * cannot fold a query that reads both nets into two filters over one
      * shared aggregate.
      */
    lazy val retracts: DataFrame = netPositive(weighted.withColumn(W, -col(W)))

    /** The change netted ONCE: the output columns plus a non-null long
      * `sign`, each row whose weights sum to a non-zero `Σw` repeated
      * `|Σw|` times with the sign of `Σw`. One aggregate of the weighted
      * frame, where reading [[inserts]] and [[retracts]] together runs
      * two.
      */
    def netWithSign: DataFrame = {
      val cols = weighted.columns.toSeq.filter(_ != W).map(col)
      weighted.groupBy(cols: _*).agg(sum(col(W)).as(W))
        .filter(col(W) =!= 0)
        .withColumn("__graft_i", explode(sequence(lit(1L), abs(col(W)))))
        .select(cols :+
          when(col(W) > 0, lit(1L)).otherwise(lit(-1L)).as("sign"): _*)
    }

    /** A δ-sized COVER of the change: a frame over a subset of the output
      * columns whose rows include every inserted or retracted row's
      * values on those columns (more rows are allowed — a cover may
      * over-approximate). It is read without netting, so it never needs
      * `inserts`/`retracts` built; by default it is the change's rows,
      * un-netted.
      */
    private[ivm] lazy val touched: DataFrame = cover()

    /** The blessed application. Two forms:
      *
      * KEY-SCOPED SPLICE — every rung whose view decomposes by a key that
      * reaches the view by name: the group-scoped rung (its group keys),
      * the key-scoped rung (its scoping keys, when they surface as the
      * scans' own columns), the outer and anti join rungs (the first
      * equi-conjunct's column: the left one for left outer and anti, the
      * right one for right outer, `coalesce(left, right)` for full
      * outer), and peeled row-wise tops over them that pass those columns
      * through. One query, `view ▷ touched ∪all Q(input ⋉ touched)`
      * ([[Splice]]): the stored view supplies the untouched keys, nothing
      * is netted or pinned.
      *
      * WEIGHTED — the rungs without such a key (EXCEPT, top-k, the merge-
      * derived agg-join and two-level rungs, a join condition with no
      * plain-column equi-conjunct, a peeled top that drops or renames the
      * key, pairs built with `SignedDelta(inserts, retracts)`): one
      * query, `(view × +1 ⊎ weighted)` grouped by the view's columns,
      * keeping each row whose weights sum above 0, that many times.
      */
    def applyTo(view: DataFrame): DataFrame = splice match {
      case Some(s) => s(view)
      case None =>
        // in the view's column order: rungs built over using-column
        // joins emit key-first order, which need not match the view's
        val cols = view.columns.toSeq.map(col)
        netPositive(view.select(cols :+ lit(1L).as(W): _*)
          .unionByName(weighted.select(cols :+ col(W): _*)))
    }

    /** Whether `applyTo` splices or nets a weighted frame. */
    private[ivm] def spliced: Boolean = splice.isDefined

    /** This delta through a deterministic row-wise `f` (a peeled
      * Project/Filter top that passes `__graft_w` through; `keeps` tells
      * which columns it passes through unchanged under their own names):
      * the weighted frame maps, the splice's recompute maps while `f`
      * keeps every view column the splice key reads, and the cover stays
      * while `f` keeps its columns (else the mapped frame covers).
      */
    private[ivm] def map(f: DataFrame => DataFrame,
        keeps: String => Boolean): SignedDelta =
      new SignedDelta(() => f(weighted),
        () => if (touched.columns.forall(keeps)) touched
          else f(weighted).drop(W),
        splice.filter(_.reads.forall(keeps))
          .map(s => s.copy(recompute = t => f(s.recompute(t)))))

    override def toString: String =
      s"SignedDelta(${if (spliced) "splice" else "weighted"})"
  }

  object SignedDelta {
    private[ivm] val W = "__graft_w"

    def apply(inserts: DataFrame, retracts: DataFrame): SignedDelta =
      new SignedDelta(() => tagged(inserts, retracts),
        () => inserts.unionByName(retracts), None)

    /** `plus × +1 ⊎ minus × −1` in `plus`'s column order. */
    private[ivm] def tagged(plus: DataFrame, minus: DataFrame): DataFrame = {
      val cols = plus.columns.toSeq
      require(!cols.exists(_.startsWith("__graft_")),
        "__graft_ column names are reserved")
      def tag(df: DataFrame, w: Long) =
        df.select(cols.map(col) :+ lit(w).as(W): _*)
      tag(plus, 1L).unionByName(tag(minus, -1L))
    }

    /** An insert-only change: every row weighs +1. */
    private[ivm] def appendOnly(rows: DataFrame): SignedDelta =
      new SignedDelta(() => rows.withColumn(W, lit(1L)), () => rows, None)

    /** `df`'s rows grouped on every column but `__graft_w`, kept where the
      * weights sum above 0 and repeated that many times.
      */
    private[ivm] def netPositive(df: DataFrame): DataFrame = {
      val cols = df.columns.toSeq.filter(_ != W).map(col)
      df.groupBy(cols: _*).agg(sum(col(W)).as(W)).filter(col(W) > 0)
        .withColumn("__graft_i", explode(sequence(lit(1L), col(W))))
        .select(cols: _*)
    }

    /** `cols` of `df`, plus its weight when it has one: how a row-wise
      * top keeps a weighted frame weighted.
      */
    private[ivm] def select(df: DataFrame, cols: Seq[Column]): DataFrame =
      df.select(cols ++ df.columns.find(_ == W).map(col): _*)

    /** A rung's delta built on first read, applied through `splicing`
      * when the rung has one. `cover` (also evaluated on first read) is a
      * cheaper [[SignedDelta.touched]] than the built delta's own, when
      * the rung knows one.
      */
    private[ivm] def deferred(build: => SignedDelta)(
        cover: => Option[DataFrame],
        splicing: Option[Splicing] = None): SignedDelta = {
      lazy val sd = build
      new SignedDelta(() => sd.weighted,
        () => cover.getOrElse(sd.touched), splicing)
    }
  }

  /** How a rung splices its change into a stored view
    * ([[SignedDelta.applyTo]]): the view's key expressions and the view
    * columns they read (a peeled top must pass those through), the
    * resolved touched-key set (built once, on first use), and the query
    * over the touched keys' input rows, in the view's columns.
    */
  private[ivm] final case class Splicing(
      reads: Set[String],
      viewKeys: Seq[Column],
      touched: () => Splice.Touched,
      recompute: Splice.Touched => DataFrame) {
    def apply(view: DataFrame): DataFrame = {
      val t = touched()
      Splice(view, viewKeys, t, recompute(t))
    }
  }

  /** `f` evaluated once, on the first call. */
  private def once[T](f: => T): () => T = {
    lazy val v = f
    () => v
  }

  /** The signed change `plus × +1 ⊎ minus × −1`, with every ExprId of the
    * weighted frame re-minted tree-order ([[PosDeltaRule.freshInstance]]).
    * The signed constructors build plans whose union/join arms REPEAT
    * subtrees (the same scan under δ and base, the affected-key set under
    * both restrictions); a plan with internally repeated ExprIds composes
    * wrongly once a caller duplicates it again — `applyTo`, or a query
    * reading both `inserts` and `retracts`, puts several copies in one
    * query, and the analyzer's DeduplicateRelations untangles
    * cross-branch duplicates only when each branch is internally
    * duplicate-free (observed concretely: without this,
    * `inserts.exceptAll(inserts)` on a key-scoped delta returned rows).
    */
  private def signedNet(plus: DataFrame, minus: DataFrame): SignedDelta =
    weightedDelta(SignedDelta.tagged(plus, minus))

  /** A rung's change given as its weighted frame `w`, built on first read
    * and re-minted ([[signedNet]]); `w` itself, un-netted, covers it.
    */
  private def weightedDelta(w: => DataFrame): SignedDelta = {
    lazy val frame = w
    new SignedDelta(() => reMint(frame), () => frame.drop(SignedDelta.W),
      None)
  }

  /** `df` with every ExprId re-minted tree-order (see [[signedNet]]'s doc
    * for why internally repeated ids are a composition hazard).
    */
  private[ivm] def reMint(df: DataFrame): DataFrame =
    GraftSql.ofRows(df.sparkSession,
      PosDeltaRule.freshInstance(GraftSql.analyzed(df)))

  /** Signed delta of a LEFT OUTER join under insert-only source deltas —
    * the case the append-only rewrite correctly refuses (see
    * [[PosDeltaRule]]): a new right-side row matching a previously
    * UNMATCHED left row must RETRACT the null-extended row the view
    * already holds. The signed algebra:
    *
    *   inserts  =  δA ⟕ (B ∪ δB)          — new left rows, matched or null-extended
    *            ∪  baseA ⋈ δB             — old left rows gaining new matches
    *   retracts =  null-extend( (baseA ▷ baseB) ⋉ δB )
    *               — formerly matchless left rows that δB now matches
    *
    * Each side may be any query inside the delta envelope (δ/base
    * propagate through it). `cond` must reference columns BY NAME and the
    * two sides' column names must be disjoint. At scale every term is a
    * keyed join whose δ side reads only the pruned delta partition; the
    * anti/semi pair in `retracts` shares the base-A scan.
    *
    * `applyTo` splices on the first equi-conjunct `lk = rk` of `cond`
    * ([[joinSplicing]]): a view row derives from one left row and the
    * right rows of ITS key, so `view′ = view ▷ touched ∪all
    * (A ⋉ touched) ⟕ (B ⋉ touched)` with touched = δA's `lk` ∪ δB's `rk`
    * — one query. The weighted frame above is built only when read.
    */
  def deltaLeftJoin(left: Dataset[_], right: Dataset[_],
      cond: org.apache.spark.sql.Column): SignedDelta = {
    val (l, r) = (left.toDF(), right.toDF())
    val (dl, dr) = (delta(l), delta(r))
    SignedDelta.deferred {
      val inserts = delta(l).join(r, cond, "left")
        .unionByName(baseOf(l).join(delta(r), cond, "inner"))
      val nullRight = r.schema.fields.toSeq.map(f =>
        org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name))
      val retracts = baseOf(l)
        .join(baseOf(r), cond, "left_anti")
        .join(delta(r), cond, "left_semi")
        .select(org.apache.spark.sql.functions.col("*") +: nullRight: _*)
      signedNet(inserts, retracts)
    }(None, joinSplicing(l, r, cond, "left", dl, dr))
  }

  /** Signed delta of a FULL OUTER join under insert-only source deltas —
    * the join type with retractions on BOTH sides: a new right row can
    * invalidate a left row's null extension AND a new left row can
    * invalidate a right row's null extension. The signed algebra extends
    * [[deltaLeftJoin]] symmetrically:
    *
    *   inserts  =  δA ⟕ (B ∪ δB)             — new left rows, matched or null-extended
    *            ∪  baseA ⋈ δB                — old left rows gaining new matches
    *            ∪  null-left( δB ▷ (A ∪ δA) ) — new right rows matching nothing
    *   retracts =  null-right( (baseA ▷ baseB) ⋉ δB )
    *            ∪  null-left( (baseB ▷ baseA) ⋉ δA )
    *
    * Identity: `Q(full) == (Q(base) ∪all inserts) ∖all retracts`
    * (DeltaIdentitySpec). Same naming/condition contract as
    * [[deltaLeftJoin]]. At scale all five terms are keyed joins whose δ
    * sides read only the pruned delta partitions. `applyTo` splices on
    * `coalesce(lk, rk)` of the first equi-conjunct — the key of a
    * matched row and of either null extension ([[joinSplicing]]).
    */
  def deltaFullJoin(left: Dataset[_], right: Dataset[_],
      cond: org.apache.spark.sql.Column): SignedDelta = {
    val (lFull, rFull) = (left.toDF(), right.toDF())
    val (dl, dr) = (delta(lFull), delta(rFull))
    SignedDelta.deferred {
      val nullLeft = lFull.schema.fields.toSeq.map(f =>
        lit(null).cast(f.dataType).as(f.name))
      val nullRight = rFull.schema.fields.toSeq.map(f =>
        lit(null).cast(f.dataType).as(f.name))
      val lCols = lFull.columns.toSeq.map(col)
      val rCols = rFull.columns.toSeq.map(col)
      val inserts = delta(lFull).join(rFull, cond, "left")
        .unionByName(baseOf(lFull).join(delta(rFull), cond, "inner"))
        .unionByName(delta(rFull).join(lFull, cond, "left_anti")
          .select(nullLeft ++ rCols: _*))
      val retracts = baseOf(lFull)
        .join(baseOf(rFull), cond, "left_anti")
        .join(delta(rFull), cond, "left_semi")
        .select(lCols ++ nullRight: _*)
        .unionByName(baseOf(rFull)
          .join(baseOf(lFull), cond, "left_anti")
          .join(delta(lFull), cond, "left_semi")
          .select(nullLeft ++ rCols: _*))
      signedNet(inserts, retracts)
    }(None, joinSplicing(lFull, rFull, cond, "full", dl, dr))
  }

  /** Signed delta of a RIGHT OUTER join: the mirror of [[deltaLeftJoin]]
    * (swap the sides, then restore Spark's left-columns-first output
    * layout). `applyTo` splices on the right side's equi-key column.
    */
  def deltaRightJoin(left: Dataset[_], right: Dataset[_],
      cond: org.apache.spark.sql.Column): SignedDelta = {
    val order = (left.toDF().columns ++ right.toDF().columns).toSeq.map(col)
    // a pure reorder: the mirrored splice (matched by name) carries over
    deltaLeftJoin(right, left, cond).map(SignedDelta.select(_, order), _ => true)
  }

  /** Signed delta of a LEFT ANTI join ("A rows with NO match in B") under
    * insert-only source deltas. Anti joins are anti-monotone on the right:
    * a new right row RETRACTS previously emitted left rows it matches.
    *
    *   inserts  =  δA ▷ (B ∪ δB)       — new left rows that match nothing
    *   retracts =  (baseA ▷ baseB) ⋉ δB — old no-match rows δB now matches
    *
    * Identity: `Q(full) == (Q(base) ∪all inserts) ∖all retracts`
    * (DeltaIdentitySpec). Same naming/condition contract as
    * [[deltaLeftJoin]]; `applyTo` splices on the left equi-key column
    * the same way: `view ▷ touched ∪all (A ⋉ touched) ▷ (B ⋉ touched)`.
    */
  def deltaAntiJoin(left: Dataset[_], right: Dataset[_],
      cond: org.apache.spark.sql.Column): SignedDelta = {
    val (l, r) = (left.toDF(), right.toDF())
    val (dl, dr) = (delta(l), delta(r))
    SignedDelta.deferred {
      val inserts = delta(l).join(r, cond, "left_anti")
      val retracts = baseOf(l)
        .join(baseOf(r), cond, "left_anti")
        .join(delta(r), cond, "left_semi")
      signedNet(inserts, retracts)
    }(None, joinSplicing(l, r, cond, "left_anti", dl, dr))
  }

  /** The splice form of an outer or anti join rung: the view decomposes
    * by the first equi-conjunct `lk = rk` (or `<=>`) of `cond` — a view
    * row derives from one input row and the other side's rows of the
    * SAME key, other conjuncts only narrow within a key. So
    *
    *   touched = δ(left).lk ∪ δ(right).rk
    *   view′   = view ▷ touched ∪all (left ⋉ touched) ⋈how (right ⋉ touched)
    *
    * keyed in the view by `lk` ("left", "left_anti") or by
    * `coalesce(lk, rk)` ("full": a null-extended side's key is NULL).
    * Matching is null-safe, so a NULL key recomputes its own rows, which
    * an `=` condition leaves unmatched. None (the weighted form) when no
    * conjunct equates a plain column of each side of one type, or column
    * names repeat across the sides (the splice keys by name).
    */
  private def joinSplicing(left: DataFrame, right: DataFrame, cond: Column,
      how: String, dl: DataFrame, dr: DataFrame): Option[Splicing] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualNullSafe, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.functions.coalesce
    val all = (left.columns ++ right.columns).map(_.toLowerCase)
    if (all.distinct.length != all.length) return None
    val key = GraftSql.analyzed(left.join(right, cond, "inner")) match {
      case Join(l, r, _, Some(c), _) =>
        def sides(a: Attribute, b: Attribute) =
          if (l.outputSet.contains(a) && r.outputSet.contains(b) &&
              a.dataType == b.dataType) Some((a.name, b.name))
          else None
        conjuncts(c).iterator.flatMap {
          case EqualTo(a: Attribute, b: Attribute) =>
            sides(a, b).orElse(sides(b, a))
          case EqualNullSafe(a: Attribute, b: Attribute) =>
            sides(a, b).orElse(sides(b, a))
          case _ => None
        }.nextOption()
      case _ => None
    }
    key.map { case (lk, rk) =>
      val touched = once(Splice.resolve(
        dl.select(col(lk)).unionByName(dr.select(col(rk).as(lk)))))
      val full = how == "full"
      Splicing(if (full) Set(lk, rk) else Set(lk),
        Seq(if (full) coalesce(col(lk), col(rk)) else col(lk)), touched,
        t => t.keep(left, Seq(col(lk)))
          .join(t.keep(right, Seq(col(rk))), cond, how))
    }
  }

  /** Insert-only delta of a set INTERSECT view (`A ∩ B`, distinct
    * semantics). Intersect is MONOTONE under inserts — a value once in
    * both sides never leaves — so the delta is append-only: the values
    * newly present in both sides that were not in both bases. Derivation:
    *
    *   candidates = distinct(δA ∪ δB) ∩ A_full ∩ B_full
    *   δ⁺(A ∩ B)  = candidates ∖ (baseA ∩ baseB)
    *              = (candidates ∖ baseA) ∪set (candidates ∖ baseB)
    *
    * (the last step distributes the difference so each term plans as an
    * anti join of the SMALL candidate set against one base side — never a
    * base×base intersect materialization). Column names are aligned
    * positionally to `left`'s, as `Dataset.intersect` does. At scale every
    * term keys on the delta partitions; the full/base sides are probed,
    * not re-shuffled against each other.
    */
  def deltaIntersect(left: Dataset[_], right: Dataset[_]): DataFrame = {
    val l = left.toDF()
    val align = (df: DataFrame) => df.toDF(l.columns.toSeq: _*)
    val r = align(right.toDF())
    val cands = delta(l).union(align(delta(right))).distinct()
      .intersect(l).intersect(r)
    // cands appears in both union arms: re-mint the second use so the
    // composed plan has no internally repeated ExprIds (see [[signed]])
    cands.except(baseOf(l))
      .union(reMint(cands).except(align(baseOf(right))))
      .distinct()
  }

  /** Signed delta of a set EXCEPT view (`A ∖set B`): anti-monotone on the
    * right — an insert into B RETRACTS a value A previously kept. The
    * signed set algebra (each term verified against the full/base
    * membership definitions):
    *
    *   inserts  = (distinct(δA) ∖ baseA) ∖ B_full — genuinely new A values
    *              no B row cancels
    *   retracts = ((distinct(δB) ∩ baseA) ∖ baseB) — old result values δB
    *              now cancels
    *
    * Identity: `Q(full) == (Q(base) ∪all inserts) ∖all retracts`
    * (DeltaIdentitySpec). Both frames are delta-keyed: each plans as the
    * small distinct-δ set anti/semi-joined against the bases — the result
    * view is never rescanned. Column names align positionally to `left`'s.
    */
  def deltaExcept(left: Dataset[_], right: Dataset[_]): SignedDelta = {
    val l = left.toDF()
    val align = (df: DataFrame) => df.toDF(l.columns.toSeq: _*)
    val inserts = delta(l).distinct().except(baseOf(l)).except(align(right.toDF()))
    val retracts = align(delta(right)).distinct()
      .intersect(baseOf(l)).except(align(baseOf(right)))
    signedNet(inserts, retracts)
  }

  /** One maintenance step of a TOP-K view (`ORDER BY … LIMIT k`): top-k
    * over a total order is a monoid under insert-only deltas —
    * `topk(T ∪ δ) = topk(topk(T) ∪ topk(δ))` — so a stored k-row view
    * absorbs a delta by merging with the delta's OWN top-k. The base
    * corpus is never rescanned: both top-k's plan as TakeOrderedAndProject
    * (per-partition heap of k, driver merge of k per partition — no full
    * sort anywhere), and the merge input is ≤ 2k rows.
    *
    * `order` must be a TOTAL order (include a unique tiebreak column):
    * with ties at the k-th position the view's content is nondeterministic
    * in any engine, and maintenance would be chasing an unpinned target
    * (same determinism rule the declared `sort_limit` query follows).
    */
  def topKMerge(prev: DataFrame, deltaRows: DataFrame, order: Seq[Column],
      k: Int): DataFrame = {
    require(k > 0, s"top-k needs k > 0, got $k")
    prev.unionByName(deltaRows.orderBy(order: _*).limit(k))
      .orderBy(order: _*).limit(k)
  }

  /** Signed delta of a TOP-K view under the registered source split:
    * inserts = delta rows entering the view, retracts = previous rows
    * falling out. Derived entirely from the k-row base view and the
    * delta's own top-k (see [[topKMerge]]) — both frames are ≤ k rows.
    * `maintainAuto` routes `orderBy(total order).limit(k)` roots here when
    * every sort key is a plain column and the query below the sort is
    * delta-rewritable.
    */
  def deltaTopK(source: Dataset[_], order: Seq[Column], k: Int): SignedDelta = {
    val src = source.toDF()
    val prev = baseOf(src).orderBy(order: _*).limit(k)
    // prev appears under both signedNet arms — the second use gets its own
    // ExprIds (cross-branch dedup only untangles internally-clean branches)
    signedNet(topKMerge(prev, delta(src), order, k), reMint(prev))
  }

  /** Per-group top-k (`ROW_NUMBER() OVER (PARTITION BY keys ORDER BY …)
    * <= k`) — the grouped sibling of `ORDER BY … LIMIT k`, and the shape a
    * training pipeline uses for "keep the best k documents per
    * language/domain". One shuffle on `keys`; the rank filter runs inside
    * the window operator's per-partition sort, so no group ever
    * materializes more than its frame. `order` must totally order rows
    * WITHIN a group (same tiebreak rule as [[topKMerge]]).
    */
  def groupTopK(df: Dataset[_], keys: Seq[String], order: Seq[Column],
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.{functions => F}
    require(k > 0, s"group top-k needs k > 0, got $k")
    require(keys.nonEmpty, "group top-k needs at least one key (use " +
      "topKMerge/deltaTopK for the global form)")
    val w = Window.partitionBy(keys.map(F.col): _*).orderBy(order: _*)
    df.toDF().withColumn("__graft_rn", F.row_number().over(w))
      .filter(F.col("__graft_rn") <= k).drop("__graft_rn")
  }

  /** One maintenance step of a GROUPED top-k view: per-group top-k is a
    * monoid per group under insert-only deltas —
    * `topk_g(T ∪ δ) = topk_g(topk_g(T) ∪ topk_g(δ))` for every group g —
    * and groups the delta never touches keep their stored rows verbatim.
    * The stored view is PROBED, never re-ranked wholesale: the δ top-k's
    * group keys (|touched-groups|-sized, broadcast) split `prev` with a
    * semi/anti pair, and only `affected ∪ δ-topk` (≤ 2k rows per touched
    * group) re-ranks. The base corpus is never rescanned.
    */
  def groupTopKMerge(prev: DataFrame, deltaRows: DataFrame,
      keys: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val dTop = groupTopK(deltaRows, keys, order, k)
    // every reuse beyond the first gets its own ExprIds ([[signedNet]]'s
    // hazard): prev feeds both split arms and dTop feeds both touched-key
    // sets plus the merge union — the repeated non-leaf subtrees otherwise
    // mis-bind
    def touched(df: DataFrame): DataFrame =
      F.broadcast(df.select(keys.map(F.col): _*).distinct())
    // using-column joins emit the keys FIRST: re-project both split arms
    // back to the stored view's column order, so the merged view keeps it
    // (downstream appliers difference positionally)
    val outCols = prev.columns.toSeq.map(F.col)
    val untouched = prev.join(touched(reMint(dTop)), keys, "left_anti")
      .select(outCols: _*)
    val affected = reMint(prev).join(touched(reMint(dTop)), keys, "left_semi")
      .select(outCols: _*)
    untouched.unionByName(
      groupTopK(affected.unionByName(dTop), keys, order, k))
  }

  /** Signed delta of a GROUPED top-k view under the registered source
    * split: inserts = delta rows entering some group's top-k, retracts =
    * stored rows they push out. Both arms are restricted to the δ top-k's
    * touched groups BEFORE ranking (restriction commutes with per-group
    * top-k), so the signed pair is |touched-groups × k|-sized and the
    * netting ([[signedNet]]) erases groups whose membership didn't change.
    * The affected-view probe is recomputed from base here (declared-query
    * harness); a production store reads those ≤ k·|touched| rows by key.
    */
  def deltaGroupTopK(source: Dataset[_], keys: Seq[String],
      order: Seq[Column], k: Int): SignedDelta = {
    import org.apache.spark.sql.{functions => F}
    val src = source.toDF()
    val dTop = groupTopK(delta(src), keys, order, k)
    val touched =
      F.broadcast(reMint(dTop).select(keys.map(F.col): _*).distinct())
    // re-project the semi-join's key-first column order back to the
    // source's, so the signed frames difference positionally against any
    // view derived from the source (applyTo / the identity spec)
    val outCols = src.columns.toSeq.map(F.col)
    val affected = groupTopK(
      baseOf(src).join(touched, keys, "left_semi"), keys, order, k)
      .select(outCols: _*)
    val merged = groupTopK(reMint(affected).unionByName(dTop), keys, order, k)
    signedNet(merged, reMint(affected))
  }

  /** Signed delta of a GROUPED-AGGREGATE view computed from its
    * MATERIALIZED state plus the delta partial — the merge rung
    * ([[IvmAgg]]) lifted to a signed insert/retract pair so aggregates can
    * sit MID-TREE (feeding joins) instead of only at the root:
    *
    *   affected = view ⋉ (distinct group keys of the δ partial)   — old rows
    *   inserts  = IvmAgg.merge(affected, δ partial)                — new rows
    *   retracts = affected
    *
    * as one weighted frame ([[signedNet]]): a group whose value did not
    * change (a min the delta never beat, a sum advanced by zero) cancels
    * when it is netted.
    * Unlike the key-scoped rung this NEVER re-aggregates source rows:
    * the δ partial aggregates only the pruned delta scan and `affected` is
    * a keyed lookup into the materialized view (here expressed as a
    * broadcast-semi-join against the δ partial's keys; an index lookup in
    * a production view store). Identity (DeltaIdentitySpec):
    * `Q(full) == (view ∪all inserts) ∖all retracts` for `view == Q(base)`.
    *
    * Same envelope as [[IvmAgg.deltaPartial]] (sum/count/min/max,
    * count/sum DISTINCT; avg via [[IvmAgg.mergeableForm]]); the group keys
    * must surface in the select list to key the lookup.
    */
  def deltaAgg(view: DataFrame, q: Dataset[_]): SignedDelta = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
    import org.apache.spark.sql.functions.broadcast
    val ad = IvmAgg.deltaPartial(q)
    SignedDelta.deferred {
      val affected =
        if (ad.keys.isEmpty) view // global aggregate: the single row
        else {
          val affKeys = reMint(ad.partial.select(ad.keys.map(k =>
            col(k).as(s"__aff_$k")): _*).distinct())
          val cond = ad.keys.map(k => col(k) <=> col(s"__aff_$k"))
            .reduce(_ && _)
          view.join(broadcast(affKeys), cond, "left_semi")
        }
      signedNet(IvmAgg.merge(affected, ad), reMint(affected))
    } {
      // only groups with δ rows change: the δ rows' group keys cover both
      // frames without the view probe, the merge, the net — or the
      // partial's own aggregation (a shuffle)
      GraftSql.analyzed(q) match {
        case Aggregate(_, aggExprs, child, _) if ad.keys.nonEmpty =>
          val keyOuts = ad.keys.flatMap(k => aggExprs.find(_.name == k))
          if (keyOuts.size != ad.keys.size) None
          else try Some(delta(GraftSql.ofRows(q.sparkSession,
            Project(keyOuts, child))))
          catch { case _: UnsupportedOperationException => None }
        case _ => None
      }
    }
  }

  /** Key-scoped differencing — the rung between the signed deltas and full
    * [[deltaByDiff]]: when a query DECOMPOSES PER KEY (every window is
    * partitioned by ⊇ `keys`, every aggregate grouped by ⊇ `keys`, no
    * joins, no global limit), rows for keys untouched by the delta cannot
    * change, so the view is maintainable by recomputing ONLY the affected
    * key partitions:
    *
    *   aff      = distinct `keys` of δ(source)          — small, broadcast
    *   inserts  = Q(source ⋉ aff) ∖all Q(base ⋉ aff)
    *   retracts = Q(base ⋉ aff) ∖all Q(source ⋉ aff)
    *
    * The canonical use is sessionization/window maintenance: a day's new
    * events touch a sliver of users; this recomputes those users' sessions
    * and leaves every other user's rows untouched — at 100 TB the
    * difference between a full-corpus window shuffle and a broadcast-
    * semi-join-pruned one. The semi joins push the affected-key filter to
    * the scans, so both recomputes read only the affected rows.
    *
    * `q` must be deterministic and key-decomposable — validated against
    * the analyzed plan of `q(source)`, rejecting windows/aggregates not
    * keyed by `keys`, joins that do not equate every key between their
    * sides, and global limits (a Sort is allowed: the signed contract is
    * multiset-level). Key-co-partitioned equi-joins ARE decomposable —
    * each output row for key k derives only from both sides' key-k rows —
    * so `q` may join the source with dimension tables (or other delta
    * sources) ON the scoping keys; every registered delta-source scan in
    * the plan is base/full-split and every scan is restricted to the
    * union of the affected keys. Identity (DeltaIdentitySpec):
    * `Q(full) == (Q(base) ∪all inserts) ∖all retracts`.
    *
    * `applyTo` does not difference: when every key surfaces in the view
    * as a scan's own column, it splices `view ▷ aff ∪all Q(source ⋉ aff)`
    * — the restricted full recompute replaces the affected keys' stored
    * rows, and the base recompute and the net never run. The weighted
    * frame is built only when it, `inserts` or `retracts` is read.
    */
  def deltaKeyScoped(q: DataFrame => DataFrame, source: Dataset[_],
      keys: Seq[String]): SignedDelta = {
    require(keys.nonEmpty, "need at least one partition key")
    keyScopedSigned(source.sparkSession,
      GraftSql.analyzed(q(source.toDF())), keys)
  }

  /** `e` split on AND. */
  private def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
      conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** The names of the plain columns (bare or aliased) among `exprs`. */
  private def names(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    exprs.collect {
      case a: Attribute => a.name
      case Alias(a: Attribute, name) => name
    }.toSet
  }

  private def requireKeyDecomposable(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      keys: Seq[String]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, EqualNullSafe, EqualTo}
    import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, GlobalLimit, Join, Project, Window}
    val need = keys.toSet
    // the walk stops at the source-scan boundary: renames INSIDE the
    // source's own definition (a temp view's stored plan, toDF tuple
    // aliases) define what the source's columns ARE; only the operators
    // q adds ABOVE the scan can illegally re-bind a key name
    val boundaries = PosDeltaRule.deltaSourceScans(plan)
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
      if (boundaries.exists(_ eq p)) return
      // the signed difference runs TWO independent restricted recomputes;
      // a nondeterministic expression (rand()/uuid()/sample) makes them
      // disagree on untouched partitions, surfacing as spurious
      // insert/retract pairs with no error — same rejection the join/limit
      // cases get
      p.expressions.filterNot(_.deterministic).foreach { e =>
        throw new UnsupportedOperationException(
          s"deltaKeyScoped: nondeterministic expression $e — two " +
            "independent restricted recomputes would disagree on untouched " +
            "key partitions; use Ivm.deltaByDiff over a materialized input")
      }
      check(p)
      p.children.foreach(walk)
    }
    def check(node: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = node match {
      // key identity is tracked BY NAME, so a projection must not re-bind
      // a key name to a different column/expression — the window would
      // then partition by something the scan-level key restriction does
      // not select, silently recomputing over partial partitions
      case p: Project =>
        p.projectList.foreach {
          case Alias(child, name) if need.contains(name) =>
            child match {
              case a: Attribute if a.name == name => ()
              case other => throw new UnsupportedOperationException(
                s"deltaKeyScoped: projection re-binds key column '$name' " +
                  s"to $other — the key name no longer traces to the " +
                  "source column; use Ivm.deltaByDiff")
            }
          case _ => ()
        }
      case w: Window =>
        if (!need.subsetOf(names(w.partitionSpec)))
          throw new UnsupportedOperationException(
            s"deltaKeyScoped: window partitioned by ${names(w.partitionSpec)} " +
              s"does not cover keys $need — rows of one key could depend on " +
              "another key's rows; use Ivm.deltaByDiff")
      case a: Aggregate =>
        if (!need.subsetOf(names(a.groupingExpressions)))
          throw new UnsupportedOperationException(
            s"deltaKeyScoped: aggregate grouped by " +
              s"${names(a.groupingExpressions)} does not cover keys $need; " +
              "use IvmAgg (mergeable) or Ivm.deltaByDiff")
      case d: Deduplicate =>
        if (!need.subsetOf(names(d.keys)))
          throw new UnsupportedOperationException(
            "deltaKeyScoped: deduplication keys do not cover the partition " +
              "keys; use Ivm.deltaByDiff")
      // a join is per-key decomposable iff its condition EQUATES every
      // scoping key between the two sides (then an output row for key k
      // derives only from both sides' key-k rows, and restricting every
      // scan to the affected keys restricts the output to those keys);
      // extra conjuncts only narrow within a key partition, so they are
      // fine. Anything else can correlate one key's rows with another's.
      case j: Join =>
        def acrossSides(a: Attribute, b: Attribute): Boolean =
          (j.left.outputSet.contains(a) && j.right.outputSet.contains(b)) ||
            (j.right.outputSet.contains(a) && j.left.outputSet.contains(b))
        def equated(k: String): Boolean =
          j.condition.toSeq.flatMap(conjuncts).exists {
            case EqualTo(a: Attribute, b: Attribute) =>
              a.name == k && b.name == k && acrossSides(a, b)
            case EqualNullSafe(a: Attribute, b: Attribute) =>
              a.name == k && b.name == k && acrossSides(a, b)
            case _ => false
          }
        val typeOk = j.joinType match {
          case Inner | LeftOuter | RightOuter | FullOuter |
               LeftSemi | LeftAnti => true
          case _ => false
        }
        if (!typeOk || !need.forall(equated))
          throw new UnsupportedOperationException(
            s"deltaKeyScoped: ${j.joinType} join does not equate every " +
              s"scoping key $need between its sides (only key-co-" +
              "partitioned equi-joins are per-key decomposable); use the " +
              "signed join deltas or Ivm.deltaByDiff")
      case _: GlobalLimit =>
        throw new UnsupportedOperationException(
          "deltaKeyScoped: a global limit is not per-key decomposable; " +
            "use Ivm.deltaByDiff")
      case _ => ()
    }
    walk(plan)
  }

  /** Route a query down the maintenance ladder instead of throwing:
    * algebraic delta → mergeable-aggregate partial → append-only
    * INTERSECT rung → signed delta (outer / anti join and EXCEPT roots;
    * aggregate ⋈ other inner joins incl. row-wise tops, [[deltaAgg]];
    * top-k roots; key-scoped decomposable queries) →
    * differencing. Every query the engine
    * can run is maintainable through this entry point; the returned case
    * tells the caller how to apply the result (append / merge / signed
    * upsert / recompute — [[DiffRows]] carries only the insert half, so a
    * view whose change can retract is overwritten with the query), and
    * WHICH rung it got — so the cost cliff between the incremental rungs
    * and the recompute rung stays visible.
    *
    * Top-k caveat: a root `ORDER BY plain columns LIMIT k` routes to the
    * top-k merge rung, whose correctness needs a TOTAL order (include a
    * unique tiebreak column — see [[topKMerge]]). Uniqueness is not
    * statically checkable, so the auto path cannot validate it; a
    * tie-ambiguous ORDER BY at the k-th position is equally ill-defined
    * under full recompute (any engine may return either tie), but a
    * maintained view can additionally DRIFT from what a recompute would
    * pick. Callers with non-total sort keys should maintain via
    * [[deltaByDiff]] instead.
    */
  def maintainAuto(df: Dataset[_]): AutoMaintenance =
    try AppendDelta(delta(df))
    catch {
      case _: UnsupportedOperationException =>
        try MergePartial(IvmAgg.deltaPartial(df))
        catch {
          case _: UnsupportedOperationException => signedOrDiff(df)
        }
    }

  private def signedOrDiff(df: Dataset[_]): AutoMaintenance = {
    import org.apache.spark.sql.catalyst.plans.logical.Intersect
    val spark = df.sparkSession
    GraftSql.analyzed(df) match {
      // set ops at the root: INTERSECT is monotone (append-only rung),
      // EXCEPT is anti-monotone on the right (signed rung)
      case Intersect(l, r, false) =>
        AppendDelta(deltaIntersect(
          GraftSql.ofRows(spark, l), GraftSql.ofRows(spark, r)))
      case plan =>
        // deterministic row-wise tops over a signed-rung core commute
        // with the signed change — peel them so projected/filtered
        // outer-join and set-difference VIEWS maintain signed instead of
        // differencing (the condition re-resolves BY NAME against the
        // peeled core's frames, so it needs unique names — peelRowwise
        // already requires that)
        lazy val peeled = {
          val (core, post) = peelRowwise(plan)
          if (post.isEmpty) None
          else joinOrExcept(spark, core).map(applyPost(_, post))
        }
        joinOrExcept(spark, plan)
          .orElse(aggJoinAuto(df))
          .orElse(peeled)
          .orElse(aggOverSignedAuto(df))
          .orElse(topKAuto(df))
          .orElse(keyScopedAuto(df))
          .orElse(aggGroupScopedAuto(df))
          .map(ApplySigned(_))
          .getOrElse(DiffRows(deltaByDiff(df)))
    }
  }

  /** The signed rung of an outer or anti join or a set EXCEPT at `p`'s
    * root, if it is one.
    */
  private def joinOrExcept(spark: org.apache.spark.sql.SparkSession,
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[SignedDelta] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Except, Join}
    import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftAnti, LeftOuter, RightOuter}
    def side(x: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      GraftSql.ofRows(spark, x)
    p match {
      case Except(l, r, false) => Some(deltaExcept(side(l), side(r)))
      case Join(l, r, how, Some(cond), _) =>
        val c = GraftSql.column(cond)
        how match {
          case LeftOuter => Some(deltaLeftJoin(side(l), side(r), c))
          case RightOuter => Some(deltaRightJoin(side(l), side(r), c))
          case FullOuter => Some(deltaFullJoin(side(l), side(r), c))
          case LeftAnti => Some(deltaAntiJoin(side(l), side(r), c))
          case _ => None
        }
      case _ => None
    }
  }

  /** TWO-LEVEL maintenance (r6): a SUBTRACTABLE grouped aggregate whose
    * child maintains through any SIGNED rung — aggregate over agg-join,
    * over set difference, over top-k — the F-IVM-style composition one
    * level above [[aggJoinAuto]]. For child' = child − R + I, every
    * group's counts and sums advance by ONE partial over the child's
    * weighted frame (weight w per row, un-netted: both are linear in w)
    *
    *   P = γ_keys(δchild):
    *     count(x) → Σ w·[x IS NOT NULL],   sum(x) → Σ w·x
    *
    * and view' = view ⊕ P groupwise (plain addition); groups whose
    * count(*) tracker reaches 0 drop. The envelope is enforced honestly:
    *   - sum/count only (min/max are NOT subtractable — a retracted max
    *     needs the runner-up the view no longer has), no DISTINCT, no
    *     FILTER, grouped only (a global aggregate's empty-input row has
    *     NULL sums the subtract algebra cannot produce);
    *   - one count(*) output is REQUIRED as the group-liveness tracker;
    *   - every summed expression must be NON-NULLABLE (wrap in
    *     coalesce(x, 0)): a nullable sum cannot distinguish "every
    *     non-null contributor retracted" (NULL) from "values cancel to 0"
    *     without a per-column non-null count the view does not carry —
    *     the classic higher-order-IVM caveat, rejected statically here.
    * Scale shape matches [[deltaAgg]]: P aggregates only the child's
    * (small) weighted frame, the view lookup is a broadcast-semi keyed
    * probe, and the base corpus is never re-aggregated at either level.
    */
  private def aggOverSignedAuto(df: Dataset[_]): Option[SignedDelta] = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.functions.{broadcast, coalesce, when}

    GraftSql.analyzed(df) match {
      case Aggregate(groupExprs, aggExprs, child, _) if groupExprs.nonEmpty =>
        val cNames = child.output.map(_.name)
        if (cNames.distinct.size != cNames.size) return None
        // the merge and the weighted frame key by NAME
        val keyNames = groupKeyNames(groupExprs, aggExprs).getOrElse(return None)

        // classify outputs: group keys pass through; everything else must
        // be a subtractable aggregate, re-expressed weight-scaled
        var tracker: Option[String] = None
        val scaled: Seq[Column] = aggExprs.flatMap {
          case ne if keyNames.contains(ne.name) => None
          case Alias(ae: AggregateExpression, name)
              if !ae.isDistinct && ae.filter.isEmpty =>
            ae.aggregateFunction match {
              case c: Count =>
                // tracker soundness rides the no-FILTER invariant checked
                // above (ae.filter.isEmpty): count over NON-NULLABLE
                // children ≡ count(*) ≡ group row count ONLY while no
                // FILTER clause can thin it. If the envelope ever admits
                // FILTER, the tracker must be restricted to a literal
                // count(*)/count(lit) — a filtered count(nonnull_x) would
                // mis-track group liveness and drop live groups at 0.
                if (c.children.forall(!_.nullable) && tracker.isEmpty)
                  tracker = Some(name)
                val live = c.children.map(ch => byName(ch).isNotNull)
                  .reduceOption(_ && _).getOrElse(lit(true))
                Some(sum(when(live, col(SignedDelta.W)).otherwise(lit(0L)))
                  .cast("long").as(name))
              case s: Sum if !s.child.nullable =>
                Some(sum(byName(s.child) * col(SignedDelta.W)).as(name))
              case _ => return None // min/max/avg/nullable sum: not here
            }
          case _ => return None
        }
        if (tracker.isEmpty) return None // need a count(*) liveness column

        val childDf = GraftSql.ofRows(df.sparkSession, child)
        val childSd = childStep(childDf)(aggJoinAuto(childDf)
          .orElse(topKAuto(childDf))
          .orElse(keyScopedAuto(childDf))).getOrElse(return None)

        val keyCols = groupExprs.zip(keyNames).map { case (e, n) =>
          byName(e).as(n)
        }
        // the partial over the child's weighted frame, un-netted: every
        // output is linear in the weights
        val partial = childSd.weighted.groupBy(keyCols: _*)
          .agg(scaled.head, scaled.tail: _*)

        // the maintained view (base recompute stands in for the stored
        // view, as in deltaAgg) probed by the touched-group keys
        val view = baseOf(df)
        val pKeys = reMint(partial.select(keyNames.map(k =>
          col(k).as(s"__aff_$k")): _*))
        val affCond = keyNames.map(k => col(k) <=> col(s"__aff_$k"))
          .reduce(_ && _)
        val affected = view.join(broadcast(pKeys), affCond, "left_semi")

        // view ⊕ P groupwise through the one-exchange key-aligned combine
        // (IvmAgg.alignByKeys) — both sides are ≤ 1 row per key, so the
        // previous full-outer join (2 exchanges + SMJ sorts) computes the
        // same rows as a union + single hash aggregate
        val outCols = df.toDF().schema.map { f =>
          if (keyNames.contains(f.name)) col(f.name)
          else
            (coalesce(col(s"__graft_l_${f.name}"), lit(0)) +
              coalesce(col(s"__graft_r_${f.name}"), lit(0)))
              .cast(f.dataType).as(f.name)
        }
        val merged = IvmAgg.alignByKeys(affected, reMint(partial),
            keyNames).select(outCols: _*)
        Some(signedNet(
          merged.filter(col(tracker.get) > 0),
          reMint(affected)))
      case _ => None
    }
  }

  /** `e` re-resolved by name (for plans whose ExprIds are re-minted). */
  private def byName(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftSql.column(stripRefs(e))

  /** The output name of each grouping expression of an aggregate — None
    * when one does not surface as a named output (the aggregate rungs key
    * their frames and the stored view by name).
    */
  private def groupKeyNames(
      groupExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      aggExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression])
      : Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    val names = groupExprs.map {
      case a: Attribute => aggExprs.collectFirst {
        case o: Attribute if o.exprId == a.exprId => o.name
        case Alias(o: Attribute, name) if o.exprId == a.exprId => name
      }
      case e => aggExprs.collectFirst {
        case Alias(c, name) if c.semanticEquals(e) => name
      }
    }
    if (names.forall(_.isDefined)) Some(names.flatten) else None
  }

  /** An aggregate rung's child, stepped through the append-only envelope,
    * then the merge-partial aggregate, then `signed` (the rung's choice of
    * signed rungs).
    */
  private def childStep(childDf: DataFrame)(
      signed: => Option[SignedDelta]): Option[SignedDelta] =
    try Some(SignedDelta.appendOnly(delta(childDf)))
    catch {
      case _: UnsupportedOperationException =>
        (try Some(deltaAgg(baseOf(childDf), childDf))
        catch { case _: UnsupportedOperationException => None })
          .orElse(signed)
    }

  /** GROUP-SCOPED recompute (r7): grouped aggregates OUTSIDE the
    * subtractable envelope — min/max (a retracted max needs the runner-up
    * the view no longer has), avg, DISTINCT, FILTER clauses — over a
    * child that maintains through any signed rung. Where
    * [[aggOverSignedAuto]] must honestly refuse, this rung applies the
    * [[keyScopedSigned]] restriction idea AT THE GROUP LEVEL, as a
    * [[Splice]]:
    *
    *   touched = group keys of the child's change cover
    *             ([[SignedDelta.touched]] — δ-sized, never netted)
    *   view′   = view ▷ touched  ∪all  γ( child ⋉ touched )
    *
    * Recompute is exact for ANY deterministic aggregate — no per-function
    * algebra, which is exactly why it sits BELOW the subtractable rung
    * (cheap partials win when they apply) and below scan-level key
    * scoping (restriction at the parquet scan prunes more than
    * restriction above the child). `applyTo` is that one query: the
    * stored view supplies every untouched group, and no net aggregate
    * runs. The weighted frame (read by oracles and tests through
    * `inserts`/`retracts`) is the same restriction, with a base recompute
    * standing in for the stored view. (The child recompute under the
    * restriction reads the child's inputs — in production the child of a
    * second-level aggregate is itself a materialized view, making that
    * read |touched|-sized too.)
    */
  private def aggGroupScopedAuto(df: Dataset[_]): Option[SignedDelta] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate

    val spark = df.sparkSession
    GraftSql.analyzed(df) match {
      case agg @ Aggregate(groupExprs, aggExprs, child, _)
          if groupExprs.nonEmpty =>
        val cNames = child.output.map(_.name)
        if (cNames.distinct.size != cNames.size) return None
        // recompute is exact for any DETERMINISTIC aggregate; reject
        // nondeterminism and correlated subqueries outright
        if (!(groupExprs ++ aggExprs).forall(e => e.deterministic &&
            !e.exists(_.isInstanceOf[SubqueryExpression]))) return None
        // the touched-key frame and the view restriction key by NAME
        val keyNames = groupKeyNames(groupExprs, aggExprs).getOrElse(return None)
        if (keyNames.distinct.size != keyNames.size) return None

        // the child's own signed step, through whichever rung fits:
        // append-only envelope, merge-partial aggregate, then the whole
        // signed ladder (set ops, outer joins, agg-join, top-k,
        // key-scoped — signedOrDiff's dispatch). A child that itself
        // falls to differencing gives this rung nothing to scope by —
        // decline and let the root difference once.
        val childDf = GraftSql.ofRows(spark, child)
        val childSd = childStep(childDf)(signedOrDiff(childDf) match {
          case ApplySigned(sd) => Some(sd)
          case _ => None
        }).getOrElse(return None)

        // the grouping expressions over the child (in keyNames order)
        val childKeys = groupExprs.map(e => byName(e match {
          case al: Alias => al.child
          case x => x
        }))
        // δ-touched groups: the grouping expressions over the child's
        // change cover. A cover lacking a referenced column falls back to
        // the netted frames, which carry every column.
        val refs = groupExprs.flatMap(_.references.map(_.name)).toSet
        lazy val touched: DataFrame = {
          val cover = Some(childSd.touched)
            .filter(c => refs.subsetOf(c.columns.toSet))
            .getOrElse(childSd.inserts.unionByName(childSd.retracts))
          cover.select(childKeys.zip(keyNames).map { case (k, n) =>
            k.as(n) }: _*)
        }
        // the aggregate re-rooted over a restricted child: Filter and
        // LEFT SEMI both keep the child's output attributes, so the
        // grouping/aggregate expressions rebind unchanged
        val recompute = (restricted: DataFrame) => GraftSql.ofRows(spark,
          agg.copy(child = GraftSql.analyzed(restricted)))
        val resolved = once(Splice.resolve(touched))
        // the weighted frame: a base recompute stands in for the stored
        // view; a parent rung scopes by this rung's touched groups
        Some(SignedDelta.deferred(signedNet(
            recompute(resolved().keep(childDf, childKeys)),
            resolved().keep(baseOf(df), keyNames.map(col))))(
          Some(touched),
          Some(Splicing(keyNames.toSet, keyNames.map(col), resolved,
            t => recompute(t.keep(childDf, childKeys))))))
      case _ => None
    }
  }

  // ---- row-wise-top peeling (shared by the signed rungs) ---------------
  //
  // Row-wise operators ABOVE a maintainable core commute with the signed
  // change — A' = A − R + I implies f(A') = f(A) − f(R) + f(I) for any
  // deterministic per-row f — so deterministic Project/Filter tops are
  // PEELED and re-applied (by name) to the weighted frame. This is what
  // routes `agg.join(dim).select(...)`, HAVING-style `agg.filter(...)`,
  // and projected/filtered outer-join views through their signed rungs
  // instead of differencing.

  private def stripRefs(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    e.transform { case a: AttributeReference => UnresolvedAttribute(a.name) }
  }

  /** A peeled row-wise top: its transform (re-resolved by name) and
    * which columns it passes through unchanged under their own names.
    */
  private final case class Rowwise(f: DataFrame => DataFrame,
      keeps: String => Boolean)

  private def peelRowwise(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        List[Rowwise]) = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression => CExpr, SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    def peelable(exprs: Seq[CExpr], child: LogicalPlan): Boolean =
      exprs.forall(e => e.deterministic &&
        !e.exists(_.isInstanceOf[SubqueryExpression])) &&
        child.output.map(_.name).distinct.size == child.output.size
    p match {
      case Project(exprs, child) if peelable(exprs, child) =>
        val cols = exprs.map(byName)
        val (inner, fs) = peelRowwise(child)
        def keeps(n: String) = exprs.count(_.name == n) == 1 && exprs.exists {
          case a: Attribute => a.name == n
          case Alias(a: Attribute, m) => m == n && a.name == n
          case _ => false
        }
        (inner, fs :+ Rowwise(SignedDelta.select(_, cols), keeps))
      case Filter(cond, child) if peelable(Seq(cond), child) =>
        val (inner, fs) = peelRowwise(child)
        (inner, fs :+ Rowwise(_.filter(byName(cond)), _ => true))
      case other => (other, Nil)
    }
  }

  /** Frames unioned over the columns they all share (None when they
    * share none) — how change covers with different column sets combine:
    * a row of any input still appears, projected to the common columns.
    */
  private def unionOnCommon(frames: Seq[DataFrame]): Option[DataFrame] = {
    val common = frames.map(_.columns.toSeq)
      .reduce((a, b) => a.filter(b.contains))
    if (common.isEmpty) None
    else Some(frames.map(_.select(common.map(col): _*))
      .reduce(_ unionByName _))
  }

  private def applyPost(sd: SignedDelta, post: List[Rowwise]): SignedDelta =
    post.foldLeft(sd)((acc, r) => acc.map(r.f, r.keeps))

  /** Auto-detected signed maintenance of an `Aggregate ⋈ other` INNER-join
    * root — the mid-tree-aggregate promotion (VERDICT r5 #2): the
    * aggregate side maintains through [[deltaAgg]] (merge algebra, no
    * source re-aggregation) and its weighted change propagates through
    * the join. For A' = A + δA (the aggregate side's signed step) and
    * B' = B + δB (the other side's):
    *
    *   A'⋈B' − A⋈B = δA⋈B + A'⋈δB
    *
    * one weighted frame, each arm weighed by its δ side — every term is
    * delta-keyed: δA is the changed-group rows, δB the pruned other-side
    * delta, and the only base-side reads are the view lookup inside
    * [[deltaAgg]] and B probed BY the small δA side (at 100 TB: broadcast
    * δA against the dim, never a corpus shuffle). δB is empty for a
    * static (unregistered) other side, weighs +1 per row inside the
    * insert-only envelope, and is the other side's own [[deltaAgg]] step
    * when it is itself a (peeled) mergeable aggregate — the agg⋈agg case.
    * Unlike the key-scoped rung this does not require the join to be ON
    * the group keys. Requirements for the auto route: INNER join with a
    * condition, disjoint+unique column names across the sides (the
    * weighted frames re-join by name), mergeable aggregate ([[IvmAgg]]
    * envelope), other side one of the three above; anything else falls
    * through to the next rung. The aggregate may sit on either side
    * (output column order is preserved). Deterministic Project/Filter
    * tops above the join — `agg.join(dim).select(...)`, HAVING-style
    * `agg.filter(...)`, including over a BARE aggregate root — are peeled
    * and re-applied to the weighted frame (row-wise operators commute
    * with the signed change).
    */
  private def aggJoinAuto(df: Dataset[_]): Option[SignedDelta] = {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    val spark = df.sparkSession

    def build(aggSide: LogicalPlan, other: LogicalPlan,
        cond: org.apache.spark.sql.catalyst.expressions.Expression,
        aggLeft: Boolean): Option[SignedDelta] = {
      // the aggregate side may itself carry row-wise tops
      // (`agg.filter(having).join(dim)`): peel them side-locally — the
      // signed change commutes, and the peeled transforms restore exactly
      // the output names the join condition references
      val (sideCore, sideFs) = peelRowwise(aggSide)
      val agg = sideCore match {
        case a: Aggregate => a
        case _ => return None
      }
      val aNames = aggSide.output.map(_.name)
      val oNames = other.output.map(_.name)
      val outOrder =
        (if (aggLeft) aNames ++ oNames else oNames ++ aNames).map(col)
      if (aNames.intersect(oNames).nonEmpty ||
          aNames.distinct.size != aNames.size ||
          oNames.distinct.size != oNames.size) return None
      try {
        val aggDf = GraftSql.ofRows(spark, agg)
        val oDf = GraftSql.ofRows(spark, other)
        // the analyzed condition binds to the original plan's ExprIds; the
        // signed frames are re-minted, so the join must re-resolve BY NAME
        // (names are disjoint and unique — checked above)
        val on = byName(cond)
        val sd = applyPost(deltaAgg(baseOf(aggDf), aggDf), sideFs)
        val oHasDelta = PosDeltaRule.deltaSourceScans(other)
          .exists(ResolvePosDeltaScan.isRegistered)
        val oBase = if (oHasDelta) baseOf(oDf) else oDf
        lazy val aFull = sideFs.foldLeft(
          IvmAgg.merge(baseOf(aggDf), IvmAgg.deltaPartial(aggDf)))(
          (d, r) => r.f(d))
        // the other side's own step (see the doc); anything else aborts
        // the rung (→ key-scoped/differencing)
        val oStep: Option[SignedDelta] =
          if (!oHasDelta) None
          else try Some(SignedDelta.appendOnly(delta(oDf)))
          catch {
            case _: UnsupportedOperationException =>
              val (oCore, oFs) = peelRowwise(other)
              val oAgg = oCore match {
                case a: Aggregate => a
                case _ => return None
              }
              val oCoreDf = GraftSql.ofRows(spark, oAgg)
              Some(applyPost(deltaAgg(baseOf(oCoreDf), oCoreDf), oFs))
          }
        def build = weightedDelta(
          (sd.weighted.join(oBase, on, "inner") +:
            oStep.toSeq.map(o => aFull.join(o.weighted, on, "inner")))
            .map(_.select(outOrder :+ col(SignedDelta.W): _*))
            .reduce(_ unionByName _))
        // the change cover, from δ-sized frames only: the aggregate side's
        // cover joined to the other side's base (the δA⋈B arm), plus the
        // other side's own change on its columns (the A'⋈δB arm — A'
        // itself is never read). None when the join needs columns the
        // aggregate side's cover lacks.
        def cover: Option[DataFrame] = {
          val aCover = sd.touched
          val refs = cond.references.map(_.name).toSet
          if (!refs.subsetOf((aCover.columns ++ oNames).toSet)) None
          else unionOnCommon(aCover.join(reMint(oBase), on, "inner") +:
            oStep.map(_.touched).toSeq)
        }
        Some(SignedDelta.deferred(build)(cover))
      } catch { case _: UnsupportedOperationException => None }
    }

    val (core, post) = peelRowwise(GraftSql.analyzed(df))
    val sd = core match {
      case Join(l, r, Inner, Some(cond), _) =>
        build(l, r, cond, aggLeft = true)
          .orElse(build(r, l, cond, aggLeft = false))
      // a bare aggregate under the peeled tops (HAVING / projected view):
      // the signed merge step, filtered/projected per row
      case agg: Aggregate if post.nonEmpty =>
        try {
          val aggDf = GraftSql.ofRows(spark, agg)
          Some(deltaAgg(baseOf(aggDf), aggDf))
        } catch { case _: UnsupportedOperationException => None }
      case _ => None
    }
    sd.map(applyPost(_, post))
  }

  /** Auto-detected [[deltaTopK]]: a root `orderBy(…).limit(k)` whose sort
    * keys are all plain columns and whose input query is delta-rewritable
    * maintains as a top-k view. Expression sort keys or a non-rewritable
    * input → None (→ key-scoped / differencing). The caller owns the
    * total-order requirement ([[topKMerge]]) — it is not statically
    * checkable, and a tie-ambiguous ORDER BY is equally ill-defined under
    * recompute.
    */
  private def topKAuto(df: Dataset[_]): Option[SignedDelta] = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, IntegerLiteral, NullsFirst, NullsLast}
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Sort}
    val spark = df.sparkSession
    GraftSql.analyzed(df) match {
      case GlobalLimit(IntegerLiteral(k),
          LocalLimit(_, Sort(order, true, child, _))) if k > 0 =>
        // re-express each sort key BY NAME: the rewritten delta/base plans
        // re-mint attribute ExprIds, so the original resolved SortOrder
        // expressions would not bind against them
        val ord = order.map { so =>
          so.child match {
            case a: Attribute => Some((so.direction, so.nullOrdering) match {
              case (Ascending, NullsFirst)  => col(a.name).asc_nulls_first
              case (Ascending, NullsLast)   => col(a.name).asc_nulls_last
              case (Descending, NullsFirst) => col(a.name).desc_nulls_first
              case (Descending, NullsLast)  => col(a.name).desc_nulls_last
            })
            case _ => None
          }
        }
        if (ord.exists(_.isEmpty)) None
        else try Some(deltaTopK(GraftSql.ofRows(spark, child),
          ord.flatten, k))
        catch { case _: UnsupportedOperationException => None }
      case _ => None
    }
  }

  /** Auto-detected [[deltaKeyScoped]]: when every window / aggregate /
    * dedup in the plan keys on a common non-empty column set, maintain by
    * recomputing only the affected key partitions. Returns None
    * (→ differencing) when any precondition fails — no joins off the keys,
    * no global limits, no key-shadowing projections, at least one
    * registered delta source (see [[keyScopedSigned]]).
    */
  private def keyScopedAuto(df: Dataset[_]): Option[SignedDelta] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Window}
    val plan = GraftSql.analyzed(df)
    val keySets = plan.collect {
      case w: Window => names(w.partitionSpec)
      case a: Aggregate => names(a.groupingExpressions)
      case d: Deduplicate => names(d.keys)
    }
    if (keySets.isEmpty || keySets.exists(_.isEmpty)) return None
    val keys = keySets.reduce(_ intersect _)
    if (keys.isEmpty) return None
    try Some(keyScopedSigned(df.sparkSession, plan, keys.toSeq.sorted))
    catch {
      // unregistered source, unresolvable predicate, non-decomposable
      // shape … → differencing
      case _: UnsupportedOperationException => None
    }
  }

  /** The key-scoped core shared by [[deltaKeyScoped]] and the auto route:
    * validate per-key decomposability, then rewrite the plan twice — a
    * "full" and a "base" instance — with EVERY scan restricted to the
    * affected keys and every REGISTERED delta-source scan base/full-split.
    * The signed difference of the two restricted recomputes is the delta;
    * the splice ([[deltaKeyScoped]]) needs only the full instance, which
    * it restricts by the resolved touched keys instead of `aff`.
    *
    * Multi-source: the affected-key set is the UNION of each registered
    * scan's delta keys, so a delta on any side selects that key's
    * partitions for recompute everywhere. Static scans (not registered in
    * [[DeltaSources]]) read the same rows in both instances — restricting
    * them is not needed for correctness (their non-affected rows cancel in
    * the difference) but prunes both recomputes AND the netting to
    * the affected keys, which is the rung's whole point at scale.
    *
    * The restriction is grafted at the SCAN, as a broadcast semi join
    * against the affected-key set — a LEFT SEMI preserves the scan's
    * output attributes exactly, so every operator above rebinds unchanged.
    * Each graft gets its own re-minted aff instance: aff's inner scan
    * shares ExprIds with the restricted scan itself, and same-ExprId
    * clones nested INSIDE one join arm are the analyzer blind spot
    * (without this the semi join conflated with the delta filter and the
    * "full" restriction silently read only the delta rows — caught by the
    * parquet-backed IncrementalKeyScopedView spec; LocalRelation-backed
    * views mask it). The semi condition is NULL-SAFE (<=>): windows and
    * aggregates treat a NULL key as a real partition, so a delta row with
    * a null key must select the null partition for recompute.
    */
  private def keyScopedSigned(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      keys: Seq[String]): SignedDelta = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, Expression}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical._
    requireKeyDecomposable(plan, keys)
    val scans = PosDeltaRule.deltaSourceScans(plan)
    val deltaScans = scans.filter(ResolvePosDeltaScan.isRegistered)
    if (deltaScans.isEmpty)
      throw new UnsupportedOperationException(
        "deltaKeyScoped: no registered delta source in the plan — " +
          "register the table in DeltaSources or use Ivm.deltaByDiff")
    for (s <- scans if !keys.toSet.subsetOf(s.output.map(_.name).toSet))
      throw new UnsupportedOperationException(
        s"deltaKeyScoped: scan of ${s.nodeName} does not output the " +
          s"scoping keys $keys — the affected-key restriction cannot " +
          "graft there; use Ivm.deltaByDiff")
    val affRows = deltaScans.map(s => delta(GraftSql.ofRows(spark, s))
        .select(keys.map(col): _*))
      .reduce(_ unionByName _)
    val aff = affRows.distinct()
    def affJoin(child: LogicalPlan): LogicalPlan = {
      val affPlan = ResolvedHint(
        PosDeltaRule.freshInstance(GraftSql.analyzed(aff)),
        HintInfo(strategy = Some(BROADCAST)))
      val cond = keys.map { k =>
        EqualNullSafe(child.output.find(_.name == k).get,
          affPlan.output.find(_.name == k).get): Expression
      }.reduce(And(_, _))
      Join(child, affPlan, LeftSemi, Some(cond), JoinHint.NONE)
    }
    def isIn(set: Seq[LogicalPlan])(s: LogicalPlan) = set.exists(_ eq s)
    val fullR = plan.transformUp {
      case s if isIn(scans)(s) => affJoin(s)
    }
    val baseR = ResolvePosDeltaScan(plan.transformUp {
      case s if isIn(deltaScans)(s) => affJoin(BaseScan(s))
      case s if isIn(scans)(s) => affJoin(s)
    })
    val sd = signedNet(GraftSql.ofRows(spark, fullR),
      GraftSql.ofRows(spark, baseR))
    // the splice keys the stored view by the scoping keys: each must
    // surface once, as a scan's own column (not a recomputed value)
    val keyed = keys.forall { k =>
      val outs = plan.output.filter(_.name == k)
      outs.size == 1 &&
        scans.exists(_.output.exists(_.exprId == outs.head.exprId))
    }
    if (!keyed) sd
    else {
      val touched = once(Splice.resolve(affRows))
      val restricted = (t: Splice.Touched) => GraftSql.ofRows(spark,
        plan.transformUp {
          case s if isIn(scans)(s) =>
            GraftSql.analyzed(t.keep(GraftSql.ofRows(spark, s), keys.map(col)))
        })
      SignedDelta.deferred(sd)(None,
        Some(Splicing(keys.toSet, keys.map(col), touched, restricted)))
    }
  }
}
