package graft.ivm

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Expand, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSql
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Incremental maintenance for GROUPED AGGREGATES under insert-only deltas —
  * an extension beyond the reference's rewrite envelope (which declines
  * aggregates, `src/optimizer_rules/mod.rs:187`; [[PosDeltaRule]] keeps that
  * fail-fast contract at the marker level).
  *
  * An aggregate's delta is not a row multiset (existing groups change
  * value), so `δQ == Q(full) − Q(base)` cannot hold; the correct contract is
  * a MERGEABLE PARTIAL: apply the same aggregation to the delta rows only
  * (child rewritten through the standard delta algebra), then combine into
  * the materialized aggregate group-wise:
  *
  *   SUM/COUNT → add, MIN → least, MAX → greatest
  *   (AVG is maintained as SUM+COUNT by the caller;
  *    COUNT/SUM DISTINCT → add of the new-distinct-pair partial)
  *
  * which is exactly Spark's own partial-aggregation combine semantics lifted
  * to view maintenance. `merge(Q(base), deltaPartial(Q)) ≡ Q(full)` is
  * pinned by `IvmAggSpec`, including delta-only (previously unseen) groups.
  *
  * At scale: the partial is aggregated over the (pruned, small) δ scan and
  * the merge is a key-equality outer join against the materialized view —
  * in production an upsert/MERGE INTO on the view's key (Delta Lake/Iceberg
  * sinks); here expressed as a join so the algebra is engine-checkable.
  */
object IvmAgg {

  /** Test-only conf: check [[alignByKeys]]'s one-row-per-key
    * precondition eagerly (one extra job per side per call).
    */
  private[ivm] val CheckAlignKeys = "spark.graft.test.checkAlignKeys"

  /** One mergeable output column of a grouped aggregate. */
  final case class MergeSpec(name: String, combine: (Column, Column) => Column)

  /** A delta partial plus the recipe to fold it into the materialized view. */
  final case class AggDelta(partial: DataFrame, keys: Seq[String],
      specs: Seq[MergeSpec])

  /** Decompose an Aggregate-rooted query: rewrite its child through the
    * delta algebra and re-aggregate, yielding the mergeable partial.
    *
    * `COUNT(DISTINCT x)` / `SUM(DISTINCT x)` are insert-mergeable through a
    * NEW-PAIR partial: the distinct `(keys, x)` pair set is itself a
    * delta-rewritable view (δ = distinct pairs of the pruned δ scan, set-
    * minus the base's pairs — the root-Distinct rule in [[Ivm.delta]]), and
    * the view column advances by counting/summing ONLY pairs the base never
    * had, merged by addition. `MIN/MAX(DISTINCT x)` ≡ `MIN/MAX(x)` and take
    * the plain path. At 100 TB the pair set is a materialized view of its
    * own (its δ IS this rewrite), making count-distinct maintenance two
    * chained incremental views instead of an anti-join against a full base
    * scan per cycle.
    *
    * Fails fast (like the marker rule) on non-decomposable aggregates:
    * DISTINCT avg, multi-column DISTINCT, FILTER clauses, or functions
    * outside SUM/COUNT/MIN/MAX.
    */
  def deltaPartial(df: Dataset[_]): AggDelta = {
    val spark = df.sparkSession
    GraftSql.analyzed(df) match {
      case Aggregate(groupExprs, aggExprs, child, _) =>
        // same forgot-to-register guard as Ivm.delta: this entry point
        // builds PosDelta(child) directly, so without it an all-static
        // query would yield a silently EMPTY partial — a permanently
        // stale maintained view with no error
        Ivm.requireRegisteredSource(child, "IvmAgg.deltaPartial")
        val keys = groupExprs.map {
          // a grouping ATTRIBUTE keys the merge through whichever output
          // exposes it — bare, renamed, or under injective casts. The cast
          // form is what cube/rollup/grouping-sets roots produce: the
          // analyzer's `spark_grouping_id` attribute never surfaces
          // directly, only as e.g. `grouping_id().cast("long").as("gid")`.
          case a: Attribute => aggExprs.collectFirst {
            case ne if castRefOf(ne).exists(_.exprId == a.exprId) => ne.name
          }.getOrElse(throw new UnsupportedOperationException(
            s"IvmAgg: group key '${a.name}' (or a cast of it) must appear " +
              "in the aggregate's select list to key the merge" +
              (if (a.name == "spark_grouping_id")
                " — select grouping_id() as an output column" else "")))
          case Alias(_, name) => name
          // computed group key (e.g. groupBy(md5(text).as("digest")),
          // groupBy(year(d).as("y"))): the bare expression sits in the
          // grouping list while its Alias lives in the output list — take
          // the name of the semantically matching named output
          case e => aggExprs.collectFirst {
            case Alias(child, name) if child.semanticEquals(e) => name
          }.getOrElse(throw new UnsupportedOperationException(
            s"IvmAgg: group expression $e has no named output column; " +
              "alias it in the aggregate's select list"))
        }
        // count/sum DISTINCT route through the new-pair partial; distinct
        // min/max is the same function as plain min/max (stays plain)
        val distinctTargets = aggExprs.collect {
          case a @ Alias(ae: AggregateExpression, _) if ae.isDistinct &&
              (ae.aggregateFunction match {
                case _: Count | _: Sum => true
                case _ => false
              }) => a
        }
        if (distinctTargets.nonEmpty && child.isInstanceOf[Expand])
          throw new UnsupportedOperationException(
            "IvmAgg: COUNT/SUM DISTINCT under cube/rollup/GROUPING SETS is " +
              "not insert-mergeable per grouping set (each set needs its own " +
              "distinct-pair view); maintain the finest grouping set and " +
              "derive the lattice by re-aggregation")
        val plainExprs = aggExprs.filterNot(ne => distinctTargets.exists(_ eq ne))
        val plainSpecs = plainExprs.flatMap(mergeSpecOf(_, keys.toSet))
        val specs = aggExprs.flatMap { ne =>
          if (distinctTargets.exists(_ eq ne))
            Some(MergeSpec(ne.name,
              (m, d) => when(m.isNull, d).when(d.isNull, m).otherwise(m + d)))
          else mergeSpecOf(ne, keys.toSet)
        }
        val plainPartial =
          if (plainSpecs.nonEmpty || distinctTargets.isEmpty) {
            val deltaChild = ResolvePosDeltaScan(PosDeltaRule(PosDelta(child)))
            Some(GraftSql.ofRows(spark,
              Aggregate(groupExprs, plainExprs, deltaChild)))
          } else None
        val partial = (plainPartial.toSeq ++
            distinctPartials(spark, groupExprs, keys, distinctTargets, child))
          .reduce(outerJoinOnKeys(_, _, keys))
        AggDelta(partial, keys, specs)
      case other => throw new UnsupportedOperationException(
        s"IvmAgg: root operator must be Aggregate, got ${other.nodeName}")
    }
  }

  /** The attribute a named output exposes as-is or under a chain of casts
    * (widening casts are injective over grouping values in practice —
    * `grouping_id().cast("long")` is the canonical case), or None if the
    * output is any other computation.
    */
  private def castRefOf(ne: NamedExpression): Option[Attribute] = {
    def ref(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case c: Cast => ref(c.child)
      case _ => None
    }
    ne match {
      case Alias(c, _) => ref(c)
      case a: Attribute => Some(a)
      case _ => None
    }
  }

  /** One partial per distinct-aggregated EXPRESSION (targets sharing a
    * child share one pair set): new distinct `(keys, x)` pairs beyond the
    * base — `Ivm.delta` of the Distinct-rooted pair view — counted/summed
    * per group. Null `x` pairs survive the set algebra but are ignored by
    * `count(x)`/`sum(x)`, matching SQL's null-excluding DISTINCT aggregates
    * (a brand-new group whose `x` are all NULL still surfaces, with 0).
    */
  private def distinctPartials(
      spark: org.apache.spark.sql.SparkSession,
      groupExprs: Seq[Expression], keys: Seq[String],
      targets: Seq[Alias],
      child: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[DataFrame] = {
    if (targets.isEmpty) return Seq.empty
    val pairKeys: Seq[NamedExpression] = groupExprs.zip(keys).map {
      case (a: Attribute, k) if a.name == k => a
      case (al: Alias, _) => Alias(al.child, al.name)()
      case (e, k) => Alias(e, k)()
    }
    def childOf(a: Alias): Expression =
      a.child.asInstanceOf[AggregateExpression].aggregateFunction.children match {
        case Seq(one) => one
        case _ => throw new UnsupportedOperationException(
          s"IvmAgg: multi-column DISTINCT aggregate '${a.name}' is not " +
            "insert-mergeable; combine the columns into one expression")
      }
    val grouped = targets.foldLeft(Seq.empty[(Expression, Seq[Alias])]) {
      (acc, a) =>
        val ch = childOf(a)
        if (acc.exists(_._1.semanticEquals(ch)))
          acc.map { case (e, as) =>
            if (e.semanticEquals(ch)) (e, as :+ a) else (e, as) }
        else acc :+ (ch -> Seq(a))
    }
    grouped.zipWithIndex.map { case ((dchild, as), i) =>
      val vcol = s"__dx$i"
      val newPairs = Ivm.delta(GraftSql.ofRows(spark,
        Distinct(Project(pairKeys :+ Alias(dchild, vcol)(), child))))
      val aggCols = as.map { a =>
        a.child.asInstanceOf[AggregateExpression].aggregateFunction match {
          case _: Count => count(col(vcol)).as(a.name)
          case _: Sum => sum(col(vcol)).as(a.name)
          case f => throw new IllegalStateException(s"unreachable: $f")
        }
      }
      newPairs.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    }
  }

  /** Key-aligned two-sided composition in ONE hash aggregate (optimization
    * guide §2.4 — "two operations keyed the same way can share one
    * exchange"): both inputs are aggregates grouped by `keys`, i.e. AT MOST
    * ONE row per key per side, so a full-outer join + columnwise coalesce
    * is equivalently a union + single groupBy(keys) where
    * `first(ignoreNulls)` recovers each side's value (≤ 1 non-null
    * contribution per group and side; a side's NULL value and an absent
    * side row both surface as NULL — exactly the join's behavior). The
    * join form cost TWO shuffles + sort-merge sorts per composition and
    * showed up as 2 extra sequential AQE stage jobs per merge in the
    * delta-rung profiles; this form is one exchange. Null-safe grouping ==
    * the join's `<=>` key equality (SQL GROUP BY treats NULL as a value).
    * Output: keys, then left's value columns as `__graft_l_<c>`, right's
    * as `__graft_r_<c>` — callers select their own combine expressions.
    *
    * PRECONDITION: at most one row per key per side. A side with a
    * duplicate key is silently collapsed to one of its values (which
    * one is unspecified). With the test-only conf
    * `spark.graft.test.checkAlignKeys=true` both sides are checked
    * eagerly and a duplicate fails with IllegalStateException.
    */
  private[ivm] def alignByKeys(l: DataFrame, r: DataFrame,
      keys: Seq[String]): DataFrame = {
    val lv = l.columns.filterNot(keys.contains).toSeq
    val rv = r.columns.filterNot(keys.contains).toSeq
    require(lv.nonEmpty || rv.nonEmpty, "alignByKeys: no value columns")
    if (l.sparkSession.conf.get(CheckAlignKeys, "false").toBoolean)
      for ((name, df) <- Seq("left" -> l, "right" -> r)) {
        val counts = if (keys.isEmpty) df.groupBy().count()
          else df.groupBy(keys.map(col): _*).count()
        counts.filter(col("count") > 1).limit(1).collect().foreach { row =>
          throw new IllegalStateException(
            s"alignByKeys: the $name side holds ${row.getAs[Long]("count")} " +
              s"rows for key (${keys.indices.map(row.get).mkString(", ")}); " +
              "at most one row per key per side is required")
        }
      }
    def side(df: DataFrame, own: Seq[String], ownP: String,
        other: Seq[String], otherDf: DataFrame, otherP: String) =
      df.select(keys.map(col) ++
        own.map(c => col(c).as(ownP + c)) ++
        other.map(c =>
          lit(null).cast(otherDf.schema(c).dataType).as(otherP + c)): _*)
    val u = side(l, lv, "__graft_l_", rv, r, "__graft_r_")
      .unionByName(side(r, rv, "__graft_r_", lv, l, "__graft_l_"))
    val aggCols = (lv.map("__graft_l_" + _) ++ rv.map("__graft_r_" + _))
      .map(c => first(col(c), ignoreNulls = true).as(c))
    if (keys.isEmpty) u.agg(aggCols.head, aggCols.tail: _*)
    else u.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Key-equality full-outer composition of partial frames (null-safe keys,
    * key columns coalesced) — via [[alignByKeys]]'s one-exchange form.
    * Ungrouped (global) aggregates compose as single-row frames (each
    * global aggregate yields exactly one row even on empty input, so the
    * single-row global combine equals the previous cross join).
    */
  private def outerJoinOnKeys(l: DataFrame, r: DataFrame,
      keys: Seq[String]): DataFrame =
    alignByKeys(l, r, keys).select(
      keys.map(col) ++
        l.columns.filterNot(keys.contains).map(c =>
          col(s"__graft_l_$c").as(c)) ++
        r.columns.filterNot(keys.contains).map(c =>
          col(s"__graft_r_$c").as(c)): _*)

  private def mergeSpecOf(ne: NamedExpression, keys: Set[String]): Option[MergeSpec] = {
    def combineOf(e: Expression): (Column, Column) => Column = e match {
      case ae: AggregateExpression =>
        if (ae.filter.isDefined) throw new UnsupportedOperationException(
          s"IvmAgg: FILTER clause on '${ne.name}' is not supported")
        ae.aggregateFunction match {
          case _: Sum | _: Count =>
            // distinct sum/count never reach here — deltaPartial routes
            // them through the new-pair partial before spec extraction
            if (ae.isDistinct) throw new UnsupportedOperationException(
              s"IvmAgg: DISTINCT aggregate '${ne.name}' requires the " +
                "new-pair partial (use deltaPartial)")
            (m, d) => when(m.isNull, d).when(d.isNull, m).otherwise(m + d)
          // DISTINCT is a no-op for min/max — plain combine is exact
          case _: Min => (m, d) => least(m, d)
          case _: Max => (m, d) => greatest(m, d)
          // the native vector-sum aggregate is elementwise-addition
          // mergeable by construction (exact integer-scaled components,
          // fixed dim) — merging views is a |groups|-row zip_with, so the
          // per-label centroid view maintains without re-scanning the
          // corpus (declared as `delta_centroids`)
          case _: org.apache.spark.sql.graft.VecSumScaled =>
            (m, d) => when(m.isNull, d).when(d.isNull, m)
              .otherwise(zip_with(m, d, (a, b) => a + b))
          case f => throw new UnsupportedOperationException(
            s"IvmAgg: aggregate function ${f.prettyName}" +
              (if (ae.isDistinct) " (DISTINCT)" else "") +
              s" on '${ne.name}' is not insert-mergeable; supported: sum, " +
              "count, min, max, count/sum DISTINCT (maintain avg as sum + count)")
        }
      case Alias(inner, _) => combineOf(inner)
      case other => throw new UnsupportedOperationException(
        s"IvmAgg: output '${ne.name}' mixes aggregate and scalar expressions " +
          s"($other); supported shape: plain columns and aliased aggregates")
    }
    ne match {
      case a: AttributeReference if keys.contains(a.name) => None
      // any alias named like a key is the key's output form — plain column
      // rename or a computed group expression (md5(text) AS digest)
      case Alias(_, name) if keys.contains(name) => None
      case _ => Some(MergeSpec(ne.name, combineOf(ne match {
        case Alias(inner, _) => inner
        case other => other
      })))
    }
  }

  /** Fold a delta partial into the materialized aggregate: key-aligned
    * column-wise combine. Null-safe key equality keeps NULL group values as
    * one group (SQL GROUP BY semantics). Computed through
    * [[alignByKeys]]'s union + single hash aggregate instead of a
    * full-outer join — same rows, one exchange instead of two.
    *
    * Requires AT MOST ONE ROW PER GROUP KEY in `view` (and in the
    * partial, which is grouped by construction): a view holding two rows
    * for one key is merged as if it held one of them.
    *
    * Each merged scalar column is cast to the partial's type — the
    * query's own output type. Without the cast a decimal sum would widen
    * by one digit per merge (`m + d` of two decimal(28,2) is
    * decimal(29,2)), so a stored view's schema would drift cycle by cycle
    * away from the query's, and every cycle would compile new code for
    * the merge. (The vector sum's elementwise combine keeps its array
    * type; only its element nullability differs, which a cast cannot
    * narrow.)
    */
  def merge(view: DataFrame, delta: AggDelta): DataFrame = {
    val keys = delta.keys
    val vals = delta.specs.map(_.name)
    val partial = delta.partial.select((keys ++ vals).map(col): _*)
    alignByKeys(view.select((keys ++ vals).map(col): _*), partial, keys)
      .select(keys.map(col) ++ delta.specs.map { sp =>
        val merged = sp.combine(col(s"__graft_l_${sp.name}"),
          col(s"__graft_r_${sp.name}"))
        (partial.schema(sp.name).dataType match {
          case _: ArrayType | _: MapType | _: StructType => merged
          case t => merged.cast(t)
        }).as(sp.name)
      }: _*)
  }

  /** One-shot convenience: the maintained result of an aggregate query
    * given its materialized base state — `merge(baseView, deltaPartial(q))`.
    * Same precondition as [[merge]]: at most one `baseView` row per key.
    */
  def maintain(baseView: DataFrame, q: Dataset[_]): DataFrame =
    merge(baseView, deltaPartial(q))

  // ---- AVG support: storage-form decomposition ----------------------------
  //
  // AVG is not insert-mergeable directly, but (SUM, COUNT) is. The
  // maintained VIEW therefore stores the decomposed pair ("storage form");
  // readers recompute the average on the way out ("display form"). This is
  // the same split every warehouse's incremental matview performs.

  private val SumSuffix = "__avg_sum"
  private val CntSuffix = "__avg_cnt"

  /** The query with every `avg(x) AS name` replaced by the mergeable pair
    * `sum(x) AS name__avg_sum, count(x) AS name__avg_cnt`. Materialize and
    * maintain THIS; read through [[present]].
    */
  def mergeableForm(df: Dataset[_]): DataFrame = {
    val spark = df.sparkSession
    GraftSql.analyzed(df) match {
      case Aggregate(groupExprs, aggExprs, child, hint) =>
        val decomposed = aggExprs.flatMap {
          case a @ Alias(ae: AggregateExpression, name)
              if ae.aggregateFunction.isInstanceOf[Average] =>
            if (ae.isDistinct) throw new UnsupportedOperationException(
              s"IvmAgg: DISTINCT avg '$name' is not insert-mergeable")
            val c = ae.aggregateFunction.asInstanceOf[Average].child
            Seq(
              Alias(Sum(c).toAggregateExpression(), s"$name$SumSuffix")(),
              Alias(Count(c).toAggregateExpression(), s"$name$CntSuffix")())
          case other => Seq(other)
        }
        GraftSql.ofRows(spark, Aggregate(groupExprs, decomposed, child, hint))
      case other => throw new UnsupportedOperationException(
        s"IvmAgg: root operator must be Aggregate, got ${other.nodeName}")
    }
  }

  /** Display form of a storage-form view: recompute each decomposed average
    * and drop the internal pair columns.
    */
  def present(view: DataFrame): DataFrame = {
    val cols = view.columns
    val avgNames = cols.collect {
      case c if c.endsWith(SumSuffix) => c.stripSuffix(SumSuffix)
    }.filter(n => cols.contains(s"$n$CntSuffix"))
    val out = cols.filterNot(c =>
        c.endsWith(SumSuffix) || c.endsWith(CntSuffix))
      .map(col).toSeq ++
      avgNames.map(n =>
        (col(s"$n$SumSuffix").cast("double") /
          col(s"$n$CntSuffix").cast("double")).as(n))
    view.select(out: _*)
  }
}
