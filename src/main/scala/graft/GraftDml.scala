package graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, EvalMode, Exists, Expression, InSet, InSubquery, ListQuery, Literal, OuterReference, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, Filter, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, Project, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.GraftSql

import graft.sources.{DeltaLake, GraftCatalog, GraftCatalogTable, Iceberg}

/** The eagerly-executed leaf a SQL row-level DML statement over a
  * catalog table converts into (see [[GraftDml]]): `run` drives the
  * native writer and the catalog re-pin. V1 commands execute once,
  * eagerly, at `spark.sql(...)` time — the DML statement behaves like
  * any other Spark SQL command.
  */
case class GraftDmlCommand(statement: String, body: SparkSession => Unit)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    body(spark)
    Seq.empty
  }
}

/** SQL ROW-LEVEL DML over [[graft.sources.GraftCatalog]] tables —
  * `DELETE FROM gcat.db.t WHERE …`, `UPDATE gcat.db.t SET … WHERE …`,
  * `MERGE INTO gcat.db.t USING s ON … WHEN MATCHED THEN UPDATE SET *
  * WHEN NOT MATCHED THEN INSERT *` — routed to the NATIVE DML writers
  * ([[DeltaLake.delete]]/[[DeltaLake.update]]/[[DeltaLake.merge]] and
  * their Iceberg twins, all hash-oracled since the write-path round)
  * the same way the INSERT bridge routes batch writes: the analyzer
  * intercepts the resolved logical DML node, lowers its expressions to
  * name-based Columns, and replaces the node with a
  * [[GraftDmlCommand]] that commits through the native writer and
  * MONOTONE-re-pins the catalog entry ([[GraftCatalog.advancePin]] —
  * a racing catalog commit retries the pin, never the table write).
  *
  * Scope is the native writers' scope, refused loudly beyond it:
  * subqueries in predicates lower by MATERIALIZATION
  * ([[lowerSubqueries]] — uncorrelated IN/scalar, single-equality
  * EXISTS; other correlation shapes refuse), MERGE needs at least
  * one same-name key equality in ON (extra conjuncts refine the
  * match; every clause combination — the canonical upsert,
  * conditional matched UPDATE/DELETE, explicit value lists, NOT
  * MATCHED BY SOURCE — lowers to the general-form writers), and a
  * time-traveled relation is not a write target.
  *
  * Like the INSERT bridge and [[GraftCatalog.transaction]], staging is
  * HEAD-BASED: the DML commits on the TABLE's current head and the
  * re-pin publishes it — so unpinned orphan versions (an aborted
  * transaction's staging) are ADOPTED by the next DML, the documented
  * catalog trade. Run [[GraftCatalog.vacuumOrphans]] after an abort if
  * adoption is not wanted; a head==pin gate here would instead refuse
  * legitimate concurrent statements (another statement's table write
  * lands before its re-pin).
  */
object GraftDml {

  /** The temp-view-free SQL path schemes — shared with the read-side
    * resolution ([[GraftExtensions]]).
    */
  val SqlSchemes: Map[String, String] =
    Map("graft_delta" -> "graft-deltalake",
      "graft_iceberg" -> "graft-iceberg")

  private def stripAliases(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, child) => stripAliases(child)
    case other => other
  }

  /** A PATH-identifier DML target (`DELETE FROM graft_delta.`/p``) —
    * recognized PRE-resolution (the parser's own shapes), because the
    * scheme identifier never resolves through a catalog. `alias` is
    * the statement's table alias, stripped from qualified column
    * references at lowering.
    */
  private final case class PathTarget(format: String, path: String,
      alias: Option[String])

  private def pathTargetOf(p: LogicalPlan): Option[PathTarget] =
    p match {
      case SubqueryAlias(ident, child) =>
        pathTargetOf(child).map(_.copy(alias = Some(ident.name)))
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if u.multipartIdentifier.length == 2 &&
            SqlSchemes.contains(u.multipartIdentifier.head.toLowerCase) =>
        Some(PathTarget(
          SqlSchemes(u.multipartIdentifier.head.toLowerCase),
          u.multipartIdentifier(1), None))
      case _ => None
    }

  private def targetOf(p: LogicalPlan): Option[GraftCatalogTable] =
    stripAliases(p) match {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftCatalogTable] =>
        Some(r.table.asInstanceOf[GraftCatalogTable])
      case _ => None
    }

  /** DML target relations the splice rule must leave intact: the
    * conversion below needs the V2 relation (and its catalog pin), not
    * a spliced Project over the snapshot plan. Reads elsewhere in the
    * same statement (e.g. a MERGE source) still splice normally.
    */
  def shieldedRelations(plan: LogicalPlan): Seq[LogicalPlan] =
    (plan match {
      case DeleteFromTable(t, _) => Seq(t)
      case UpdateTable(t, _, _) => Seq(t)
      case m: MergeIntoTable => Seq(m.targetTable)
      case _ => Seq.empty
    }).map(stripAliases).filter(targetOf(_).isDefined)

  /** Convert a RESOLVED root-level DML node over a catalog table into
    * its [[GraftDmlCommand]]. None = not a catalog DML statement (or
    * not yet resolved — the analyzer fixpoint will come back).
    */
  def convert(session: SparkSession,
      plan: LogicalPlan): Option[LogicalPlan] = plan match {

    case d @ DeleteFromTable(target, cond) =>
      targetOf(target).collect { case t if d.resolved =>
        val stmt = s"DELETE FROM ${t.fullName}"
        checkWritable(t, stmt)
        val pred = nameBased(session, cond, stmt)
        GraftDmlCommand(stmt, spark => commitVia(t,
          DeltaLake.delete(spark, t.entry.path, pred),
          Iceberg.delete(spark, t.entry.path, pred)))
      }.orElse(pathTargetOf(target).map { pt =>
        // path identifiers convert PRE-resolution: the parser's
        // predicate is already name-based (UnresolvedAttributes), so
        // the native writer resolves it against its own scan directly
        val stmt = s"DELETE FROM ${pt.format} `${pt.path}`"
        val pred = unresolvedColumn(session, cond, pt.alias, stmt,
          pathSchemaOf(session, pt))
        GraftDmlCommand(stmt, spark => pathVia(pt,
          DeltaLake.delete(spark, pt.path, pred),
          Iceberg.delete(spark, pt.path, pred)))
      })

    case u @ UpdateTable(target, assignments, condOpt) =>
      targetOf(target).collect { case t if u.resolved =>
        val stmt = s"UPDATE ${t.fullName}"
        checkWritable(t, stmt)
        val tAttrIds = stripAliases(target).outputSet.map(_.exprId).toSet
        def canon(raw: String): String = stripAliases(target).output
          .find(_.name.equalsIgnoreCase(raw)).map(_.name).getOrElse(raw)
        // identity assignments (a column set to itself — alignment
        // fill-ins) are no-ops, dropped rather than rewritten;
        // NESTED struct-member targets (`SET s.a = …`) lower to a
        // whole-column rebuild via [[foldNestedSets]]
        val set: Seq[(String, Seq[String], Column)] =
          assignments.flatMap { a =>
            val (name, path) = keyPathOf(a.key, canon, stmt)
            (path, stripCasts(a.value)) match {
              case (Seq(), ar: AttributeReference)
                  if tAttrIds.contains(ar.exprId) &&
                    ar.name.equalsIgnoreCase(name) =>
                None
              case _ =>
                Some((name, path, nameBased(session, a.value, stmt)))
            }
          }
        val pred = condOpt.map(nameBased(session, _, stmt)).getOrElse(lit(true))
        // an ALL-IDENTITY statement (`SET a = a`) still REWRITES the
        // matched rows in Spark/Delta semantics — history and CDF
        // observers see the commit — so route ONE identity assignment
        // through the native writer instead of silently no-opping
        // (r13 advice). The identity drop above only exists to peel
        // the analyzer's alignment fill-ins off real SET lists.
        val tTypeOf: String => Option[org.apache.spark.sql.types
          .DataType] = n => stripAliases(target).output
          .find(_.name.equalsIgnoreCase(n)).map(_.dataType)
        val effective: Map[String, Column] =
          if (set.nonEmpty) foldNestedSets(set, stmt, tTypeOf)
          else identitySetOf(assignments, stmt, canon)
        GraftDmlCommand(stmt, spark => commitVia(t,
          DeltaLake.update(spark, t.entry.path, pred, effective),
          Iceberg.update(spark, t.entry.path, pred, effective)))
      }.orElse(pathTargetOf(target).map { pt =>
        val stmt = s"UPDATE ${pt.format} `${pt.path}`"
        val ptSchema = pathSchemaOf(session, pt)
        val set: Seq[(String, Seq[String], Column)] =
          assignments.flatMap { a =>
            val parts = a.key match {
              case ua: UnresolvedAttribute =>
                dealias(ua, pt.alias).nameParts
              case other => refuse(s"$stmt: SET target must be a " +
                s"column or struct member, got '${other.sql}'")
            }
            val (name, path) = (parts.head, parts.tail)
            a.value match {
              // identity `SET a = a` — CASE-INSENSITIVE like the
              // resolved catalog arm (Spark SQL resolution is);
              // top-level only (a nested member set to itself still
              // rebuilds the struct — a legal no-op rewrite)
              case ua: UnresolvedAttribute
                  if path.isEmpty &&
                    (dealias(ua, pt.alias).nameParts match {
                      case Seq(one) => one.equalsIgnoreCase(name)
                      case _ => false
                    }) =>
                None
              case v => Some((name, path,
                unresolvedColumn(session, v, pt.alias, stmt, ptSchema)))
            }
          }
        val pred = condOpt.map(
          unresolvedColumn(session, _, pt.alias, stmt, ptSchema))
          .getOrElse(lit(true))
        // all-identity: same rewrite semantics as the catalog arm
        val ptTypeOf: String => Option[org.apache.spark.sql.types
          .DataType] = n => ptSchema().fields
          .find(_.name.equalsIgnoreCase(n)).map(_.dataType)
        val effective: Map[String, Column] =
          if (set.nonEmpty) foldNestedSets(set, stmt, ptTypeOf)
          else identitySetOf(assignments, stmt)
        GraftDmlCommand(stmt, spark => pathVia(pt,
          DeltaLake.update(spark, pt.path, pred, effective),
          Iceberg.update(spark, pt.path, pred, effective)))
      })

    case m: MergeIntoTable =>
      // WITH SCHEMA EVOLUTION and a source struct WIDER than the
      // target's: Spark's own star alignment inserts a NARROWING
      // struct cast (source struct → pre-evolution target struct)
      // that can never type-check, so `m.resolved` stays false and
      // validation would fail the statement before this bridge runs.
      // Accept the node when everything EXCEPT those casts is
      // resolved — the lowering reads assignment values through
      // [[stripCasts]] anyway (the star detection and the full-row
      // forms never execute the narrowing cast).
      // (an explicit list cannot NAME a not-yet-added column: Spark's
      // ResolveReferences.checkResolvedMergeExpr throws
      // UNRESOLVED_COLUMN during its own fixpoint, before any
      // extension rule can see the node — so the supported explicit
      // shape references existing columns and lets the evolved ones
      // land NULL)
      def evolutionReady: Boolean = m.withSchemaEvolution &&
        m.targetTable.resolved && m.sourceTable.resolved &&
        m.mergeCondition.resolved &&
        (m.matchedActions ++ m.notMatchedActions ++
          m.notMatchedBySourceActions).forall {
          case ua: UpdateAction =>
            ua.condition.forall(_.resolved) && ua.assignments.forall(
              a => a.key.resolved && stripCasts(a.value).resolved)
          case ia: InsertAction =>
            ia.condition.forall(_.resolved) && ia.assignments.forall(
              a => a.key.resolved && stripCasts(a.value).resolved)
          case da: DeleteAction => da.condition.forall(_.resolved)
          case ua: UpdateStarAction => ua.condition.forall(_.resolved)
          case ia: InsertStarAction => ia.condition.forall(_.resolved)
          case _ => false
        }
      targetOf(m.targetTable).collect {
        case t if m.resolved || evolutionReady =>
        val stmt = s"MERGE INTO ${t.fullName}"
        checkWritable(t, stmt)
        // WITH SCHEMA EVOLUTION: source-only columns ADD to the table
        // (nullable, in their own evolution commit ahead of the
        // merge — [[DeltaLake.addColumns]]/[[Iceberg.addFields]], the
        // CDC shape where the feed gains a column). Same-name type
        // conflicts refuse (widening is an explicit ALTER, never a
        // merge side effect), and with columns actually added the
        // clause set must be STAR-SHAPED — an explicit assignment
        // list was resolved against the pre-evolution schema and
        // would silently drop the new columns it cannot name.
        // evolution units are (parent path, field): an empty path is a
        // new TOP-LEVEL column; a non-empty one a new STRUCT MEMBER
        // (the source struct gained a field — sound only when the
        // source carries the target's members as a positional PREFIX,
        // because the writers align structs positionally; diverging
        // layouts refuse with the reorder hint)
        def nestedAdds(path: Seq[String],
            ti: org.apache.spark.sql.types.StructType,
            si: org.apache.spark.sql.types.StructType)
            : Seq[(Seq[String], org.apache.spark.sql.types.StructField)] = {
          refuseIf(si.length < ti.length ||
              !ti.fields.zip(si.fields).forall { case (a, b) =>
                a.name.equalsIgnoreCase(b.name) },
            s"$stmt: WITH SCHEMA EVOLUTION: struct " +
              s"'${path.mkString(".")}' — the source's member layout " +
              s"(${si.fieldNames.mkString(", ")}) does not start with " +
              s"the target's (${ti.fieldNames.mkString(", ")}); the " +
              "writers align structs positionally, so new members " +
              "must APPEND — reorder the source struct")
          val deeper = ti.fields.zip(si.fields).flatMap {
            case (a, b) => (a.dataType, b.dataType) match {
              case (x: org.apache.spark.sql.types.StructType,
                  y: org.apache.spark.sql.types.StructType) =>
                nestedAdds(path :+ a.name, x, y)
              case (x, y) =>
                refuseIf(x.catalogString != y.catalogString,
                  s"$stmt: WITH SCHEMA EVOLUTION: member " +
                    s"'${(path :+ a.name).mkString(".")}' is " +
                    s"${x.simpleString} in the target but " +
                    s"${y.simpleString} in the source — types never " +
                    "evolve through a merge; widen explicitly, then " +
                    "merge")
                Seq.empty
            }
          }.toSeq
          deeper ++ si.fields.drop(ti.length).map(nf =>
            (path, org.apache.spark.sql.types.StructField(
              nf.name, nf.dataType, nullable = true)))
        }
        val evolveCols
            : Seq[(Seq[String], org.apache.spark.sql.types.StructField)] =
          if (!m.withSchemaEvolution) Seq.empty
          else {
            val tFields = stripAliases(m.targetTable).output
            m.sourceTable.output.flatMap { sa =>
              tFields.find(_.name.equalsIgnoreCase(sa.name)) match {
                case Some(ta) =>
                  (ta.dataType, sa.dataType) match {
                    case (ti: org.apache.spark.sql.types.StructType,
                        si: org.apache.spark.sql.types.StructType) =>
                      nestedAdds(Seq(ta.name), ti, si)
                    case (x, y) =>
                      refuseIf(x.catalogString != y.catalogString,
                        s"$stmt: WITH SCHEMA EVOLUTION: column " +
                          s"'${sa.name}' is ${x.simpleString} " +
                          s"in the target but ${y.simpleString} " +
                          "in the source — types never evolve " +
                          "through a merge; widen explicitly (ALTER " +
                          "TABLE … ALTER COLUMN … TYPE), then merge")
                      None
                  }
                case None => Some((Seq.empty[String],
                  org.apache.spark.sql.types.StructField(
                    sa.name, sa.dataType, nullable = true)))
              }
            }.toSeq
          }
        val tOut = stripAliases(m.targetTable).outputSet
        val sOut = m.sourceTable.outputSet
        // ON = same-name key equalities (file locality) + optional
        // EXTRA conjuncts refining the match (lowered per the matched
        // scope; the writers treat key-equal-but-extra-failed pairs
        // as NOT matched on both sides)
        val (keyConjuncts, extraConjuncts) =
          splitConjuncts(m.mergeCondition).partitionMap {
            case EqualTo(a: AttributeReference, b: AttributeReference)
                if tOut.contains(a) && sOut.contains(b) &&
                  a.name.equalsIgnoreCase(b.name) => Left(a.name)
            case EqualTo(b: AttributeReference, a: AttributeReference)
                if tOut.contains(a) && sOut.contains(b) &&
                  a.name.equalsIgnoreCase(b.name) => Left(a.name)
            case other => Right(other)
          }
        val keys = keyConjuncts
        // pure theta ON: refused by default (no file locality), but a
        // session can opt into the documented full-table fallback
        val thetaOk = keys.isEmpty && session.conf
          .get("spark.graft.merge.allowThetaFullScan", "false")
          .toBoolean
        refuseIf(keys.isEmpty && !thetaOk,
          s"$stmt: ON must contain at least one same-name " +
            "target/source key equality — a pure theta-ON has no " +
            "file locality to exploit (set spark.graft.merge." +
            "allowThetaFullScan=true to accept a full-table rewrite)")
        refuseIf(thetaOk && extraConjuncts.isEmpty,
          s"$stmt: empty ON")
        val targetCols = stripAliases(m.targetTable).output.map(_.name)
        // explicit assignment lists resolve against the
        // POST-EVOLUTION schema (r16 verdict #3): a list may name the
        // new top-level columns (unresolved keys, resolved here by
        // name), and new columns it does NOT name land NULL on
        // inserts / keep their (NULL) value on updates — the CDC user
        // who writes explicit assignments. NESTED evolution (a struct
        // gaining a member) still requires star-shaped clauses: an
        // explicit struct assignment carries the pre-evolution layout
        // and would have to be rebuilt member-wise to be sound.
        val topEvolve = evolveCols.filter(_._1.isEmpty)
        val nestedEvolve = evolveCols.filterNot(_._1.isEmpty)
        val starOnly =
          m.matchedActions.forall {
            case _: UpdateStarAction => true
            case ua: UpdateAction =>
              isAllColumnCopy(ua.assignments, targetCols, sOut)
            case _: DeleteAction => true
            case _ => false
          } && m.notMatchedActions.forall {
            case _: InsertStarAction => true
            case ia: InsertAction =>
              isAllColumnCopy(ia.assignments, targetCols, sOut)
            case _ => false
          }
        refuseIf(nestedEvolve.nonEmpty && !starOnly,
          s"$stmt: WITH SCHEMA EVOLUTION adds nested member(s) " +
            s"${nestedEvolve.map { case (p, f) =>
              (p :+ f.name).mkString(".") }.mkString(", ")} but the " +
            "statement carries explicit assignment lists — a struct " +
            "assignment carries the pre-evolution layout; use " +
            "UPDATE SET * / INSERT *, or ALTER the table first")
        // the evolution commit itself, run ahead of the merge in the
        // same statement (its own retry — a lost race replays against
        // fresh state; the concurrent winner adding the same column
        // surfaces loudly as 'already exists')
        def evolveFirst(spark: SparkSession): Unit =
          if (evolveCols.nonEmpty) GraftCatalog.retryOnCatalogRace {
            val v = t.entry.format match {
              case "graft-deltalake" =>
                DeltaLake.addFields(spark, t.entry.path, evolveCols)
              case "graft-iceberg" =>
                Iceberg.addFields(spark, t.entry.path, evolveCols)
              case other => unknownFormat(other, t)
            }
            if (v >= 0L) {
              GraftCatalog.advancePin(t.warehouse, t.key, v); ()
            }
          }
        val source = m.sourceTable
        // conditions/assignments lowered per scope — matched clauses see
        // target columns by name and source columns as MergeActions.src;
        // insert clauses see only the source; by-source clauses see only
        // the target
        def lowerMixed(e: Expression): Column =
          lowered(session, e, stmt) {
            case a if tOut.contains(a) =>
              UnresolvedAttribute(Seq(a.name))
            case a if sOut.contains(a) =>
              UnresolvedAttribute(
                Seq(graft.sources.MergeActions.SrcPrefix + a.name))
          }
        def lowerSource(e: Expression): Column =
          lowered(session, e, stmt) {
            case a if sOut.contains(a) =>
              UnresolvedAttribute(Seq(a.name))
          }
        def lowerTarget(e: Expression): Column =
          lowered(session, e, stmt) {
            case a if tOut.contains(a) =>
              UnresolvedAttribute(Seq(a.name))
          }
        // nested struct-member targets fold into whole-column rebuilds
        // exactly like UPDATE ([[foldNestedSets]]); the withField base
        // resolves against the clause's TARGET row
        val mTypeOf: String => Option[org.apache.spark.sql.types
          .DataType] = n => stripAliases(m.targetTable).output
          .find(_.name.equalsIgnoreCase(n)).map(_.dataType)
        def setOf(assigns: Seq[Assignment],
            lower: Expression => Column): Map[String, Column] =
          foldNestedSets(assigns.map { a =>
            val (name, path) = keyPathOf(a.key,
              raw => targetCols.find(_.equalsIgnoreCase(raw))
                .getOrElse(raw), stmt)
            (name, path, lower(a.value))
          }, stmt, mTypeOf)
        // an explicit INSERT list under evolution: new columns it does
        // not name land a typed NULL (the writers commit full rows;
        // pre-evolution alignment cannot have filled them)
        def fillEvolved(set: Map[String, Column]): Map[String, Column] =
          set ++ topEvolve.collect {
            case (_, f) if !set.keys.exists(_.equalsIgnoreCase(f.name)) =>
              f.name -> lit(null).cast(f.dataType)
          }
        import graft.sources.MergeActions._
        // an ALL-COLUMN COPY (what the analyzer expands `SET *` /
        // `INSERT *` to) lowers to the star action: it copies the
        // columns an evolution adds, keeps keys, partition and identity
        // columns, and lets generated columns recompute; any other list
        // resolves against the post-evolution schema and assigns
        // exactly what it names
        val matchedActs: Seq[Matched] = m.matchedActions.map {
          case ua: UpdateAction =>
            MatchedUpdate(ua.condition.map(lowerMixed),
              if (isAllColumnCopy(ua.assignments, targetCols, sOut)) None
              else Some(setOf(ua.assignments, lowerMixed)))
          case ua: UpdateStarAction =>
            MatchedUpdate(ua.condition.map(lowerMixed), None)
          case da: DeleteAction =>
            MatchedDelete(da.condition.map(lowerMixed))
          case other => refuse(s"$stmt: unsupported WHEN MATCHED " +
            s"action '$other'")
        }
        val insertActs: Seq[NotMatchedInsert] =
          m.notMatchedActions.map {
            case ia: InsertAction =>
              NotMatchedInsert(ia.condition.map(lowerSource),
                if (isAllColumnCopy(ia.assignments, targetCols, sOut)) None
                else Some(fillEvolved(setOf(ia.assignments, lowerSource))))
            case ia: InsertStarAction =>
              NotMatchedInsert(ia.condition.map(lowerSource), None)
            case other => refuse(s"$stmt: unsupported WHEN NOT " +
              s"MATCHED action '$other'")
          }
        val bySourceActs: Seq[BySource] =
          m.notMatchedBySourceActions.map {
            case ua: UpdateAction =>
              BySourceUpdate(ua.condition.map(lowerTarget),
                setOf(ua.assignments, lowerTarget))
            case da: DeleteAction =>
              BySourceDelete(da.condition.map(lowerTarget))
            case other => refuse(s"$stmt: unsupported WHEN NOT " +
              s"MATCHED BY SOURCE action '$other'")
          }
        val extra: Option[Column] =
          if (extraConjuncts.isEmpty) None
          else Some(extraConjuncts.map(lowerMixed).reduce(_ && _))
        GraftDmlCommand(stmt, spark => {
          evolveFirst(spark)
          val src = GraftSql.ofRows(spark, source)
          commitVia(t,
            DeltaLake.mergeGeneral(spark, t.entry.path, src, keys,
              matchedActs, insertActs, bySourceActs, extra,
              thetaFullScan = thetaOk),
            Iceberg.mergeGeneral(spark, t.entry.path, src, keys,
              matchedActs, insertActs, bySourceActs, extra,
              thetaFullScan = thetaOk))
        })
      }.orElse(pathTargetOf(m.targetTable).map { pt =>
        val stmt = s"MERGE INTO ${pt.format} `${pt.path}`"
        refuseIf(m.withSchemaEvolution, s"$stmt: WITH SCHEMA " +
          "EVOLUTION is not supported")
        refuseIf(m.notMatchedBySourceActions.nonEmpty, s"$stmt: WHEN " +
          "NOT MATCHED BY SOURCE is not supported")
        // pre-resolution only the STAR actions are verifiable: the
        // canonical upsert, which the formats' `merge` runs
        m.matchedActions match {
          case Seq(ua: UpdateStarAction) if ua.condition.isEmpty => ()
          case _ => refuse(s"$stmt: path-identifier MERGE takes " +
            "exactly one unconditional WHEN MATCHED THEN UPDATE SET " +
            "* — explicit assignment lists go through a registered " +
            "catalog table or the library API")
        }
        val insertNotMatched = m.notMatchedActions match {
          case Seq() => false
          case Seq(ia: InsertStarAction) if ia.condition.isEmpty => true
          case _ => refuse(s"$stmt: WHEN NOT MATCHED must be a " +
            "single unconditional INSERT * (or absent)")
        }
        val keys = splitConjuncts(m.mergeCondition).map {
          case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute)
              if l.nameParts.last.equalsIgnoreCase(r.nameParts.last) =>
            // pre-resolution we can't BIND sides, but qualifiers are
            // checkable: both sides under ONE qualifier (`t.id = t.id`
            // — a typo for `t.id = s.id`) is a self-comparison, and
            // with the target aliased, a qualified pair must put the
            // alias on exactly one side — silently accepting either
            // would run a different merge than the user wrote
            val lq = l.nameParts.dropRight(1)
            val rq = r.nameParts.dropRight(1)
            refuseIf(lq.nonEmpty && lq.map(_.toLowerCase) ==
              rq.map(_.toLowerCase),
              s"$stmt: ON compares '${l.nameParts.mkString(".")}' " +
                "with itself — the equality must pair a target and a " +
                "source column")
            pt.alias.foreach { a =>
              if (lq.nonEmpty && rq.nonEmpty) {
                val lIsTarget = lq.head.equalsIgnoreCase(a)
                val rIsTarget = rq.head.equalsIgnoreCase(a)
                refuseIf(lIsTarget == rIsTarget,
                  s"$stmt: ON must pair the target alias '$a' with " +
                    s"the source on each equality, got '${EqualTo(l, r)
                      .sql}'")
              }
            }
            l.nameParts.last
          case other => refuse(s"$stmt: ON must be a conjunction of " +
            s"same-name column equalities, got '${other.sql}'")
        }
        val source = m.sourceTable
        GraftDmlCommand(stmt, spark => {
          val src = GraftSql.ofRows(spark, source)
          pathVia(pt,
            DeltaLake.merge(spark, pt.path, src, keys,
              insertNotMatched),
            Iceberg.merge(spark, pt.path, src, keys, insertNotMatched))
        })
      })

    case _ => None
  }

  /** Does this assignment list expand to `SET * / INSERT *` (every
    * target column copied from its same-name source column)?
    */
  private def isAllColumnCopy(assigns: Seq[Assignment],
      targetCols: Seq[String],
      sOut: org.apache.spark.sql.catalyst.expressions.AttributeSet)
      : Boolean = {
    val copies = assigns.map { a =>
      (a.key, stripCasts(a.value)) match {
        case (k: AttributeReference, v: AttributeReference)
            if sOut.contains(v) && v.name.equalsIgnoreCase(k.name) =>
          Some(k.name.toLowerCase)
        case _ => None
      }
    }
    copies.forall(_.isDefined) && {
      val covered = copies.flatten.toSet
      targetCols.forall(c => covered.contains(c.toLowerCase))
    }
  }

  /** SUBQUERIES IN DML PREDICATES, lowered by MATERIALIZATION: the
    * native writers take a plain Column predicate (that is what the
    * stats-pruned hit-file discovery evaluates per file), so a
    * subquery's result set is executed ONCE here and baked in:
    *  - uncorrelated `x IN (SELECT …)` → an [[InSet]] over the
    *    collected distinct values (internal representation — the set
    *    rides the task closure as a hash set, never a literal tree);
    *    `NOT IN` keeps SQL null semantics (InSet three-valued logic).
    *    Members are COERCED to the outer side's type the way SQL
    *    coerces both sides of IN (see `memberCoercer`); on fully
    *    analyzer-coerced trees the sides already agree and the
    *    mismatch arms are a safety net (they matter for the
    *    decorrelated EXISTS/IN pairs, whose sides the analyzer never
    *    coerced against each other).
    *  - correlated `x IN (SELECT y FROM s WHERE s.k = t.k [AND
    *    uncorrelated…])` → the distinct (k, y) pairs materialize and
    *    the predicate becomes a [[graft.functions.PairInSet]] keyed
    *    membership (per-row hash lookup, three-valued IN within the
    *    key's group, empty-group → false so NOT IN keeps its rows).
    *  - `EXISTS (SELECT … WHERE inner = outer [AND residual])` with
    *    single-equality correlation decorrelates to the IN form
    *    (`outer IN (SELECT inner FROM … WHERE residual)`); residual
    *    conjuncts must be uncorrelated. NOT EXISTS rides the same
    *    rewrite under its Not.
    *  - uncorrelated scalar subqueries evaluate to a literal
    *    (0 rows → NULL, >1 row refuses — the SQL runtime error).
    * The distinct-value cap (`spark.graft.dml.subqueryLimit`,
    * default 100k) bounds what lands on the driver and in the task
    * closure; a bigger key set is a join-shaped rewrite the library
    * API expresses directly. Everything else (multi-equality or
    * non-equality correlation, correlated scalars) refuses loudly
    * with the shape named.
    */
  private def lowerSubqueries(session: SparkSession, e: Expression,
      stmt: String): Expression = {
    // every tree reaching this point is RESOLVED (the catalog arm by
    // the statement's own analysis, the path arm via
    // [[resolveAgainstTarget]]), so the outer side's type is always
    // available for member coercion
    val outerTypeOf: Expression => Option[DataType] =
      x => if (x.resolved) Some(x.dataType) else None
    def isCorrelated(p: LogicalPlan): Boolean =
      p.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[OuterReference])))
    def subqueryCap: Int = session.conf
      .get("spark.graft.dml.subqueryLimit", "100000").toInt
    def materializeRows(p: LogicalPlan, what: String, cols: Int)
        : (Seq[Row], Seq[DataType]) = {
      val df = GraftSql.ofRows(session, p)
      refuseIf(df.schema.length != cols,
        s"$stmt: $what subquery must produce exactly $cols column(s), " +
          s"got ${df.schema.fieldNames.mkString(", ")}")
      val cap = subqueryCap
      val rows = df.distinct().limit(cap + 1).collect()
      refuseIf(rows.length > cap,
        s"$stmt: $what subquery produced more than $cap distinct " +
          "values (spark.graft.dml.subqueryLimit) — a key set this " +
          "large is a join-shaped rewrite; use the library API")
      (rows.toSeq, df.schema.map(_.dataType))
    }
    def materialize(p: LogicalPlan,
        what: String): (Seq[Any], DataType) = {
      val (rows, dts) = materializeRows(p, what, 1)
      (rows.map(_.get(0)), dts.head)
    }
    // member value `v : dt` → catalyst value in `target`, evaluated
    // through the analyzer's own Cast (session eval mode: ANSI errors
    // on an uncastable member exactly where SQL would; legacy yields
    // the null SQL would, which InSet's three-valued logic honors)
    def castMember(v: Any, dt: DataType, target: DataType,
        tryMode: Boolean): Any = {
      val l = Literal.create(v, dt)
      if (tryMode) Cast(l, target, None, EvalMode.TRY).eval(null)
      else Cast(l, target).eval(null)
    }
    // is `Cast(column : from, to)` injective (every column value has a
    // distinct image)? Then `cast(col) IN S  ⟺  col IN narrow(S)`
    // where narrow keeps exactly the members that round-trip.
    def injectiveWidening(from: DataType, to: DataType): Boolean = {
      def intDigits(d: DataType): Int = d match {
        case ByteType => 3; case ShortType => 5
        case IntegerType => 10; case LongType => 19; case _ => 0
      }
      (from, to) match {
        case (ByteType | ShortType | IntegerType | LongType,
              ByteType | ShortType | IntegerType | LongType) => true
        case (FloatType, DoubleType) => true
        case (ByteType | ShortType | IntegerType, DoubleType) => true
        case (ByteType | ShortType, FloatType) => true
        case (f: DecimalType, t: DecimalType) =>
          t.scale >= f.scale &&
            t.precision - t.scale >= f.precision - f.scale
        case (i @ (ByteType | ShortType | IntegerType | LongType),
              t: DecimalType) =>
          t.precision - t.scale >= intDigits(i)
        case _ => false
      }
    }
    // the member set for `outer IN members(dt)`, COERCED the way SQL
    // coerces both sides of IN to a common wider type (r16 advice: a
    // type-mismatched pair — bigint column IN (SELECT int_col …) —
    // compares different runtime classes inside the hash set and is
    // silently false). Members land in the OUTER side's type so the
    // InSet keeps its bare-attribute shape (stats-skip file pruning
    // lowers `InSet(attr, …)` only): outer already the wider type →
    // members cast up (SQL's own coercion, evaluated here); outer
    // widens injectively into the common type → members narrow with a
    // round-trip proof or provably match no row and drop — sound for
    // IN and, with InSet's null handling, NOT IN; anything else (a
    // non-injective column coercion: bigint vs double, string vs
    // numeric) refuses rather than silently change semantics.
    def memberCoercer(outerType: Option[DataType], dt: DataType,
        what: String): Any => Option[Any] = outerType match {
      case Some(ot) if !GraftSql.sameType(ot, dt) =>
        val wider = GraftSql.widerTypeForTwo(ot, dt).getOrElse(refuse(
          s"$stmt: $what subquery column type ${dt.sql} is not " +
            s"comparable with the ${ot.sql} target column — cast " +
            "explicitly in the subquery"))
        if (GraftSql.sameType(wider, ot))
          v => Some(castMember(v, dt, ot, tryMode = false))
        else if (injectiveWidening(ot, wider)) {
          val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToCatalystConverter(dt)
          v =>
            // a NULL member keeps its three-valued weight (x NOT IN
            // (…, null) is never true); only non-null unrepresentable
            // members drop (they provably equal no column value)
            if (v == null) Some(null)
            else {
              val narrowed = castMember(v, dt, ot, tryMode = true)
              if (narrowed == null) None
              else {
                val back = Cast(Literal(narrowed, ot), dt, None,
                  EvalMode.TRY).eval(null)
                if (java.util.Objects.equals(back, conv(v)))
                  Some(narrowed)
                else None
              }
            }
        } else refuse(
          s"$stmt: $what subquery type ${dt.sql} vs target column " +
            s"type ${ot.sql} would coerce the COLUMN to ${wider.sql} " +
            "(not provably row-exact here) — cast inside the subquery")
      case _ =>
        val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(dt)
        v => Some(conv(v))
    }
    def coercedSet(outerType: Option[DataType], vals: Seq[Any],
        dt: DataType, what: String): Set[Any] =
      vals.flatMap(memberCoercer(outerType, dt, what)).toSet
    def inSet(value: Expression, plan: LogicalPlan,
        what: String): Expression = {
      val (vals, dt) = materialize(plan, what)
      InSet(value, coercedSet(outerTypeOf(value), vals, dt, what))
    }
    def splitAnd(x: Expression): Seq[Expression] = x match {
      case And(l, r) => splitAnd(l) ++ splitAnd(r)
      case other => Seq(other)
    }
    def hasOuter(x: Expression): Boolean =
      x.exists(_.isInstanceOf[OuterReference])
    // EXISTS plan → (outer value, inner plan producing the matched
    // column) for the single-correlated-equality shape; None = not
    // that shape (refused by the caller with the honest message)
    def decorrelate(p: LogicalPlan)
        : Option[(Expression, LogicalPlan)] = p match {
      case Project(_, child) => decorrelate(child)
      case Filter(cond, child) =>
        val (corr, residual) = splitAnd(cond).partition(hasOuter)
        if (residual.exists(hasOuter)) None
        else corr match {
          case Seq(EqualTo(inner, OuterReference(outer)))
              if !hasOuter(inner) =>
            Some((outer,
              Project(Seq(org.apache.spark.sql.catalyst.expressions
                .Alias(inner, "__gd_in")()),
                residual.reduceOption(And)
                  .map(Filter(_, child)).getOrElse(child))))
          case Seq(EqualTo(OuterReference(outer), inner))
              if !hasOuter(inner) =>
            Some((outer,
              Project(Seq(org.apache.spark.sql.catalyst.expressions
                .Alias(inner, "__gd_in")()),
                residual.reduceOption(And)
                  .map(Filter(_, child)).getOrElse(child))))
          case _ => None
        }
      case _ => None
    }
    // correlated `x IN (SELECT y FROM s WHERE s.k = t.k [AND
    // uncorrelated…])` — the same single-equality envelope as the
    // EXISTS arm, but the subquery's own select item rides ALONGSIDE
    // the correlation key: materialize the distinct (k, y) pairs and
    // test (t.k, x) against the per-key sets ([[PairInSet]], hash
    // lookup per row, SQL's three-valued IN per key group). Returns
    // (outer key, plan projecting [key, value]).
    def decorrelateIn(p: LogicalPlan)
        : Option[(Expression, LogicalPlan)] = p match {
      case Project(sel, Filter(cond, child))
          if sel.length == 1 && !hasOuter(sel.head) =>
        val (corr, residual) = splitAnd(cond).partition(hasOuter)
        if (residual.exists(hasOuter)) None
        else {
          val eq = corr match {
            case Seq(EqualTo(inner, OuterReference(outer)))
                if !hasOuter(inner) => Some((outer, inner))
            case Seq(EqualTo(OuterReference(outer), inner))
                if !hasOuter(inner) => Some((outer, inner))
            case _ => None
          }
          eq.map { case (outer, inner) =>
            val base = residual.reduceOption(And)
              .map(Filter(_, child)).getOrElse(child)
            (outer, Project(Seq(
              org.apache.spark.sql.catalyst.expressions
                .Alias(inner, "__gd_in_k")(),
              org.apache.spark.sql.catalyst.expressions
                .Alias(sel.head, "__gd_in_v")()), base))
          }
        }
      case _ => None
    }
    e.transformUp {
      case in @ InSubquery(values, lq: ListQuery) =>
        refuseIf(values.length != 1,
          s"$stmt: multi-column IN subqueries are not supported — " +
            "pair the columns explicitly or use the library API")
        if (!isCorrelated(lq.plan)) inSet(values.head, lq.plan, "IN")
        else decorrelateIn(lq.plan) match {
          case Some((outerKey, pairPlan)) =>
            val (rows, dts) = materializeRows(pairPlan, "IN", 2)
            val ck = memberCoercer(outerTypeOf(outerKey), dts.head,
              "IN-correlation-key")
            val cv = memberCoercer(outerTypeOf(values.head), dts(1),
              "IN")
            // an inner NULL key never satisfies the equality (its
            // rows join no outer row); a dropped unrepresentable key
            // provably equals no outer key — both rows vanish
            val grouped: Map[Any, Seq[Any]] = rows
              .filter(_.get(0) != null)
              .flatMap(r => ck(r.get(0)).map(k => (k, r.get(1))))
              .groupBy(_._1)
              .map { case (k, ps) => k -> ps.flatMap(p => cv(p._2)) }
            val sets: Map[Any, (Set[Any], Boolean)] =
              grouped.map { case (k, xs) =>
                k -> ((xs.filter(_ != null).toSet, xs.contains(null)))
              }
            graft.functions.PairInSet(outerKey, values.head, sets)
          case None => refuse(
            s"$stmt: IN-subquery correlation beyond one equality is " +
              "not supported — rewrite with a single `inner = outer` " +
              s"conjunct or use the library API (${in.sql})")
        }
      case ex: Exists if !isCorrelated(ex.plan) =>
        // uncorrelated EXISTS: a constant — true iff any row exists
        val df = GraftSql.ofRows(session, ex.plan)
        org.apache.spark.sql.catalyst.expressions.Literal(
          !df.isEmpty, org.apache.spark.sql.types.BooleanType)
      case ex: Exists =>
        decorrelate(ex.plan) match {
          case Some((outer, innerPlan)) =>
            refuseIf(isCorrelated(innerPlan),
              s"$stmt: EXISTS correlation beyond one equality is " +
                "not supported — use the library API")
            inSet(outer, innerPlan, "EXISTS")
          case None => refuse(
            s"$stmt: only EXISTS subqueries correlated by a single " +
              "equality (EXISTS (SELECT … WHERE s.k = t.k [AND " +
              "uncorrelated…])) are supported — use the library API")
        }
      case sc: ScalarSubquery =>
        refuseIf(isCorrelated(sc.plan),
          s"$stmt: correlated scalar subqueries are not supported — " +
            "use the library API")
        val df = GraftSql.ofRows(session, sc.plan)
        refuseIf(df.schema.length != 1,
          s"$stmt: scalar subquery must produce exactly one column")
        val rows = df.limit(2).collect()
        refuseIf(rows.length > 1,
          s"$stmt: scalar subquery returned more than one row")
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          rows.headOption.map(_.get(0)).orNull, df.schema.head.dataType)
    }
  }

  /** Lower a clause expression to a name-based Column under the
    * clause's SCOPE: `bind` maps in-scope attributes to their
    * name-based form; anything else (an attribute from the other
    * side, in a clause where that side has no row) refuses loudly.
    */
  private def lowered(session: SparkSession, e: Expression,
      stmt: String)(
      bind: PartialFunction[AttributeReference, UnresolvedAttribute])
      : Column = {
    val e2 = lowerSubqueries(session, e, stmt)
    refuseIf(e2.exists(_.isInstanceOf[SubqueryExpression]),
      s"$stmt: unsupported subquery shape in a DML " +
        "predicate/value — materialize it and use the library API")
    GraftSql.column(e2.transform {
      case a: AttributeReference =>
        bind.applyOrElse(a, (x: AttributeReference) => refuse(
          s"$stmt: column '${x.name}' is not in scope for this " +
            "clause (matched clauses see target+source, NOT MATCHED " +
            "sees only the source, NOT MATCHED BY SOURCE only the " +
            "target)"))
    })
  }

  /** A resolved SET target as (top-level column, nested member path):
    * `s` → ("s", Nil); `s.a.b` → ("s", ["a","b"]). `canon` maps the
    * top name to the TABLE's case (SQL resolves case-insensitively,
    * the writers do not).
    */
  private def keyPathOf(e: Expression, canon: String => String,
      stmt: String): (String, Seq[String]) = e match {
    case ar: AttributeReference => (canon(ar.name), Seq.empty)
    case gsf: org.apache.spark.sql.catalyst.expressions.GetStructField =>
      val (top, p) = keyPathOf(gsf.child, canon, stmt)
      (top, p :+ gsf.name.getOrElse(gsf.extractFieldName))
    // `SET m.k = v` on a MAP column resolves to GetMapValue — the key
    // becomes a path segment and [[rebuildStep]] turns it into a
    // whole-map key upsert (the segment re-casts to the key type)
    case gmv: org.apache.spark.sql.catalyst.expressions.GetMapValue
        if gmv.key.foldable =>
      val (top, p) = keyPathOf(gmv.child, canon, stmt)
      val k = gmv.key.eval(null) match {
        case null => refuse(s"$stmt: NULL map key in SET target")
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case other => String.valueOf(other)
      }
      (top, p :+ k)
    case other => refuse(s"$stmt: SET target must be a column, " +
      s"struct member, or map key, got '${other.sql}' — array " +
      "elements have no SQL-nameable ordinal in UPDATE")
  }

  /** Fold a SET list that may contain NESTED struct-member targets
    * into the writers' top-level (column -> value) form: each nested
    * member lowers to `Column.withField` over the target's CURRENT
    * struct (one rebuild per top-level column, members chained), so
    * `SET s.a = x, s.b = y` rewrites `s` with both members replaced
    * and every other member untouched. A whole-column assignment and
    * a nested one on the same column conflict (the order would be
    * ambiguous) and refuse; so do duplicate whole-column targets.
    */
  private def foldNestedSets(set: Seq[(String, Seq[String], Column)],
      stmt: String,
      typeOf: String => Option[DataType] = _ => None)
      : Map[String, Column] =
    // CASE-INSENSITIVE grouping (SQL resolution is): `SET S.a, s.b`
    // is one column's rebuild, not two conflicting top-level targets
    set.groupBy(_._1.toLowerCase).map { case (_, group) =>
      val top = group.head._1
      val (whole, nested) = group.partition(_._2.isEmpty)
      refuseIf(whole.nonEmpty && nested.nonEmpty,
        s"$stmt: conflicting assignments to '$top' — both the whole " +
          "column and a nested member are SET targets")
      refuseIf(whole.size > 1,
        s"$stmt: duplicate SET target '$top'")
      // duplicate or OVERLAPPING nested targets (one path a prefix of
      // another) would make the chained rebuild order-dependent —
      // exactly the ambiguity SQL refuses for repeated assignments
      val paths = nested.map(_._2.map(_.toLowerCase))
      paths.indices.foreach { i =>
        ((i + 1) until paths.size).foreach { jj =>
          val (a, b) = (paths(i), paths(jj))
          refuseIf(a.startsWith(b) || b.startsWith(a),
            s"$stmt: conflicting SET targets '$top." +
              s"${nested(i)._2.mkString(".")}' and '$top." +
              s"${nested(jj)._2.mkString(".")}' — one contains the " +
              "other, so the result would depend on assignment order")
        }
      }
      def pathHitsMap(dt: DataType, path: Seq[String]): Boolean =
        (dt, path) match {
          case (_, Seq()) => false
          case (s: StructType, h +: t) =>
            s.fields.find(_.name.equalsIgnoreCase(h))
              .exists(f => pathHitsMap(f.dataType, t))
          case (_: org.apache.spark.sql.types.MapType, _) => true
          case _ => false
        }
      if (whole.nonEmpty) top -> whole.head._3
      else typeOf(top) match {
        // a MAP on some path: the schema-aware rebuild (struct steps
        // via withField, a FINAL map-key step as a key upsert)
        case Some(dt) if nested.exists(n => pathHitsMap(dt, n._2)) =>
          top -> nested.foldLeft(
            org.apache.spark.sql.functions.col(top)) {
            case (acc, (_, path, v)) =>
              rebuildStep(acc, dt, path, v, stmt, top)
          }
        // pure struct paths: the original dotted withField (Spark
        // resolves nested names case-insensitively at writer analysis)
        case _ => top -> nested.foldLeft(
          org.apache.spark.sql.functions.col(top)) {
          case (acc, (_, path, v)) =>
            acc.withField(path.map(p => s"`$p`").mkString("."), v)
        }
      }
    }

  /** One step of the schema-aware nested-SET rebuild: struct members
    * rebuild via `withField`; a MAP column consumes the next path
    * segment as a KEY and rebuilds the whole map with that key upserted
    * (`SET m.k = v` — SQL names a map entry through the same dotted
    * syntax as a struct member; the segment casts to the map's key
    * type, and a segment that cannot represent a key refuses). Deeper
    * paths under a map value refuse (which ENTRY's struct to rebuild is
    * only knowable per row — expressible, but a different operation);
    * so do paths through arrays (Spark's UPDATE grammar cannot name an
    * ordinal — `SET arr[1]` does not parse — so there is nothing
    * positional to support).
    */
  private def rebuildStep(base: Column, dt: DataType,
      path: Seq[String], v: Column, stmt: String,
      where: String): Column = {
    import org.apache.spark.sql.functions.{lit, map_concat, map_filter}
    (path, dt) match {
      case (Seq(), _) => v
      case (head +: tail, s: StructType) =>
        val f = s.fields.find(_.name.equalsIgnoreCase(head)).getOrElse(
          refuse(s"$stmt: no member '$head' in struct '$where' " +
            s"(${s.fieldNames.mkString(", ")})"))
        base.withField(s"`${f.name}`",
          rebuildStep(base.getField(f.name), f.dataType, tail, v,
            stmt, s"$where.$head"))
      case (head +: tail, m: org.apache.spark.sql.types.MapType) =>
        refuseIf(tail.nonEmpty,
          s"$stmt: SET target '$where.$head.${tail.mkString(".")}' " +
            "reaches THROUGH a map value — which entry's member to " +
            "rebuild is per-row; assign the entry as a whole " +
            s"('$where.$head = named_struct(…)') instead")
        val keyVal = Cast(Literal(head), m.keyType, None,
          EvalMode.TRY).eval(null)
        refuseIf(keyVal == null,
          s"$stmt: map key '$head' does not parse as the key type " +
            s"${m.keyType.sql} of '$where'")
        val k = lit(head).cast(m.keyType)
        // key upsert: drop the key if present, then concat the new
        // entry — absent keys INSERT (map entries have no existence
        // contract a strict-update could check per row cheaply)
        map_concat(
          map_filter(base, (mk, _) => mk =!= k),
          org.apache.spark.sql.functions.map(
            k, v.cast(m.valueType)))
      case (head +: _, other) =>
        refuse(s"$stmt: cannot SET member '$head' of '$where' " +
          s"(${other.simpleString}) — only struct members and map " +
          "keys are assignable; array elements have no SQL-nameable " +
          "ordinal in UPDATE")
    }
  }

  /** One identity assignment (`a -> col(a)`) from the statement's own
    * SET list — the native-writer payload for an ALL-IDENTITY UPDATE
    * (Spark/Delta semantics: matched rows rewrite, history and CDF
    * observers see the commit). Uses the FIRST assignment's target
    * column, so `SET p = p` on a partition column refuses exactly
    * like any other SET on it.
    */
  private def identitySetOf(assigns: Seq[Assignment], stmt: String,
      canon: String => String = identity): Map[String, Column] = {
    val raw = assigns.head.key match {
      case ar: AttributeReference => ar.name
      case ua: UnresolvedAttribute => ua.nameParts.last
      case other => refuse(s"$stmt: SET target must be a top-level " +
        s"column, got '${other.sql}'")
    }
    // the statement's case may differ from the table's (SQL is
    // case-insensitive; the writers are not) — canonicalize
    val name = canon(raw)
    Map(name -> org.apache.spark.sql.functions.col(name))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** A resolved DML expression lowered to a NAME-BASED Column the
    * native writers re-resolve against their own scan (attribute ids
    * from the statement's relation don't exist there). Subqueries
    * materialize first ([[lowerSubqueries]]).
    */
  private def nameBased(session: SparkSession, e: Expression,
      stmt: String): Column = {
    val e2 = lowerSubqueries(session, e, stmt)
    refuseIf(e2.exists(_.isInstanceOf[SubqueryExpression]),
      s"$stmt: unsupported subquery shape in a DML " +
        "predicate/value — materialize it and use the library API")
    GraftSql.column(e2.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
  }

  private def stripCasts(e: Expression): Expression = e match {
    case c: Cast => stripCasts(c.child)
    case other => other
  }

  /** The path target's STORED schema, lazily (forced only when a
    * subquery-bearing expression actually needs resolution).
    */
  private def pathSchemaOf(session: SparkSession,
      pt: PathTarget): () => StructType = {
    lazy val s = pt.format match {
      case "graft-deltalake" => DeltaLake.snapshot(session, pt.path).schema
      case _ => Iceberg.snapshot(session, pt.path).schema
    }
    () => s
  }

  /** Strip the statement's table alias off a qualified column
    * reference (`t.id` → `id`) so it resolves against the native scan.
    */
  private def dealias(ua: UnresolvedAttribute,
      alias: Option[String]): UnresolvedAttribute = alias match {
    case Some(a) if ua.nameParts.length > 1 &&
        ua.nameParts.head.equalsIgnoreCase(a) =>
      UnresolvedAttribute(ua.nameParts.tail)
    case _ => ua
  }

  /** A PRE-resolution DML expression as a Column — the parser's shape
    * is already name-based; only alias qualifiers need stripping.
    *
    * Expressions CONTAINING a subquery first resolve against a
    * LocalRelation of the target's STORED schema (wrapped in the
    * statement's alias), so correlation gets its OuterReference
    * marking exactly like a catalog-resolved statement — correlated
    * EXISTS / IN and typed member coercion then ride the SAME
    * [[lowerSubqueries]] the catalog arm uses (r16 verdict #5: the
    * EXISTS refusal here was an inconsistent surface). Subquery-free
    * expressions keep the direct pre-resolution path (no behavior
    * change; the writers resolve names against their own scan).
    */
  private def unresolvedColumn(session: SparkSession, e: Expression,
      alias: Option[String], stmt: String,
      targetSchema: () => StructType): Column = {
    // (Exists, ListQuery-under-InSubquery, and ScalarSubquery are all
    // SubqueryExpressions — one walk covers every parsed shape)
    if (!e.exists(_.isInstanceOf[SubqueryExpression]))
      return GraftSql.column(e.transform {
        case ua: UnresolvedAttribute => dealias(ua, alias)
      })
    val resolved = resolveAgainstTarget(session, e, alias,
      targetSchema(), stmt)
    val e2 = lowerSubqueries(session, resolved, stmt)
    refuseIf(e2.exists(_.isInstanceOf[SubqueryExpression]),
      s"$stmt: unsupported subquery shape in a DML " +
        "predicate/value — materialize it and use the library API")
    GraftSql.column(e2.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
  }

  /** Resolve a parsed DML expression against the TARGET's stored
    * schema via a throwaway `Filter`/`Project` over a LocalRelation
    * (aliased like the statement), using the session's own analyzer —
    * types, coercions, and subquery OuterReference marking all land
    * exactly as they would on a catalog-resolved statement. Boolean
    * shapes ride Filter; value shapes (SET right-hand sides) ride a
    * Project alias.
    */
  private def resolveAgainstTarget(session: SparkSession,
      e: Expression, alias: Option[String], schema: StructType,
      stmt: String): Expression = {
    val rel: LogicalPlan =
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        schema.map(f => org.apache.spark.sql.catalyst.expressions
          .AttributeReference(f.name, f.dataType, nullable = true)()))
    val base = alias.map(a => SubqueryAlias(a, rel)).getOrElse(rel)
    val probe = Project(Seq(org.apache.spark.sql.catalyst.expressions
      .Alias(e, "__gd_cond")()), base)
    val analyzed = try GraftSql.analyze(session, probe)
    catch { case ex: org.apache.spark.sql.AnalysisException =>
      refuse(s"$stmt: ${ex.getMessage}")
    }
    analyzed match {
      case Project(Seq(a: org.apache.spark.sql.catalyst.expressions
          .Alias), _) => a.child
      case other => refuse(s"$stmt: unexpected analyzed shape " +
        s"${other.getClass.getSimpleName} for '${e.sql}'")
    }
  }

  /** Path-identifier dispatch: the native commit (statement-retried
    * like the catalog route), no pin to advance.
    */
  private def pathVia(pt: PathTarget, delta: => Long,
      iceberg: => Long): Unit = {
    withStatementRetry {
      pt.format match {
        case "graft-deltalake" => delta
        case "graft-iceberg" => iceberg
        case other => throw new IllegalArgumentException(
          s"graft DML: unknown format '$other' for ${pt.path}")
      }
    }
    ()
  }

  private def checkWritable(t: GraftCatalogTable, stmt: String): Unit =
    refuseIf(t.timeTravel, s"$stmt: cannot run DML against a " +
      "time-traveled relation — DML targets the table, not a " +
      "historical pin")

  /** STATEMENT-LEVEL RETRY for a lost table-version race: the native
    * writers pin their commit to the state they replayed and fail
    * LOUDLY when a concurrent commit wins the version (the library
    * contract — a programmatic caller must know its exact predicate
    * ran against exactly that state). A SQL statement's contract is
    * weaker and retryable: re-running the WHOLE native DML against the
    * fresh state is statement-level serialization (the second DELETE
    * applies to the table the first one left), which is what every SQL
    * engine gives concurrent DML. Bounded — pathological contention
    * still surfaces. One policy, shared with the catalog's DDL/
    * TRUNCATE paths ([[GraftCatalog.retryOnCatalogRace]]).
    */
  private def withStatementRetry[T](body: => T): T =
    GraftCatalog.retryOnCatalogRace(body)

  /** Dispatch ONE DML commit to the target's native writer (by-name
    * args — only the matching format's writer runs, re-evaluated per
    * retry), then advance the catalog pin to the produced table
    * version; a no-op DML (predicate matched nothing → no table
    * commit, version -1) leaves the pin untouched.
    */
  private def commitVia(t: GraftCatalogTable, delta: => Long,
      iceberg: => Long): Unit = {
    val v = withStatementRetry {
      t.entry.format match {
        case "graft-deltalake" => delta
        case "graft-iceberg" => iceberg
        case other => unknownFormat(other, t)
      }
    }
    if (v >= 0L) {
      GraftCatalog.advancePin(t.warehouse, t.key, v)
      ()
    }
  }

  private def unknownFormat(fmt: String, t: GraftCatalogTable): Nothing =
    throw new IllegalArgumentException(
      s"graft catalog: unknown format '$fmt' for ${t.fullName}")

  private def refuse(msg: String): Nothing =
    throw new UnsupportedOperationException(msg)

  private def refuseIf(cond: Boolean, msg: String): Unit =
    if (cond) refuse(msg)
}
