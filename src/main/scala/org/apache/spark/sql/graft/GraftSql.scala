package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{classic, DataFrame, Dataset, SparkSession}

/** Bridge into `private[sql]` Spark internals the public API doesn't expose:
  * building a DataFrame from a hand-constructed Catalyst [[LogicalPlan]] and
  * reading a Dataset's analyzed plan. Lives under `org.apache.spark.sql` so
  * the `private[sql]` members resolve (standard public-code idiom for
  * Catalyst extension libraries).
  */
object GraftSql {

  /** Wrap a (possibly partially unresolved) logical plan as a DataFrame.
    * The session's analyzer re-runs on the plan, so unresolved attributes /
    * type coercions introduced by plan surgery are resolved here.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed (resolved, pre-optimization) plan of a Dataset. */
  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** The optimized plan (post-Catalyst-optimizer) — used in plan assertions. */
  def optimized(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan

  /** The SQL common comparison type for two sides of an (IN-)equality,
    * per the session's coercion mode — what the analyzer itself would
    * widen both sides to. None = not comparable without an explicit
    * cast. (Bridged here because the coercion objects are
    * `private[sql]`-adjacent internals.)
    */
  def widerTypeForTwo(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] =
    if (org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
      org.apache.spark.sql.catalyst.analysis.AnsiTypeCoercion
        .findWiderTypeForTwo(a, b)
    else org.apache.spark.sql.catalyst.analysis.TypeCoercion
      .findWiderTypeForTwo(a, b)

  /** Nullability-ignoring type equality (`DataType.sameType` is
    * `private[spark]`).
    */
  def sameType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = a.sameType(b)

  /** Run the session's analyzer on a hand-built plan WITHOUT executing
    * it — the path-identifier DML bridge resolves a parsed condition
    * against a LocalRelation of the target's stored schema this way,
    * so subquery correlation gets its OuterReference marking exactly
    * like a catalog-resolved statement. (`sessionState` is
    * `private[sql]`.)
    */
  def analyze(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    spark.sessionState.analyzer.execute(plan)

  /** Synchronously drop a checkpointed frame's cached blocks (guide §5 —
    * unpersist when done). A localCheckpoint frame's blocks are otherwise
    * reclaimed only when the ContextCleaner notices the RDD is
    * garbage-collected, so an iterative loop that supersedes a pinned
    * frame per round accumulates dead blocks between GCs — measured as
    * multi-second warm-pass variance on the CC-loop queries. ONLY safe on
    * frames that are never read again: a truncated checkpoint RDD cannot
    * recompute evicted blocks.
    */
  def unpinNow(df: DataFrame): Unit = analyzed(df) match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      lr.rdd.unpersist(blocking = false); ()
    case _ => ()
  }

  /** Re-home a checkpoint-produced [[LogicalRDD]]'s constraints onto its
    * own output attributes.
    *
    * `Dataset.localCheckpoint` carries the origin plan's constraints into
    * the resulting leaf, but the constraint ATTRIBUTE OBJECTS can differ
    * from the leaf's output attributes in qualifier even when the ExprIds
    * match (they were rewritten from the optimized plan). That breaks
    * `LogicalRDD.newInstance`, whose rewrite map is keyed by full
    * attribute equality: un-rewritten constraint attrs survive re-minting
    * with STALE ExprIds, and the first Union over the re-minted leaf
    * throws `key not found` from its constraint rewrite (observed on the
    * grouped-top-k rung). Rewriting every constraint attr to the output
    * attr with the same ExprId — and dropping constraints referencing
    * foreign ExprIds outright — restores the invariant every other node
    * maintains: constraints ⊆ functions of output.
    */
  def normalizeRddConstraints(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, ExpressionSet}
    import org.apache.spark.sql.execution.LogicalRDD
    analyzed(df) match {
      case lr: LogicalRDD if lr.constraints.nonEmpty =>
        val byId = lr.output.map(a => a.exprId -> a).toMap
        val sane = lr.constraints.toSeq
          .map(_.transform { case a: Attribute => byId.getOrElse(a.exprId, a) })
          .filter(_.references.forall(r => byId.contains(r.exprId)))
        val rebuilt = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(
          df.sparkSession.asInstanceOf[classic.SparkSession],
          Some(lr.computeStats()), Some(ExpressionSet(sane)))
        ofRows(df.sparkSession, rebuilt)
      case _ => df
    }
  }

  /** An EMPTY DataFrame flagged `isStreaming` — the V1 streaming
    * `getBatch` contract requires a streaming frame even for a window
    * that contains no data files (e.g. a compaction-only window served
    * as a content no-op).
    */
  def emptyStreaming(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      cs.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
      schema, isStreaming = true)
  }

  /** Re-plan a V1 `Sink.addBatch` micro-batch frame as a PLAIN batch
    * DataFrame over the batch's already-planned physical RDD — the
    * FileStreamSink idiom: `addBatch`'s frame is backed by the
    * micro-batch's IncrementalExecution, and handing it to a fresh
    * writer would re-plan (and with some sources re-read) the batch;
    * wrapping `queryExecution.toRdd` executes the batch exactly once.
    */
  def batchify(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    // toRdd rows are VOLATILE (a columnar scan hands out mutable views
    // into reused vector batches) — the re-wrapped plan buffers across
    // operator boundaries the original plan didn't have, so each row
    // must be pinned by copy before it crosses into the new pipeline
    cs.internalCreateDataFrame(
      df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd
        .map(_.copy()), df.schema)
  }

  /** Wrap a (resolved) Catalyst expression as a user-facing Column. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a user-facing Column (possibly
    * unresolved — the analyzer resolves it when the plan is analyzed).
    */
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** A Column predicate lowered to a small public comparison tree — the
    * shape file-stats skipping evaluates against per-file min/max
    * (`graft.sources.DeltaLake`). Spark 4 Columns carry a `ColumnNode`
    * AST (`private[sql]`, hence this bridge living here): comparison
    * operators surface as `UnresolvedFunction("=", ">=", ...)` over
    * attribute/literal nodes. Anything outside the supported shapes maps
    * to [[PredUnknown]] — the caller must treat that as "may match".
    */
  sealed trait PredNode
  final case class PredCmp(name: String, value: Any, op: String)
      extends PredNode // op ∈ {EQ,GT,GE,LT,LE}, column on the LEFT
  final case class PredAnd(l: PredNode, r: PredNode) extends PredNode
  final case class PredOr(l: PredNode, r: PredNode) extends PredNode

  /** `column IN (values)` with the NULL members dropped (a null never
    * equals anything, so it can never make a row match — and with the
    * nulls gone, an EMPTY set proves no row matches). `sorted` is the
    * value vector under the external value class's natural order
    * (None when the class has no defined order here): the stats check
    * binary-searches it for a member inside a file's [min,max]
    * instead of scanning — a 100k-key DELETE … IN (SELECT …) over a
    * 10k-file estate is O(files · log keys) driver work, not
    * O(files · keys).
    */
  final case class PredInSet(name: String, values: Vector[Any])
      extends PredNode {
    // a MIXED-TYPE member list (the path-arm DML trees are uncoerced:
    // `IN (6, 3.0)` carries Integer and BigDecimal) must degrade to
    // None (linear check with per-pair keep-on-incomparable), never
    // throw out of the head-class parse
    lazy val sorted: Option[Vector[Any]] = try sortedByClass
    catch { case _: NumberFormatException => None }
    private def sortedByClass: Option[Vector[Any]] =
      values.headOption.flatMap {
      case _: Long | _: Int | _: Short | _: Byte | _: java.lang.Long |
          _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte =>
        Some(values.sortBy(_.toString.toLong))
      case _: Double | _: Float | _: java.lang.Double |
          _: java.lang.Float =>
        Some(values.sortBy(_.toString.toDouble))
      case _: String =>
        Some(values.sortWith((a, b) =>
          compareCodePoints(a.toString, b.toString) < 0))
      case _: java.math.BigDecimal | _: BigDecimal =>
        Some(values.sortWith((a, b) =>
          new java.math.BigDecimal(a.toString)
            .compareTo(new java.math.BigDecimal(b.toString)) < 0))
      case _: java.sql.Date | _: java.time.LocalDate =>
        // ISO renderings compare as code points at fixed width; the
        // stats check guards the 10-char shape itself
        Some(values.sortWith((a, b) =>
          compareCodePoints(a.toString, b.toString) < 0))
      case _ => None
    }
  }
  case object PredUnknown extends PredNode

  /** Code-point (UTF-8 byte order) comparison — Spark's string order.
    * Shared with `graft.sources.StatsSkip` (the sort above must agree
    * with the check's comparator or the binary search lies).
    */
  def compareCodePoints(x: String, y: String): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(i)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx)
    }
    Integer.compare(x.length, y.length)
  }

  /** The same lowering for a RESOLVED Catalyst expression — the shape a
    * `FileIndex.listFiles` receives as pushed data filters. Literal
    * values are converted to their external Scala forms so the caller's
    * comparison logic sees the same value space as the Column path
    * (UTF8String → String, Decimal → java BigDecimal).
    */
  def predicateTreeOf(
      e: org.apache.spark.sql.catalyst.expressions.Expression): PredNode = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions._
    def lit(l: Literal): Any =
      CatalystTypeConverters.convertToScala(l.value, l.dataType)
    // the analyzer wraps cross-type comparison LITERALS in Casts
    // (`id = 3` on a bigint column) and constant folding only runs in
    // the optimizer — fold them here or every such predicate degrades
    // to PredUnknown and loses stats skipping. Casts around ATTRIBUTES
    // are left alone (a value compared in the cast's domain is not the
    // column's min/max domain — PredUnknown is the safe answer there).
    def fold(x: Expression): Expression = x match {
      case c: Cast if c.foldable =>
        Literal(c.eval(null), c.dataType)
      case other => other
    }
    e match {
      case And(l, r) => PredAnd(predicateTreeOf(l), predicateTreeOf(r))
      case Or(l, r) => PredOr(predicateTreeOf(l), predicateTreeOf(r))
      case cmp: BinaryComparison
          if cmp.children.exists(c =>
            c.isInstanceOf[Cast] && c.foldable) =>
        predicateTreeOf(cmp.withNewChildren(cmp.children.map(fold)))
      case EqualTo(a: Attribute, l: Literal) => PredCmp(a.name, lit(l), "EQ")
      case EqualTo(l: Literal, a: Attribute) => PredCmp(a.name, lit(l), "EQ")
      case GreaterThan(a: Attribute, l: Literal) =>
        PredCmp(a.name, lit(l), "GT")
      case GreaterThan(l: Literal, a: Attribute) =>
        PredCmp(a.name, lit(l), "LT")
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        PredCmp(a.name, lit(l), "GE")
      case GreaterThanOrEqual(l: Literal, a: Attribute) =>
        PredCmp(a.name, lit(l), "LE")
      case LessThan(a: Attribute, l: Literal) => PredCmp(a.name, lit(l), "LT")
      case LessThan(l: Literal, a: Attribute) => PredCmp(a.name, lit(l), "GT")
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        PredCmp(a.name, lit(l), "LE")
      case LessThanOrEqual(l: Literal, a: Attribute) =>
        PredCmp(a.name, lit(l), "GE")
      // the materialized-subquery DML shape (`k IN (SELECT …)` baked
      // into an InSet) and plain literal IN lists — stats-prunable:
      // a file may match only if a member lies inside its [min,max].
      // The DML bridge's trees carry UNRESOLVED attributes (no
      // dataType to convert by), so internal values convert by their
      // own class — UTF8String/Decimal externalize, primitives pass;
      // anything ambiguous (date days-ints, timestamp micros) stays
      // internal and the stats comparator degrades to keep-the-file
      // (None), never a wrong proof.
      case InSet(a: Attribute, hset) =>
        val vals =
          if (a.resolved) hset.iterator
            .map(CatalystTypeConverters.convertToScala(_, a.dataType))
          else hset.iterator.map {
            case u: org.apache.spark.unsafe.types.UTF8String => u.toString
            case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
            case other => other
          }
        PredInSet(a.name, vals.filter(_ != null).toVector)
      case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        PredInSet(a.name, list.iterator
          .map(x => lit(x.asInstanceOf[Literal]))
          .filter(_ != null).toVector)
      case _ => PredUnknown
    }
  }

  def predicateTree(c: org.apache.spark.sql.Column): PredNode = {
    import org.apache.spark.sql.internal.{Literal => NodeLit, UnresolvedAttribute => NodeAttr, UnresolvedFunction => NodeFn}
    val ops = Map("=" -> "EQ", "==" -> "EQ", ">" -> "GT", ">=" -> "GE",
      "<" -> "LT", "<=" -> "LE")
    val flip = Map("EQ" -> "EQ", "GT" -> "LT", "GE" -> "LE",
      "LT" -> "GT", "LE" -> "GE")
    def walk(n: org.apache.spark.sql.internal.ColumnNode): PredNode =
      n match {
        // a Column minted from a resolved Catalyst expression (the SQL
        // DML bridge's predicates) — lower the expression tree instead
        case classic.ExpressionColumnNode(e, _) => predicateTreeOf(e)
        case NodeFn("and", Seq(l, r), _, _, _, _) =>
          PredAnd(walk(l), walk(r))
        case NodeFn("or", Seq(l, r), _, _, _, _) =>
          PredOr(walk(l), walk(r))
        case NodeFn(fn, Seq(NodeAttr(parts, _, _, _), NodeLit(v, _, _)),
            _, _, _, _) if ops.contains(fn) =>
          PredCmp(parts.mkString("."), v, ops(fn))
        case NodeFn(fn, Seq(NodeLit(v, _, _), NodeAttr(parts, _, _, _)),
            _, _, _, _) if ops.contains(fn) =>
          PredCmp(parts.mkString("."), v, flip(ops(fn)))
        case _ => PredUnknown
      }
    walk(c.node)
  }
}
