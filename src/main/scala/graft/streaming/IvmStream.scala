package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ivm.{Ivm, Snapshots}

/** Incremental view maintenance over an append-only stream: the runtime
  * loop the reference's plan rewrite exists for, driven by Structured
  * Streaming micro-batches.
  *
  * Model (SURVEY.md §7.4): the base table only ever receives appends, with a
  * monotonically increasing id column; "delta since snapshot k" is the range
  * predicate `id > k` — exactly the registered-predicate contract
  * [[DeltaSources]] resolves [[graft.ivm.PosDeltaScan]] against, and the
  * form that parquet min/max stats prune at scale.
  *
  * Per micro-batch: advance the snapshot point, re-register the delta
  * predicate, run the SAME batch delta rewrite (`Ivm.delta`) over the
  * query, and append δQ to the materialized-view sink (a parquet table —
  * no driver-side collect anywhere). Because the rewrite's identity is
  * `δQ == Q(full) − Q(base)` (DeltaIdentitySpec), the accumulated sink
  * always equals a full recompute — pinned by `IncrementalViewSpec`.
  *
  * The query must be inside the delta envelope (Project/Filter/inner-cross
  * Join/Union — no aggregates), mirroring the reference's rewrite coverage.
  */
/** Anything foldable one full-table snapshot at a time. */
trait MaintainedView {
  def update(fullTable: DataFrame): Unit
}

final class IncrementalView(
    spark: SparkSession,
    table: String,
    idCol: String,
    query: DataFrame => DataFrame,
    sinkPath: String) extends MaintainedView {

  private var highMark: Option[Long] = None
  // snapshot registry + temp-view entries are per-INSTANCE, so two views
  // maintained over the same logical table never clobber each other's
  // high-water predicates (the registered name is what the rewrite resolves)
  private val scopedName = s"${table}__mv${IvmStream.nextViewId()}"
  Snapshots.track(scopedName, idCol)

  /** Fold the current full table state (previous rows + newly appended
    * rows); every row with `idCol` past the snapshot watermark is the
    * delta. δQ for the batch is appended to the sink, executor-side.
    */
  def update(fullTable: DataFrame): Unit = {
    val row = fullTable.agg(max(col(idCol))).head()
    val newHigh = if (row.isNullAt(0)) None else Some(row.getLong(0))
    newHigh.filter(h => highMark.forall(h > _)).foreach { h =>
      fullTable.createOrReplaceTempView(scopedName)
      Ivm.delta(query(spark.table(scopedName)))
        .write.mode("append").parquet(sinkPath)
      Snapshots.advanceTo(scopedName, h)
      highMark = Some(h)
    }
  }

  /** The maintained view: the sink table all δQ batches were appended to. */
  def result: DataFrame = {
    require(highMark.nonEmpty,
      s"IncrementalView($table): result read before the first update()")
    spark.read.parquet(sinkPath)
  }
}

/** Incremental maintenance of a GROUPED AGGREGATE over an append-only
  * stream, via [[graft.ivm.IvmAgg]]: per micro-batch, aggregate the delta
  * rows into a mergeable partial and fold it into the materialized view.
  *
  * The view is kept in alternating parquet generations (merge is an
  * update-in-place, not an append — production sinks use an upsert/MERGE
  * INTO on the group key; dual generations express the same thing on plain
  * parquet without read-overwrite conflicts).
  */
final class IncrementalAggView(
    spark: SparkSession,
    table: String,
    idCol: String,
    query: DataFrame => DataFrame,
    sinkPath: String) extends MaintainedView {

  private var highMark: Option[Long] = None
  private var gen: Int = -1
  private val scopedName = s"${table}__mv${IvmStream.nextViewId()}"
  Snapshots.track(scopedName, idCol)

  def update(fullTable: DataFrame): Unit = {
    val row = fullTable.agg(max(col(idCol))).head()
    val newHigh = if (row.isNullAt(0)) None else Some(row.getLong(0))
    newHigh.filter(h => highMark.forall(h > _)).foreach { h =>
      fullTable.createOrReplaceTempView(scopedName)
      val delta = graft.ivm.IvmAgg.deltaPartial(query(spark.table(scopedName)))
      val next =
        if (gen < 0) delta.partial
        else graft.ivm.IvmAgg.merge(spark.read.parquet(s"$sinkPath/g$gen"), delta)
      next.write.mode("overwrite").parquet(s"$sinkPath/g${(gen + 1) % 2}")
      gen = (gen + 1) % 2
      Snapshots.advanceTo(scopedName, h)
      highMark = Some(h)
    }
  }

  /** The maintained aggregate (current generation). */
  def result: DataFrame = {
    require(gen >= 0,
      s"IncrementalAggView($table): result read before the first update()")
    spark.read.parquet(s"$sinkPath/g$gen")
  }
}

/** Incremental maintenance of a LEFT OUTER / LEFT ANTI join view over TWO
  * append-only tables, via the signed delta ([[Ivm.deltaLeftJoin]] /
  * [[Ivm.deltaAntiJoin]]) — whose change includes RETRACTS: the
  * null-extended (outer) or no-match (anti) rows that new right-side rows
  * invalidate, which a pure append model cannot express. Per cycle the
  * delta's `applyTo` splices on the join key: the previous generation
  * minus the rows of every key a δ row carries, plus those keys' rows
  * recomputed — `view' = view ▷ touched ∪all (L ⋉ touched) ⋈ (R ⋉ touched)`
  * (without a plain equi-key it nets the view with the weighted change
  * instead). Alternating parquet generations like [[IncrementalAggView]];
  * production sinks apply it as a delete + insert on the touched keys.
  * `cond` must reference columns by name and the two sides' column names
  * must be disjoint (the [[Ivm.SignedDelta]] contract).
  */
final class IncrementalSignedView(
    spark: SparkSession,
    leftTable: String, leftId: String,
    rightTable: String, rightId: String,
    joinType: String,
    cond: org.apache.spark.sql.Column,
    sinkPath: String) {

  require(joinType == "left" || joinType == "left_anti",
    s"signed view supports left / left_anti, got $joinType")

  private var gen: Int = -1
  private val scopedL = s"${leftTable}__sv${IvmStream.nextViewId()}"
  private val scopedR = s"${rightTable}__sv${IvmStream.nextViewId()}"
  Snapshots.track(scopedL, leftId)
  Snapshots.track(scopedR, rightId)

  /** One maintenance cycle over the current full state of both tables:
    * everything past each side's watermark is its delta; the signed pair
    * is applied to the previous generation and both watermarks advance.
    */
  def update(leftFull: DataFrame, rightFull: DataFrame): Unit = {
    leftFull.createOrReplaceTempView(scopedL)
    rightFull.createOrReplaceTempView(scopedR)
    val l = spark.table(scopedL)
    val r = spark.table(scopedR)
    val sd =
      if (joinType == "left") Ivm.deltaLeftJoin(l, r, cond)
      else Ivm.deltaAntiJoin(l, r, cond)
    val prev =
      if (gen < 0) sd.inserts.limit(0)
      else spark.read.parquet(s"$sinkPath/g$gen")
    sd.applyTo(prev)
      .write.mode("overwrite").parquet(s"$sinkPath/g${(gen + 1) % 2}")
    gen = (gen + 1) % 2
    Snapshots.advance(scopedL, l)
    Snapshots.advance(scopedR, r)
  }

  /** The maintained join view (current generation). */
  def result: DataFrame = {
    require(gen >= 0,
      s"IncrementalSignedView($leftTable/$rightTable): result read before " +
        "the first update()")
    spark.read.parquet(s"$sinkPath/g$gen")
  }
}

/** A windowed/sessionized view maintained across append cycles by
  * KEY-SCOPED recompute ([[Ivm.deltaKeyScoped]]): each cycle recomputes
  * ONLY the key partitions the new rows touch (a day's events → a sliver
  * of users) and splices them into the previous generation in place of
  * those keys' old rows.
  * Completes the streaming maintenance family: [[IncrementalView]]
  * (envelope appends), [[IncrementalAggView]] (mergeable aggregates),
  * [[IncrementalSignedView]] (outer/anti joins), this (windows/sessions).
  *
  * `q` must be key-decomposable over `keys` (validated per cycle by
  * `deltaKeyScoped`); alternating parquet generations like the other
  * views; production sinks apply the pair as upsert + delete on the keys.
  */
final class IncrementalKeyScopedView(
    spark: SparkSession,
    table: String, idCol: String,
    q: DataFrame => DataFrame,
    keys: Seq[String],
    sinkPath: String) extends MaintainedView {

  private var gen: Int = -1
  private var highMark: Option[Long] = None
  private val scoped = s"${table}__kv${IvmStream.nextViewId()}"
  Snapshots.track(scoped, idCol)

  /** One maintenance cycle over the table's current full state: rows past
    * the watermark are the delta; only their key partitions recompute.
    * Idle cycles (no id past the high-water mark) are skipped entirely —
    * no recompute, no generation rewrite (same guard as the sibling
    * views).
    */
  def update(full: DataFrame): Unit = {
    val row = full.agg(max(col(idCol))).head()
    val newHigh = if (row.isNullAt(0)) None else Some(row.getLong(0))
    newHigh.filter(h => highMark.forall(h > _)).foreach { h =>
      full.createOrReplaceTempView(scoped)
      val t = spark.table(scoped)
      val sd = Ivm.deltaKeyScoped(q, t, keys)
      // the first generation splices into an empty view: reading
      // `sd.inserts` for its schema would build the netted frame
      val prev =
        if (gen < 0) q(t).limit(0)
        else spark.read.parquet(s"$sinkPath/g$gen")
      sd.applyTo(prev)
        .write.mode("overwrite").parquet(s"$sinkPath/g${(gen + 1) % 2}")
      gen = (gen + 1) % 2
      Snapshots.advanceTo(scoped, h)
      highMark = Some(h)
    }
  }

  /** The maintained view (current generation). */
  def result: DataFrame = {
    require(gen >= 0,
      s"IncrementalKeyScopedView($table): result read before the first " +
        "update()")
    spark.read.parquet(s"$sinkPath/g$gen")
  }
}

/** A view maintained by whatever rung [[graft.ivm.Ivm.maintainAuto]]
  * picks each cycle — the generic member of the streaming maintenance
  * family: envelope queries append δQ, mergeable aggregates fold the
  * partial, signed shapes (outer/anti joins, EXCEPT, top-k, key-scoped,
  * and the r6 aggregate-join merge rung) apply insert/retract pairs, and
  * anything else falls back to an honest full recompute (`DiffRows` —
  * the rung choice is exposed via [[lastRoute]] so callers/specs can pin
  * that a view they expect to be incremental actually is).
  *
  * Same contract as the sibling views: one tracked append-only source
  * (rows with `idCol` past the snapshot watermark are the delta); other
  * tables inside `query` are static or registered by the caller;
  * alternating parquet generations (the general apply is an update, not
  * an append).
  */
final class IncrementalAutoView(
    spark: SparkSession,
    table: String,
    idCol: String,
    query: DataFrame => DataFrame,
    sinkPath: String) extends MaintainedView {

  private var highMark: Option[Long] = None
  private var gen: Int = -1
  private var route: Option[String] = None
  private val scopedName = s"${table}__av${IvmStream.nextViewId()}"
  Snapshots.track(scopedName, idCol)

  /** The rung the last cycle used: append / merge / signed / diff. */
  def lastRoute: Option[String] = route

  def update(fullTable: DataFrame): Unit = {
    val row = fullTable.agg(max(col(idCol))).head()
    val newHigh = if (row.isNullAt(0)) None else Some(row.getLong(0))
    newHigh.filter(h => highMark.forall(h > _)).foreach { h =>
      fullTable.createOrReplaceTempView(scopedName)
      val q = query(spark.table(scopedName))
      def prev(empty: => DataFrame): DataFrame =
        if (gen < 0) empty.limit(0)
        else spark.read.parquet(s"$sinkPath/g$gen")
      val next = graft.ivm.Ivm.maintainAuto(q) match {
        case graft.ivm.Ivm.AppendDelta(rows) =>
          route = Some("append"); prev(rows).unionByName(rows)
        case graft.ivm.Ivm.MergePartial(ad) =>
          route = Some("merge")
          if (gen < 0) ad.partial
          else graft.ivm.IvmAgg.merge(
            spark.read.parquet(s"$sinkPath/g$gen"), ad)
        case graft.ivm.Ivm.ApplySigned(sd) =>
          route = Some("signed"); sd.applyTo(prev(q.toDF()))
        case graft.ivm.Ivm.DiffRows(_) =>
          route = Some("diff"); q.toDF() // recompute: the honest fallback
      }
      next.write.mode("overwrite").parquet(s"$sinkPath/g${(gen + 1) % 2}")
      gen = (gen + 1) % 2
      Snapshots.advanceTo(scopedName, h)
      highMark = Some(h)
    }
  }

  /** The maintained view (current generation). */
  def result: DataFrame = {
    require(gen >= 0,
      s"IncrementalAutoView($table): result read before the first update()")
    spark.read.parquet(s"$sinkPath/g$gen")
  }
}

object IvmStream {

  private val viewIds = new java.util.concurrent.atomic.AtomicLong(0L)
  private[streaming] def nextViewId(): Long = viewIds.incrementAndGet()

  /** Attach an [[IncrementalView]] to a streaming source of appends: each
    * micro-batch is folded into the accumulated base table (caller-supplied
    * `accumulate`, e.g. append-to-parquet + re-read) and run through the
    * delta rewrite. Call `.start()` on the returned writer.
    */
  def maintain(
      view: MaintainedView,
      appends: DataFrame,
      accumulate: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    appends.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      view.update(accumulate(batch))
    }
}
