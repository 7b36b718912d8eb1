package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ivm.{DeltaLakeSnapshots, Ivm, IvmAgg}
import graft.sources.DeltaLake

/** The paper's loop: append a small batch to two Delta tables, refresh
  * five stored views through `Ivm.maintainAuto`, advance the cuts.
  *
  * Each view is built so the ladder routes it to one rung; setup asserts
  * the routing, so a view silently moving to a slower rung fails the run
  * instead of skewing it.
  */
final class IvmRefresh extends Workload {
  private val Orders = "bm_orders"
  private val Lineitem = "bm_lineitem"
  private var ordersDir, lineitemDir, viewsDir = ""
  private var batches = 0
  private val version = mutable.Map.empty[String, Int]
  private val rungSeen = mutable.Map.empty[String, String]

  private def dim(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(s"${ctx.in}/dim_customer.parquet")

  /** name -> (expected rung, query over the tracked tables). */
  private def views(ctx: Ctx): Seq[(String, String, () => DataFrame)] = {
    val s = ctx.spark
    def o = s.table(Orders)
    def l = s.table(Lineitem)
    Seq(
      ("v_join", "append", () =>
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(dim(ctx), col("o_custkey") === col("c_custkey"))
          .select("l_orderkey", "l_linenumber", "l_extendedprice",
            "o_custkey", "o_orderdate", "c_mktsegment")),
      ("v_agg", "merge", () =>
        o.groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sum_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))),
      ("v_left", "signed", () =>
        o.filter(col("o_totalprice") > 490000)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .join(l.filter(col("l_quantity") > 45)
            .select("l_orderkey", "l_linenumber", "l_quantity"),
            col("o_orderkey") === col("l_orderkey"), "left")),
      ("v_minmax", "signed", () =>
        o.groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sp"))
          .join(dim(ctx).select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(max(col("sp")).as("max_spend"), min(col("cnt")).as("min_orders"),
            count(lit(1)).as("n_cust"))),
      // a window with no partition key: outside the key-scoped rung's
      // reach, so it differences; ranks by key, so appends of the newest
      // orders only add rows
      ("v_rank", "diff", () =>
        o.select(col("o_orderkey"), col("o_custkey"),
          row_number().over(Window.orderBy("o_orderkey")).as("rn"))))
  }

  private def rung(m: Ivm.AutoMaintenance): String = m match {
    case _: Ivm.AppendDelta => "append"
    case _: Ivm.MergePartial => "merge"
    case _: Ivm.ApplySigned => "signed"
    case _: Ivm.DiffRows => "diff"
  }

  private def stored(ctx: Ctx, v: String): DataFrame =
    ctx.spark.read.parquet(s"$viewsDir/$v/${version(v)}")

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    val spec = Json.read(s"${ctx.in}/spec.json")
    batches = spec.get("batches").asInt
    ordersDir = s"${ctx.dir("lake")}/orders"
    lineitemDir = s"${ctx.dir("lake")}/lineitem"
    viewsDir = ctx.dir("views")
    DeltaLake.write(s, ordersDir, s.read.parquet(s"${ctx.in}/orders.parquet"))
    DeltaLake.write(s, lineitemDir, s.read.parquet(s"${ctx.in}/lineitem.parquet"))
    DeltaLakeSnapshots.track(s, Orders, ordersDir,
      at = Some(DeltaLake.latestVersion(s, ordersDir)))
    DeltaLakeSnapshots.track(s, Lineitem, lineitemDir,
      at = Some(DeltaLake.latestVersion(s, lineitemDir)))
    DeltaLakeSnapshots.view(s, Orders)
    DeltaLakeSnapshots.view(s, Lineitem)
    views(ctx).foreach { case (v, _, q) =>
      version(v) = 0
      q().write.parquet(s"$viewsDir/$v/0")
    }
  }

  /** Each view must route to its named rung; a view that moved to another
    * rung would measure a different loop.
    */
  override def verifySetup(ctx: Ctx): Unit =
    views(ctx).foreach { case (v, expected, q) =>
      val got = rung(Ivm.maintainAuto(q()))
      require(got == expected,
        s"ivm_refresh setup: $v routes to the $got rung, expected $expected")
    }

  private def refresh(ctx: Ctx, v: String, q: () => DataFrame): Boolean = {
    val s = ctx.spark
    ctx.span("ivm.view") {
      DeltaLakeSnapshots.view(s, Orders); DeltaLakeSnapshots.view(s, Lineitem)
    }
    val m = ctx.span("ivm.maintain")(Ivm.maintainAuto(q()))
    rungSeen(v) = rung(m)
    val prev = version(v)
    val next = ctx.span("ivm.apply") {
      m match {
        case Ivm.AppendDelta(rows) => rows
        case Ivm.MergePartial(d) => IvmAgg.merge(stored(ctx, v), d)
        case Ivm.ApplySigned(sd) => sd.applyTo(stored(ctx, v))
        case Ivm.DiffRows(rows) => stored(ctx, v).unionByName(rows)
      }
    }
    ctx.span("ivm.materialize") {
      m match {
        // an append-rung view only gains files
        case _: Ivm.AppendDelta =>
          next.write.mode("append").parquet(s"$viewsDir/$v/$prev")
        case _ =>
          next.write.parquet(s"$viewsDir/$v/${prev + 1}")
          version(v) = prev + 1
          Main.deleteTree(new File(s"$viewsDir/$v/$prev"))
      }
    }
    true
  }

  def pass(ctx: Ctx, p: Int): Seq[Op] = {
    require(p < batches, s"ivm_refresh: append pool exhausted after $p cycles")
    val s = ctx.spark
    val b = f"$p%03d"
    def append(table: String, dir: String) =
      Op("write", s"append_$table", () => {
        ctx.span("sources.write") {
          DeltaLake.write(s, dir, s.read.parquet(s"${ctx.in}/pool/${table}_$b.parquet"))
        }
        true
      })
    val refreshes = views(ctx).map { case (v, _, q) =>
      Op("refresh", v, () => refresh(ctx, v, q))
    }
    val advance = Op("advance", "advance_cuts", () => {
      DeltaLakeSnapshots.advance(s, Orders); DeltaLakeSnapshots.advance(s, Lineitem)
      true
    })
    Seq(append("orders", ordersDir), append("lineitem", lineitemDir)) ++
      refreshes :+ advance
  }

  /** Each stored view must equal its query over the final snapshot (the
    * five comparisons run concurrently).
    */
  def check(ctx: Ctx, ops: Seq[OpRec]): Map[String, String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    DeltaLakeSnapshots.view(ctx.spark, Orders)
    DeltaLakeSnapshots.view(ctx.spark, Lineitem)
    val diffs = views(ctx).map { case (v, _, q) =>
      val want = q()
      val have = stored(ctx, v).select(want.columns.map(col): _*)
      Future(v -> (have.exceptAll(want).count(), want.exceptAll(have).count()))
    }
    Await.result(Future.sequence(diffs), Duration.Inf).collect {
      case (v, (extra, missing)) if extra != 0 || missing != 0 =>
        v -> s"stored view differs from recompute: $extra extra, $missing missing rows"
    }.toMap
  }

  /** Recompute time over refresh time, per view: the paper's claim. */
  override def traced(ctx: Ctx, ops: Seq[OpRec]): Map[String, Any] = {
    val dir = ctx.dir("recompute")
    Map("refresh_vs_recompute" -> views(ctx).map { case (v, _, q) =>
      val refresh = median(ops.filter(o => o.kind == "refresh" && o.name == v &&
        o.pass > 0).map(o => o.end - o.start))
      val times = (0 until 3).map { i =>
        val t0 = System.nanoTime()
        q().write.parquet(s"$dir/$v-$i")
        (System.nanoTime() - t0) / 1e9
      }
      v -> Map("refresh_s" -> refresh, "recompute_s" -> median(times),
        "ratio" -> median(times) / refresh)
    }.toMap)
  }

  override def info: Map[String, Any] = Map("rungs" -> rungSeen.toMap)

  override def teardown(): Unit = {
    DeltaLakeSnapshots.untrack(Orders)
    DeltaLakeSnapshots.untrack(Lineitem)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
}
