package graft.ivm

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.streaming.IncrementalAggView

/** A maintenance cycle compiles the same code every time: two cycles of
  * one view shape with different δ values generate the same whole-stage
  * sources, so the codegen cache serves every cycle after the first (a
  * touched-key IN list, a LIMIT's process-wide counter name or a widening
  * decimal would each compile new classes per cycle). The stored view's
  * schema must not drift either — a drifted type is new code, and a view
  * whose schema no longer matches its query's.
  */
class CodegenStabilitySpec extends AnyFunSuite with SparkFixture {

  /** The whole-stage codegen sources of every query `body` executes,
    * and how many classes it compiled.
    */
  private def codegenOf(body: => Unit): (Set[String], Long) = {
    val sc = spark.sparkContext
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        qes.add(qe); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.graft.ListenerBus.drain(sc)
    spark.listenerManager.register(l)
    val compiled0 = org.apache.spark.graft.Compilations.count
    val compiled = try {
      body
      org.apache.spark.graft.ListenerBus.drain(sc)
      org.apache.spark.graft.Compilations.count - compiled0
    } finally spark.listenerManager.unregister(l)
    val aqe = new AdaptiveSparkPlanHelper {}
    (qes.asScala.toSeq.flatMap(qe =>
      aqe.collectWithSubqueries(qe.executedPlan) {
        case w: WholeStageCodegenExec => w.doCodeGen()._2.body
      }).toSet, compiled)
  }

  /** Cycles 2 and 3 (each with its own δ values) generate the same
    * whole-stage sources, and cycle 3 compiles nothing: the cache holds
    * every class the cycle needs.
    */
  private def assertStable(cycles: Seq[(Set[String], Long)]): Unit = {
    val Seq(_, (two, _), (three, compiled)) = cycles
    assert(two.nonEmpty && two == three,
      s"cycles 2 and 3 generated different code: ${(two -- three).size} " +
        s"sources only in cycle 2, ${(three -- two).size} only in cycle 3")
    assert(compiled == 0, s"cycle 3 compiled $compiled classes")
  }

  private def types(df: DataFrame): Seq[(String, String)] =
    df.schema.map(f => f.name -> f.dataType.simpleString)

  private def dir(tag: String): String =
    Files.createTempDirectory(s"codegen_$tag").toString

  /** Orders as of cycle `c`: an append-only table whose last 6 rows are
    * the cycle's δ (`flag` = 1) — new keys and prices every cycle.
    */
  private def orders(c: Int): DataFrame =
    spark.range(40 + 6 * c).select(
      col("id").as("k"),
      (col("id") % 3).cast("string").as("grp"),
      (col("id") * 7).cast(DecimalType(18, 2)).as("price"),
      when(col("id") >= 40 + 6 * (c - 1), 1).otherwise(0).as("flag"))

  test("merge rung: same code every cycle, and no schema drift") {
    val d = dir("merge")
    def q(o: DataFrame) = o.groupBy("grp").agg(count(lit(1)).as("cnt"),
      sum(col("price")).as("sum_price"), min(col("k")).as("min_key"),
      max(col("k")).as("max_key"))
    // the stored view starts as the cycle-1 base answer
    orders(1).filter(col("flag") === 0).write.parquet(s"$d/o0")
    q(spark.read.parquet(s"$d/o0")).write.parquet(s"$d/v0")
    val cycles = (1 to 3).map { c =>
      orders(c).write.parquet(s"$d/o$c")
      spark.read.parquet(s"$d/o$c").createOrReplaceTempView("cg_orders")
      DeltaSources.register("cg_orders", "flag = 1")
      val full = q(spark.table("cg_orders"))
      val code = codegenOf {
        Ivm.maintainAuto(full) match {
          case Ivm.MergePartial(ad) =>
            IvmAgg.merge(spark.read.parquet(s"$d/v${c - 1}"), ad)
              .write.parquet(s"$d/v$c")
          case other => fail(s"expected the merge rung, got $other")
        }
      }
      val stored = spark.read.parquet(s"$d/v$c")
      assert(types(stored) == types(full),
        s"cycle $c: the stored view's schema drifted from the query's")
      assert(stored.exceptAll(full).isEmpty && full.exceptAll(stored).isEmpty)
      code
    }
    assertStable(cycles)
  }

  test("spliced left-join rung: same code every cycle") {
    val d = dir("left")
    def q(o: DataFrame, l: DataFrame) =
      o.select("k", "grp").join(
        l.select(col("k").as("lk"), col("price").as("lp")),
        col("k") === col("lk"), "left")
    // lineitem: every other order, keyed 3 back, so a δ lineitem can
    // match a base order that had no match (its null extension leaves)
    def lineitem(c: Int) = orders(c).filter(col("k") % 2 === 0)
      .withColumn("k", col("k") - 3)
    orders(1).filter(col("flag") === 0).write.parquet(s"$d/o0")
    lineitem(1).filter(col("flag") === 0).write.parquet(s"$d/l0")
    q(spark.read.parquet(s"$d/o0"), spark.read.parquet(s"$d/l0"))
      .write.parquet(s"$d/v0")
    val cycles = (1 to 3).map { c =>
      orders(c).write.parquet(s"$d/o$c")
      lineitem(c).write.parquet(s"$d/l$c")
      spark.read.parquet(s"$d/o$c").createOrReplaceTempView("cg_lo")
      spark.read.parquet(s"$d/l$c").createOrReplaceTempView("cg_ll")
      DeltaSources.register("cg_lo", "flag = 1")
      DeltaSources.register("cg_ll", "flag = 1")
      val full = q(spark.table("cg_lo"), spark.table("cg_ll"))
      val code = codegenOf {
        Ivm.maintainAuto(full) match {
          case Ivm.ApplySigned(sd) if sd.spliced =>
            sd.applyTo(spark.read.parquet(s"$d/v${c - 1}"))
              .write.parquet(s"$d/v$c")
          case other => fail(s"expected the spliced left-join rung, got $other")
        }
      }
      val stored = spark.read.parquet(s"$d/v$c")
      assert(stored.exceptAll(full).isEmpty && full.exceptAll(stored).isEmpty)
      code
    }
    assertStable(cycles)
  }

  test("IvmStream aggregate sink: a decimal sum keeps the query's type") {
    val d = dir("stream")
    val aggQ = (df: DataFrame) => df.groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum(col("price")).as("sum_price"))
    val view = new IncrementalAggView(spark, "cg_stream", "k", aggQ,
      s"$d/sink")
    for (c <- 1 to 3) {
      val full = orders(c).drop("flag")
      full.write.parquet(s"$d/in$c")
      view.update(spark.read.parquet(s"$d/in$c"))
      assert(types(view.result) == types(aggQ(full)),
        s"update $c: the sink's schema drifted from the query's")
      assert(view.result.exceptAll(aggQ(full)).isEmpty &&
        aggQ(full).exceptAll(view.result).isEmpty)
    }
  }
}
