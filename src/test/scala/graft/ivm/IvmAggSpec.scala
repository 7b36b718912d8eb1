package graft.ivm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.engine.Tables

/** Aggregate view maintenance: `merge(Q(base), deltaPartial(Q)) ≡ Q(full)`
  * for sum/count/min/max — the insert-only aggregate-delta contract
  * (extension beyond the reference envelope; [[IvmAgg]]).
  */
class IvmAggSpec extends AnyFunSuite with SparkFixture {

  private def t(n: String): DataFrame = Tables(spark, sfDir, n)

  private def base(n: String): DataFrame = {
    val pred = DeltaSources.predicateFor(n).get.sql
    t(n).filter(expr(s"NOT ($pred)"))
  }

  private def assertSetEqual(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty, "maintained has rows recompute lacks")
    assert(b.exceptAll(a).isEmpty, "recompute has rows maintained lacks")
  }

  private def q(df: DataFrame): DataFrame =
    df.groupBy("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("o_totalprice")).as("sum_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))

  test("maintained aggregate equals full recompute (sum/count/min/max)") {
    val maintained = IvmAgg.maintain(q(base("orders")), q(t("orders")))
    // double SUM is order-sensitive; compare through a decimal round so the
    // algebraic identity (not fp association) is what's under test
    def canon(df: DataFrame): DataFrame = df.select(
      col("o_orderstatus"), col("o_orderpriority"), col("cnt"),
      round(col("sum_price"), 2).as("sum_price"),
      col("min_key"), col("max_key"))
    assertSetEqual(canon(maintained), canon(q(t("orders"))))
  }

  test("computed group key (expression aliased in the select list)") {
    // groupBy(year(date).as("y")) puts the bare expression in the grouping
    // list and its Alias in the output list — the key must resolve by
    // semantic match, and the maintained view must equal the recompute
    val qy = (df: DataFrame) => df
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(count(lit(1)).as("cnt"), max(col("o_orderkey")).as("max_key"))
    val maintained = IvmAgg.maintain(qy(base("orders")), qy(t("orders")))
    assertSetEqual(maintained, qy(t("orders")))
  }

  test("delta-only groups (unseen in base) appear after merge") {
    // group by delta membership itself: base view has only the base group
    val full = t("orders").withColumn("is_delta",
      expr(DeltaSources.predicateFor("orders").get.sql))
    // register a standalone table for the delta source: reuse orders split
    val g = (df: DataFrame) => df.groupBy("is_delta")
      .agg(count(lit(1)).as("cnt"))
    val baseDf = base("orders").withColumn("is_delta", lit(false))
    val delta = IvmAgg.deltaPartial(g(full))
    val merged = IvmAgg.merge(g(baseDf), delta)
    val got = merged.orderBy("is_delta").collect()
      .map(r => (r.getBoolean(0), r.getLong(1))).toMap
    val expect = g(full).orderBy("is_delta").collect()
      .map(r => (r.getBoolean(0), r.getLong(1))).toMap
    assert(got == expect, s"got $got expect $expect")
  }

  test("avg maintenance through the storage form (sum+count decomposition)") {
    val q = (df: DataFrame) => df.groupBy("o_orderstatus")
      .agg(avg(col("o_totalprice")).as("avg_price"),
        count(lit(1)).as("cnt"))
    // materialize and maintain the MERGEABLE form; read through present()
    val storageQ = (df: DataFrame) => IvmAgg.mergeableForm(q(df))
    val maintained = IvmAgg.present(
      IvmAgg.maintain(storageQ(base("orders")), storageQ(t("orders"))))
    val expect = q(t("orders"))
      .select("o_orderstatus", "cnt", "avg_price")
      .orderBy("o_orderstatus").collect()
    val got = maintained
      .select("o_orderstatus", "cnt", "avg_price")
      .orderBy("o_orderstatus").collect()
    assert(got.length == expect.length)
    got.zip(expect).foreach { case (g, e) =>
      assert(g.getString(0) == e.getString(0) && g.getLong(1) == e.getLong(1))
      assert(math.abs(g.getDouble(2) - e.getDouble(2)) < 1e-6,
        s"avg mismatch for ${g.getString(0)}: ${g.getDouble(2)} vs ${e.getDouble(2)}")
    }
  }

  test("count/sum DISTINCT maintained through the new-pair partial") {
    // identity incl. the recount hazard: a custkey seen in BOTH base and
    // delta must advance the count by 0, not 1 — only pairs the base never
    // had may contribute. Mixed with a plain count to pin the full-outer
    // composition of the two partials, and sum(DISTINCT) shares the
    // custkey pair set with the count (one pair-set delta, two outputs).
    val qd = (df: DataFrame) => df.groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        sum_distinct(col("o_custkey")).as("sum_cust"),
        count(lit(1)).as("n_orders"))
    val maintained = IvmAgg.maintain(qd(base("orders")), qd(t("orders")))
    assertSetEqual(maintained, qd(t("orders")))
  }

  test("maintainAuto routes DISTINCT aggregates to the merge-partial rung") {
    val qd = t("orders").groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
    Ivm.maintainAuto(qd) match {
      case Ivm.MergePartial(delta) =>
        val baseView = base("orders").groupBy("o_orderstatus")
          .agg(countDistinct(col("o_custkey")).as("n_cust"))
        assertSetEqual(IvmAgg.merge(baseView, delta), qd)
      case other => fail(s"expected MergePartial, got $other")
    }
  }

  test("rollup view maintains per grouping set (merge keyed by grouping_id)") {
    // the analyzer plants Expand under the Aggregate; the delta commutes
    // through it (δ(Expand(R)) = Expand(δR)) and the merge keys on
    // (status, priority, gid) — each lattice level is independently a
    // plain group-by, so partial-merge is exact per level, including the
    // grand-total row (gid=3) that every delta row contributes to
    val qr = (df: DataFrame) => df.rollup("o_orderstatus", "o_orderpriority")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price"),
        max(col("o_orderkey")).as("max_key"))
    val maintained = IvmAgg.maintain(qr(base("orders")), qr(t("orders")))
    assertSetEqual(maintained, qr(t("orders")))
  }

  test("maintainAuto routes a cube root to the merge-partial rung") {
    val qc = (df: DataFrame) => df.cube("o_orderstatus", "o_orderpriority")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("cnt"))
    Ivm.maintainAuto(qc(t("orders"))) match {
      case Ivm.MergePartial(delta) =>
        assertSetEqual(IvmAgg.merge(qc(base("orders")), delta),
          qc(t("orders")))
      case other => fail(s"expected MergePartial for a cube root, got $other")
    }
  }

  test("grouping-analytics roots fail fast on DISTINCT and a missing gid") {
    // COUNT DISTINCT per grouping set would need one pair view per set
    val e1 = intercept[UnsupportedOperationException](IvmAgg.deltaPartial(
      t("orders").cube("o_orderstatus")
        .agg(grouping_id().cast("long").as("gid"),
          countDistinct(col("o_custkey")).as("nd"))))
    assert(e1.getMessage.contains("GROUPING SETS"), e1.getMessage)
    // without grouping_id() in the output the merge cannot key the lattice
    val e2 = intercept[UnsupportedOperationException](IvmAgg.deltaPartial(
      t("orders").cube("o_orderstatus").agg(count(lit(1)).as("cnt"))))
    assert(e2.getMessage.contains("grouping_id"), e2.getMessage)
  }

  test("DISTINCT min/max degrades to the plain combine (exact)") {
    val qm = (df: DataFrame) => df.groupBy("o_orderstatus")
      .agg(expr("min(DISTINCT o_orderkey)").as("min_key"),
        expr("max(DISTINCT o_orderkey)").as("max_key"))
    val maintained = IvmAgg.maintain(qm(base("orders")), qm(t("orders")))
    assertSetEqual(maintained, qm(t("orders")))
  }

  test("fails fast on non-mergeable aggregates with a clear message") {
    val avgQ = t("orders").groupBy("o_orderstatus")
      .agg(avg(col("o_totalprice")).as("avg_price"))
    val e1 = intercept[UnsupportedOperationException](IvmAgg.deltaPartial(avgQ))
    assert(e1.getMessage.contains("avg") || e1.getMessage.contains("average"),
      e1.getMessage)

    // DISTINCT avg has no insert-mergeable partial (sum+count storage form
    // does not decompose under distinct) — must still fail fast
    val e2 = intercept[UnsupportedOperationException](IvmAgg.deltaPartial(
      t("orders").groupBy("o_orderstatus")
        .agg(expr("avg(DISTINCT o_totalprice)").as("ad"))))
    assert(e2.getMessage.toLowerCase.contains("distinct"), e2.getMessage)

    // multi-column DISTINCT count: one pair column can't express the tuple
    val e3 = intercept[UnsupportedOperationException](IvmAgg.deltaPartial(
      t("orders").groupBy("o_orderstatus")
        .agg(expr("count(DISTINCT o_custkey, o_orderpriority)").as("nd2"))))
    assert(e3.getMessage.contains("multi-column"), e3.getMessage)
  }

  test("non-aggregate root fails fast") {
    val e = intercept[UnsupportedOperationException](
      IvmAgg.deltaPartial(t("orders").select("o_orderkey")))
    assert(e.getMessage.contains("Aggregate"), e.getMessage)
  }

  test("deltaPartial with NO registered source fails fast (r7)") {
    // same forgot-to-register guard as Ivm.delta: without it an
    // all-static aggregate yields a silently EMPTY partial and the
    // maintained view goes permanently stale with no error
    import spark.implicits._
    val loose = Seq((1, "x"), (2, "y")).toDF("id", "v")
    val e = intercept[UnsupportedOperationException](
      IvmAgg.deltaPartial(loose.groupBy("v").agg(count(lit(1)).as("cnt"))))
    assert(e.getMessage.contains("no registered delta source"), e.getMessage)
    assert(e.getMessage.contains("IvmAgg.deltaPartial"), e.getMessage)
  }

  test("alignByKeys: the debug check fires on a side with duplicate keys") {
    import spark.implicits._
    val one = Seq((1L, 10L), (2L, 20L)).toDF("k", "a")
    val dup = Seq((1L, 5L), (1L, 6L)).toDF("k", "b")
    spark.conf.set(IvmAgg.CheckAlignKeys, "true")
    try {
      // one row per key on both sides: passes the check
      assert(IvmAgg.alignByKeys(one, one.withColumnRenamed("a", "b"),
        Seq("k")).count() == 2)
      val e = intercept[IllegalStateException](
        IvmAgg.alignByKeys(one, dup, Seq("k")))
      assert(e.getMessage.contains("right side holds 2 rows for key (1)"),
        e.getMessage)
    } finally spark.conf.unset(IvmAgg.CheckAlignKeys)
    // the check is off by default: the duplicate collapses silently
    assert(IvmAgg.alignByKeys(one, dup, Seq("k")).count() == 2)
  }
}
