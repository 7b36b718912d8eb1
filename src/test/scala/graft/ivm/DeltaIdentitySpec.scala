package graft.ivm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.engine.Tables

/** Executed-delta identity: `delta(Q) == Q(full) − Q(base)` as MULTISETS,
  * for every rewrite case, on real data (sf0.001 parquet). This is the
  * acceptance criterion the reference could never test (it has no physical
  * delta source) — SURVEY.md §5.2, pinned here per VERDICT r1 #2.
  */
class DeltaIdentitySpec extends AnyFunSuite with SparkFixture {

  private def t(n: String): DataFrame = Tables(spark, sfDir, n)

  private def base(n: String): DataFrame = {
    val pred = DeltaSources.predicateFor(n).get.sql
    t(n).filter(expr(s"NOT ($pred)"))
  }

  /** Multiset equality via two-sided exceptAll. */
  private def assertMultisetEqual(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty, "delta(Q) has rows not in Q(full)−Q(base)")
    assert(b.exceptAll(a).isEmpty, "Q(full)−Q(base) has rows not in delta(Q)")
  }

  private def check(full: DataFrame, baseQ: DataFrame): Unit =
    assertMultisetEqual(Ivm.delta(full), full.exceptAll(baseQ))

  test("identity: scan") {
    check(t("orders"), base("orders"))
  }

  test("identity: projection") {
    check(
      t("orders").select("o_orderkey", "o_totalprice"),
      base("orders").select("o_orderkey", "o_totalprice"))
  }

  test("identity: filter") {
    check(
      t("orders").filter(col("o_orderstatus") === "O").select("o_orderkey"),
      base("orders").filter(col("o_orderstatus") === "O").select("o_orderkey"))
  }

  // Overlapping deltas on both sides — exactly the over-count scenario from
  // ADVICE r1 #1: with full-side mixed arms, δ⋈δ matches are emitted 3×.
  test("identity: inner join with overlapping deltas") {
    val cond = col("c_nationkey") === col("n_nationkey")
    check(
      t("customer").join(t("nation"), cond, "inner")
        .select("c_custkey", "n_name"),
      base("customer").join(base("nation"), cond, "inner")
        .select("c_custkey", "n_name"))
  }

  test("identity: cross join") {
    check(
      t("region").crossJoin(t("nation")).select("r_name", "n_name"),
      base("region").crossJoin(base("nation")).select("r_name", "n_name"))
  }

  test("identity: union all") {
    val f = (df: DataFrame) =>
      df.filter(col("o_totalprice") > 150000).select("o_orderkey")
        .union(df.filter(col("o_orderstatus") === "F").select("o_orderkey"))
    check(f(t("orders")), f(base("orders")))
  }

  test("identity: self-join (same table, same delta, both sides)") {
    val f = (a: DataFrame, b: DataFrame) =>
      a.select(col("n_nationkey").as("k1"), col("n_regionkey").as("r1"))
        .join(b.select(col("n_nationkey").as("k2"), col("n_regionkey").as("r2")),
          col("r1") === col("r2"), "inner")
        .select("k1", "k2")
    check(
      f(t("nation"), t("nation")),
      f(base("nation"), base("nation")))
  }

  test("identity: left semi join (envelope extension past the reference)") {
    // semi is monotone under inserts — δ is append-only expressible:
    // δ(A ⋉ B) = (δA ⋉ B∪δB) ∪ ((baseA ▷ baseB) ⋉ δB)
    val f = (c: DataFrame, o: DataFrame) =>
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    check(
      f(t("customer"), t("orders")),
      f(base("customer"), base("orders")))
  }

  test("identity: semi join under projection and filter") {
    val f = (c: DataFrame, o: DataFrame) =>
      c.join(o.filter(col("o_totalprice") > 100000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .filter(col("c_acctbal") > 0)
        .select("c_custkey")
    check(
      f(t("customer"), t("orders")),
      f(base("customer"), base("orders")))
  }

  test("identity: semi join against a computed right side (alias re-mint)") {
    // the right subtree carries an Alias (computed column used by its own
    // filter) — exercises freshInstance's alias re-minting in the second
    // δ(semi) arm, not just relation re-instancing
    val f = (c: DataFrame, o: DataFrame) =>
      c.join(
        o.select(col("o_custkey"), (col("o_totalprice") * 2).as("dbl"))
          .filter(col("dbl") > 200000),
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey")
    check(
      f(t("customer"), t("orders")),
      f(base("customer"), base("orders")))
  }

  test("identity: explode (Generate) under the delta marker") {
    // δ commutes through a deterministic generator: the delta arm
    // re-derives each new row's exploded set locally — the rewrite case
    // behind incremental shingling (delta_minhash)
    val q = (df: DataFrame) => df
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val full = q(t("documents"))
    val baseQ = q(base("documents"))
    check(full, baseQ)
  }

  test("identity: distinct (envelope extension)") {
    check(
      t("orders").select("o_custkey").distinct(),
      base("orders").select("o_custkey").distinct())
  }

  test("identity: dropDuplicates over all columns (Deduplicate node)") {
    check(
      t("orders").select("o_custkey", "o_orderstatus").dropDuplicates(),
      base("orders").select("o_custkey", "o_orderstatus").dropDuplicates())
  }

  test("identity: MID-TREE distinct under a join (r4 'missing' #3)") {
    // distinct().join(dim) — both sides delta sources, so the 3-arm join
    // expansion nests δ(Distinct) and base(Distinct) inside its arms
    val f = (o: DataFrame, c: DataFrame) =>
      o.select("o_custkey", "o_orderstatus").distinct()
        .join(c, col("o_custkey") === col("c_custkey"), "inner")
        .select("o_custkey", "o_orderstatus", "c_mktsegment")
    check(
      f(t("orders"), t("customer")),
      f(base("orders"), base("customer")))
  }

  test("identity: mid-tree distinct under filter and projection") {
    val f = (o: DataFrame) =>
      o.select("o_custkey", "o_orderpriority").distinct()
        .filter(col("o_custkey") % 3 === 0)
        .select(col("o_custkey"), col("o_orderpriority").as("prio"))
    check(f(t("orders")), f(base("orders")))
  }

  test("identity: mid-tree dropDuplicates feeding a union arm") {
    val f = (o: DataFrame) => {
      val d = o.select("o_custkey").dropDuplicates()
      d.filter(col("o_custkey") % 2 === 0)
        .union(d.filter(col("o_custkey") % 2 === 1))
    }
    check(f(t("orders")), f(base("orders")))
  }

  test("identity: mid-tree sort is dropped (deltas are multisets)") {
    // orderBy below a filter: the delta contract is multiset-level, so the
    // sort passes through (and disappears from the delta plan) instead of
    // failing fast
    check(
      t("orders").orderBy(col("o_totalprice").desc)
        .filter(col("o_orderstatus") === "O").select("o_orderkey"),
      base("orders").filter(col("o_orderstatus") === "O")
        .select("o_orderkey"))
  }

  test("nondeterministic expression under the DISTINCT rung is rejected") {
    // the Distinct rung subtracts two evaluations of the base subtree — a
    // rand() below would draw different values in each and emit garbage
    // rows that LOOK like a delta; the rewrite must refuse, naming the
    // hatch (insert-only pass-through shapes stay permissive)
    val e = intercept[UnsupportedOperationException] {
      Ivm.delta(t("orders")
        .select(col("o_orderkey"), (rand(7) * 10).cast("long").as("bucket"))
        .distinct())
    }
    assert(e.getMessage.contains("nondeterministic") &&
      e.getMessage.contains("deltaByDiff"), e.getMessage)
    // ...while the same projection WITHOUT the distinct goes through (new
    // rows drawing fresh values is the ordinary Spark semantic)
    assert(Ivm.delta(t("orders")
      .select(col("o_orderkey"), (rand(7) * 10).cast("long").as("bucket")))
      .count() > 0)
  }

  test("identity: SQL entry point (plan from the SQL parser, mod.rs:225)") {
    t("orders").createOrReplaceTempView("orders")
    val full = spark.sql(
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'")
    val baseQ = base("orders").filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_totalprice")
    check(full, baseQ)
  }

  test("deltaByDiff: arbitrary query (window + aggregate) differencing") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val q = (df: DataFrame) => df
      .select(col("o_orderstatus"), col("o_orderkey"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= 5)
    // out of the incremental envelope (window) — differencing still holds
    assertMultisetEqual(
      Ivm.deltaByDiff(q(t("orders"))),
      q(t("orders")).exceptAll(q(base("orders"))))
  }

  test("baseOf routes every scan to the base partition, operators untouched") {
    val q = (df: DataFrame) => df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"))
    assertMultisetEqual(Ivm.baseOf(q(t("orders"))), q(base("orders")))
  }

  test("identity: nullable delta-predicate column (NULL rows are base)") {
    // ADVICE r2: rows where the registered predicate evaluates to NULL must
    // land in the BASE snapshot, not vanish from both arms — otherwise
    // scan != base ∪all delta and maintained views silently drop rows
    import spark.implicits._
    Seq((1L, Option(5L)), (2L, Option.empty[Long]), (3L, Option(12L)),
        (4L, Option(20L)), (5L, Option.empty[Long]))
      .toDF("id", "v").createOrReplaceTempView("nullable_src")
    DeltaSources.register("nullable_src", "v > 10")
    val q = spark.table("nullable_src").select("id")
    val delta = Ivm.delta(q)
    assert(delta.collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    val baseArm = Ivm.baseOf(q)
    assert(baseArm.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
    // scan = base ∪all delta, and the executed identity
    assertMultisetEqual(baseArm.unionAll(delta), q)
    assertMultisetEqual(delta, q.exceptAll(baseArm))
  }

  test("identity: composed query (filter over join under projection)") {
    val f = (c: DataFrame, n: DataFrame) =>
      c.join(n, col("c_nationkey") === col("n_nationkey"), "inner")
        .filter(col("c_acctbal") > 0)
        .select(col("c_custkey"), col("n_name"))
    check(
      f(t("customer"), t("nation")),
      f(base("customer"), base("nation")))
  }

  // ---- maintainAuto: the self-serve ladder ------------------------------

  test("maintainAuto: envelope query routes to the algebraic delta") {
    val q = t("orders").filter(col("o_orderstatus") === "O")
      .select("o_orderkey")
    Ivm.maintainAuto(q) match {
      case Ivm.AppendDelta(rows) =>
        assertMultisetEqual(rows,
          q.exceptAll(base("orders").filter(col("o_orderstatus") === "O")
            .select("o_orderkey")))
      case other => fail(s"expected AppendDelta, got $other")
    }
  }

  test("maintainAuto: mergeable aggregate routes to the partial") {
    // decimal sum: fp addition is not associative, so a double sum would
    // differ between merge(base, partial) and the one-pass full aggregate
    val q = (df: DataFrame) => df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
    Ivm.maintainAuto(q(t("orders"))) match {
      case Ivm.MergePartial(delta) =>
        // folding the partial into the base view reproduces the full result
        assertMultisetEqual(
          IvmAgg.merge(q(base("orders")), delta),
          q(t("orders")))
      case other => fail(s"expected MergePartial, got $other")
    }
  }

  test("maintainAuto: partitioned window routes to KEY-SCOPED signed delta") {
    import org.apache.spark.sql.expressions.Window
    // per-status top-5 by price: key-decomposable by o_orderstatus, so the
    // auto rung recomputes only the statuses the delta touches (here the
    // delta spans all statuses — the identity is still the contract)
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val q = (df: DataFrame) => df
      .select(col("o_orderstatus"), col("o_orderkey"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= 5)
    Ivm.maintainAuto(q(t("orders"))) match {
      case Ivm.ApplySigned(sd) =>
        assertMultisetEqual(q(t("orders")),
          q(base("orders")).unionByName(sd.inserts).exceptAll(sd.retracts))
      case other => fail(s"expected ApplySigned (key-scoped), got $other")
    }
  }

  test("maintainAuto: GLOBAL window (no partition keys) routes to differencing") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val q = (df: DataFrame) => df
      .select(col("o_orderkey"), row_number().over(w).as("rk"))
      .filter(col("rk") <= 5)
    Ivm.maintainAuto(q(t("orders"))) match {
      case Ivm.DiffRows(rows) =>
        assertMultisetEqual(rows, q(t("orders")).exceptAll(q(base("orders"))))
      case other => fail(s"expected DiffRows, got $other")
    }
  }

  test("deltaTopK: merged view equals top-k over the full table") {
    val ord = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
    val full = t("orders").select("o_orderkey", "o_totalprice")
    val prev = Ivm.baseOf(full).orderBy(ord: _*).limit(10)
    // the monoid identity: merge(topk(base), topk(δ)) == topk(full)
    val merged = Ivm.topKMerge(prev, Ivm.delta(full), ord, 10)
    assertMultisetEqual(merged, full.orderBy(ord: _*).limit(10))
    // the signed form applies onto the stored view and is bounded by k
    val sd = Ivm.deltaTopK(full, ord, 10)
    assertMultisetEqual(sd.applyTo(prev), merged)
    assert(sd.inserts.count() <= 10 && sd.retracts.count() <= 10,
      "top-k deltas must be bounded by k")
    assert(sd.retracts.exceptAll(prev).isEmpty,
      "retracts may only remove rows the previous view held")
  }

  test("deltaGroupTopK: merged view equals per-group top-k over the full table") {
    val keys = Seq("o_orderstatus")
    val ord = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
    val full = t("orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    val prev = Ivm.groupTopK(Ivm.baseOf(full), keys, ord, 4)
    // per-group monoid identity: merge(topk_g(base), δ) == topk_g(full)
    val merged = Ivm.groupTopKMerge(prev, Ivm.delta(full), keys, ord, 4)
    assertMultisetEqual(merged, Ivm.groupTopK(full, keys, ord, 4))
    // the signed form applies onto the stored view; retracts only remove
    // rows the view held
    val sd = Ivm.deltaGroupTopK(full, keys, ord, 4)
    assertMultisetEqual(sd.applyTo(prev), merged)
    assert(sd.retracts.exceptAll(prev).isEmpty,
      "retracts may only remove rows the previous view held")
  }

  test("deltaGroupTopK: untouched groups produce no signed traffic") {
    import spark.implicits._
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "b", 40L),
      (5L, "a", 50L)).toDF("id", "g", "v")
      .createOrReplaceTempView("gtk_src")
    DeltaSources.register("gtk_src", "id >= 5") // δ touches group a only
    val full = spark.table("gtk_src")
    val ord = Seq(col("v").desc, col("id").asc)
    val sd = Ivm.deltaGroupTopK(full, Seq("g"), ord, 1)
    assert(sd.inserts.filter(col("g") === "b").isEmpty &&
      sd.retracts.filter(col("g") === "b").isEmpty,
      "groups the delta never touches must stay silent")
    // k=1 over group a: (5,a,50) enters, (2,a,20) falls out
    assert(sd.inserts.select("id").collect().map(_.getLong(0)).toSet == Set(5L))
    assert(sd.retracts.select("id").collect().map(_.getLong(0)).toSet == Set(2L))
    val prev = Ivm.groupTopK(Ivm.baseOf(full), Seq("g"), ord, 1)
    assertMultisetEqual(sd.applyTo(prev), Ivm.groupTopK(full, Seq("g"), ord, 1))
  }

  test("maintainAuto: ORDER BY + LIMIT root routes to the top-k signed delta") {
    val ord = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
    val q = t("orders").select("o_orderkey", "o_totalprice")
      .orderBy(ord: _*).limit(7)
    Ivm.maintainAuto(q) match {
      case Ivm.ApplySigned(sd) =>
        val prevView = base("orders").select("o_orderkey", "o_totalprice")
          .orderBy(ord: _*).limit(7)
        assertMultisetEqual(sd.applyTo(prevView), q)
      case other => fail(s"expected ApplySigned (top-k), got $other")
    }
  }

  test("maintainAuto: EXPRESSION sort key under LIMIT falls through to differencing") {
    // a computed sort key can't be re-expressed by name against the
    // rewritten plans — the router must not mis-route it to the top-k rung
    val q = t("orders").select("o_orderkey", "o_totalprice")
      .orderBy((col("o_totalprice") * lit(-1)).asc, col("o_orderkey").asc)
      .limit(5)
    Ivm.maintainAuto(q) match {
      case Ivm.DiffRows(rows) =>
        assertMultisetEqual(rows,
          q.exceptAll(base("orders").select("o_orderkey", "o_totalprice")
            .orderBy((col("o_totalprice") * lit(-1)).asc,
              col("o_orderkey").asc).limit(5)))
      case other => fail(s"expected DiffRows, got $other")
    }
  }

  test("deltaIntersect: append-only delta of a set intersection") {
    import spark.implicits._
    // A: base {1,2,3}, δ {4,5};  B: base {2,4}, δ {3,9}
    //   base view = {2}; full view = {2,3,4}; δ⁺ = {3,4}
    //   3: old A value whose B-side membership arrives in δB
    //   4: old B value whose A-side membership arrives in δA
    //   5/9: one-sided inserts that must NOT surface
    Seq(1L, 2L, 3L, 4L, 5L).toDF("v").createOrReplaceTempView("si_a")
    Seq((2L, 1L), (4L, 1L), (3L, 100L), (9L, 100L)).toDF("v", "m")
      .createOrReplaceTempView("si_b")
    DeltaSources.register("si_a", "v >= 4")
    DeltaSources.register("si_b", "m >= 100")
    val a = spark.table("si_a")
    val b = spark.table("si_b").select("v")
    val d = Ivm.deltaIntersect(a, b)
    assert(d.collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    val baseView = a.filter(col("v") < 4)
      .intersect(spark.table("si_b").filter(col("m") < 100).select("v"))
    assertMultisetEqual(a.intersect(b), baseView.unionByName(d))
  }

  test("deltaExcept: signed delta retracts values the right side cancels") {
    import spark.implicits._
    // A: base {1,2,3}, δ {4};  B: base {2}, δ {3}
    //   base view = {1,3}; full view = {1,4}
    //   inserts = {4} (new A value B never cancels)
    //   retracts = {3} (old view value δB now cancels)
    Seq(1L, 2L, 3L, 4L).toDF("v").createOrReplaceTempView("se_a")
    Seq((2L, 1L), (3L, 100L)).toDF("v", "m").createOrReplaceTempView("se_b")
    DeltaSources.register("se_a", "v >= 4")
    DeltaSources.register("se_b", "m >= 100")
    val a = spark.table("se_a")
    val b = spark.table("se_b").select("v")
    val sd = Ivm.deltaExcept(a, b)
    assert(sd.inserts.collect().map(_.getLong(0)).toSet == Set(4L))
    assert(sd.retracts.collect().map(_.getLong(0)).toSet == Set(3L))
    val baseView = a.filter(col("v") < 4)
      .except(spark.table("se_b").filter(col("m") < 100).select("v"))
    assertMultisetEqual(a.except(b),
      baseView.unionByName(sd.inserts).exceptAll(sd.retracts))
  }

  test("maintainAuto: INTERSECT root routes to the append-only set rung") {
    val a = t("orders").filter(col("o_totalprice") > 100000)
      .select("o_custkey")
    val b = t("orders").filter(col("o_orderstatus") === "F")
      .select("o_custkey")
    Ivm.maintainAuto(a.intersect(b)) match {
      case Ivm.AppendDelta(rows) =>
        assertMultisetEqual(rows, Ivm.deltaIntersect(a, b))
      case other => fail(s"expected AppendDelta, got $other")
    }
  }

  test("maintainAuto: EXCEPT root routes to the SIGNED set rung") {
    val a = t("customer").select("c_custkey")
    val b = t("orders").filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("c_custkey"))
    Ivm.maintainAuto(a.except(b)) match {
      case Ivm.ApplySigned(sd) =>
        val baseA = base("customer").select("c_custkey")
        val baseB = base("orders").filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("c_custkey"))
        assertMultisetEqual(a.except(b),
          baseA.except(baseB).unionByName(sd.inserts).exceptAll(sd.retracts))
      case other => fail(s"expected ApplySigned, got $other")
    }
  }

  test("deltaLeftJoin: signed delta retracts null-extended rows") {
    import spark.implicits._
    // baseA = k 1..4, δA = k 5..6; baseB = (2,10), δB = (3,100), (5,200):
    // row (3, null) in the base view must be RETRACTED when δB brings 3 a
    // match — the exact case the append-only rewrite refuses
    Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (4L, "a4"), (5L, "a5"), (6L, "a6"))
      .toDF("k", "av").createOrReplaceTempView("sd_a")
    Seq((2L, 10L), (3L, 100L), (5L, 200L))
      .toDF("k2", "bv").createOrReplaceTempView("sd_b")
    DeltaSources.register("sd_a", "k >= 5")
    DeltaSources.register("sd_b", "bv >= 100")

    val cond = col("k") === col("k2")
    val q = (a: DataFrame, b: DataFrame) => a.join(b, cond, "left")
    val full = q(spark.table("sd_a"), spark.table("sd_b"))
    val baseView = q(
      spark.table("sd_a").filter(col("k") < 5),
      spark.table("sd_b").filter(col("bv") < 100))

    val sd = Ivm.deltaLeftJoin(spark.table("sd_a"), spark.table("sd_b"), cond)
    // the retraction is real and exact: (3, a3, null, null)
    val r = sd.retracts.collect()
    assert(r.length == 1 && r.head.getLong(0) == 3L && r.head.isNullAt(2),
      s"expected the formerly matchless row 3 retracted, got ${r.toSeq}")
    // maintained identity: Q(full) == (Q(base) ∪all inserts) ∖all retracts
    assertMultisetEqual(full,
      baseView.unionByName(sd.inserts).exceptAll(sd.retracts))
  }

  test("deltaAntiJoin: signed delta retracts newly matched no-match rows") {
    import spark.implicits._
    // same fixture as deltaLeftJoin: baseB={2}, δB={3,5}; base anti view
    // = {1,3,4}; δB matching 3 must retract it; δA row 6 matches nothing
    Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (4L, "a4"), (5L, "a5"), (6L, "a6"))
      .toDF("k", "av").createOrReplaceTempView("sd_a")
    Seq((2L, 10L), (3L, 100L), (5L, 200L))
      .toDF("k2", "bv").createOrReplaceTempView("sd_b")
    DeltaSources.register("sd_a", "k >= 5")
    DeltaSources.register("sd_b", "bv >= 100")

    val cond = col("k") === col("k2")
    val q = (a: DataFrame, b: DataFrame) => a.join(b, cond, "left_anti")
    val full = q(spark.table("sd_a"), spark.table("sd_b"))
    val baseView = q(
      spark.table("sd_a").filter(col("k") < 5),
      spark.table("sd_b").filter(col("bv") < 100))

    val sd = Ivm.deltaAntiJoin(spark.table("sd_a"), spark.table("sd_b"), cond)
    assert(sd.inserts.collect().map(_.getLong(0)).toSet == Set(6L))
    assert(sd.retracts.collect().map(_.getLong(0)).toSet == Set(3L))
    assertMultisetEqual(full,
      baseView.unionByName(sd.inserts).exceptAll(sd.retracts))
  }

  test("deltaFullJoin: signed delta retracts null extensions on BOTH sides") {
    import spark.implicits._
    // baseA = k 1..4, δA = k 5..6; baseB = (2,10),(6,20), δB = (3,100),(5,200)
    //   left-side retraction: (3, a3, null, null) — δB newly matches base
    //     row 3, invalidating its null extension
    //   right-side retraction: (null, null, 6, 20) — δA row 6 newly matches
    //     base B row 6, invalidating ITS null extension (the case
    //     deltaLeftJoin structurally cannot produce)
    Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (4L, "a4"), (5L, "a5"), (6L, "a6"))
      .toDF("k", "av").createOrReplaceTempView("sd_a")
    Seq((2L, 10L), (6L, 20L), (3L, 100L), (5L, 200L))
      .toDF("k2", "bv").createOrReplaceTempView("sd_b")
    DeltaSources.register("sd_a", "k >= 5")
    DeltaSources.register("sd_b", "bv >= 100")

    val cond = col("k") === col("k2")
    val q = (a: DataFrame, b: DataFrame) => a.join(b, cond, "full")
    val full = q(spark.table("sd_a"), spark.table("sd_b"))
    val baseView = q(
      spark.table("sd_a").filter(col("k") < 5),
      spark.table("sd_b").filter(col("bv") < 100))

    val sd = Ivm.deltaFullJoin(spark.table("sd_a"), spark.table("sd_b"), cond)
    val r = sd.retracts.collect()
    // (3, a3, null, null): base row 3 newly matched by δB (left-side)
    // (null, null, 6, 20): base B row 6 newly matched by δA (right-side)
    assert(r.length == 2, s"expected one retraction per side, got ${r.toSeq}")
    assert(r.exists(x => !x.isNullAt(0) && x.getLong(0) == 3L && x.isNullAt(2)))
    assert(r.exists(x => x.isNullAt(0) && x.getLong(2) == 6L))
    assertMultisetEqual(full,
      baseView.unionByName(sd.inserts).exceptAll(sd.retracts))
  }

  test("deltaRightJoin: mirror of the signed left form, layout preserved") {
    import spark.implicits._
    Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (5L, "a5"))
      .toDF("k", "av").createOrReplaceTempView("sd_a")
    Seq((2L, 10L), (3L, 100L), (7L, 110L))
      .toDF("k2", "bv").createOrReplaceTempView("sd_b")
    DeltaSources.register("sd_a", "k >= 5")
    DeltaSources.register("sd_b", "bv >= 100")

    val cond = col("k") === col("k2")
    val q = (a: DataFrame, b: DataFrame) => a.join(b, cond, "right")
    val full = q(spark.table("sd_a"), spark.table("sd_b"))
    val baseView = q(
      spark.table("sd_a").filter(col("k") < 5),
      spark.table("sd_b").filter(col("bv") < 100))

    val sd = Ivm.deltaRightJoin(spark.table("sd_a"), spark.table("sd_b"), cond)
    assert(sd.inserts.columns.toSeq == full.columns.toSeq &&
      sd.retracts.columns.toSeq == full.columns.toSeq,
      "signed frames must keep the right join's left-columns-first layout")
    assertMultisetEqual(full,
      baseView.unionByName(sd.inserts).exceptAll(sd.retracts))
  }

  test("deltaKeyScoped: windowed view maintained by affected keys only") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // users 1..4; delta = ts >= 100 touches only users 2 and 3 — users 1
    // and 4's window rows must come through unchanged via the identity
    Seq((1L, 10L, 1.0), (1L, 20L, 2.0), (2L, 30L, 3.0), (2L, 110L, 4.0),
        (3L, 120L, 5.0), (4L, 40L, 6.0), (4L, 50L, 7.0))
      .toDF("user", "ts", "v").createOrReplaceTempView("ks_ev")
    DeltaSources.register("ks_ev", "ts >= 100")
    val src = spark.table("ks_ev")
    val q = (df: DataFrame) => {
      val w = Window.partitionBy("user").orderBy("ts")
      df.select(col("user"), col("ts"),
        sum(col("v")).over(w).as("running"))
    }
    val sd = Ivm.deltaKeyScoped(q, src, Seq("user"))
    // affected keys are {2, 3}: no insert/retract may mention user 1 or 4
    val touched = (sd.inserts.select("user").collect() ++
      sd.retracts.select("user").collect()).map(_.getLong(0)).toSet
    assert(touched == Set(2L, 3L), s"unaffected keys recomputed: $touched")
    val base = src.filter(col("ts") < 100)
    assertMultisetEqual(q(src),
      q(base).unionByName(sd.inserts).exceptAll(sd.retracts))
  }

  test("signed frames compose safely (no internally repeated ExprIds)") {
    // regression for the re-minting factory: every signed constructor's
    // plans repeat subtrees internally (same scan under δ and base, the
    // affected-key set under both restrictions); without tree-order ExprId
    // re-minting, DUPLICATING such a plan in one query mis-binds — even
    // the self-difference came back non-empty
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    Seq((1L, 10L, 1.0), (2L, 110L, 2.0)).toDF("user", "ts", "v")
      .createOrReplaceTempView("ks_ev")
    DeltaSources.register("ks_ev", "ts >= 100")
    val src = spark.table("ks_ev")
    val qw = (df: DataFrame) => df.select(col("user"), col("ts"),
      sum(col("v")).over(Window.partitionBy("user").orderBy("ts")).as("r"))
    val cond = col("c_custkey") === col("o_custkey")
    val all = Seq(
      "keyScoped" -> Ivm.deltaKeyScoped(qw, src, Seq("user")),
      "left" -> Ivm.deltaLeftJoin(
        t("customer").select("c_custkey"), t("orders")
          .select("o_orderkey", "o_custkey"), cond),
      "full" -> Ivm.deltaFullJoin(
        t("customer").select("c_custkey"), t("orders")
          .select("o_orderkey", "o_custkey"), cond))
    for ((name, sd) <- all) {
      assert(sd.inserts.exceptAll(sd.inserts).isEmpty,
        s"$name inserts mis-compose with themselves")
      assert(sd.retracts.exceptAll(sd.retracts).isEmpty,
        s"$name retracts mis-compose with themselves")
    }
  }

  test("deltaKeyScoped: NULL-keyed partition is restricted and maintained") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // windows treat NULL as a real partition; a delta row with a null key
    // must select that partition for recompute — a plain-equality semi
    // join would drop it from both restrictions and leave the view stale
    Seq((Some(1L), 10L, 1.0), (Option.empty[Long], 20L, 2.0),
        (Option.empty[Long], 120L, 5.0), (Some(2L), 30L, 3.0))
      .toDF("user", "ts", "v").createOrReplaceTempView("ks_null")
    DeltaSources.register("ks_null", "ts >= 100")
    val src = spark.table("ks_null")
    val q = (df: DataFrame) => {
      val w = Window.partitionBy("user").orderBy("ts")
      df.select(col("user"), col("ts"), sum(col("v")).over(w).as("running"))
    }
    val sd = Ivm.deltaKeyScoped(q, src, Seq("user"))
    // the null partition gains (null, 120, 7.0)
    val ins = sd.inserts.collect()
    assert(ins.exists(r => r.isNullAt(0) && r.getLong(1) == 120L &&
      r.getDouble(2) == 7.0), s"null partition not maintained: ${ins.toSeq}")
    val base = src.filter(col("ts") < 100)
    assertMultisetEqual(q(src),
      q(base).unionByName(sd.inserts).exceptAll(sd.retracts))
  }

  test("deltaKeyScoped: key-shadowing projection is rejected, not mis-scoped") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    Seq((1L, 10L, 3L)).toDF("user", "ts", "v")
      .createOrReplaceTempView("ks_ev")
    DeltaSources.register("ks_ev", "ts >= 100")
    val src = spark.table("ks_ev")
    // the projection re-binds the key NAME to a different column: the
    // window would partition by v while the scan restriction selects by
    // the real user — must reject, not silently maintain partial partitions
    val e = intercept[UnsupportedOperationException] {
      Ivm.deltaKeyScoped(df => df
        .select(col("v").as("user"), col("ts"))
        .select(col("user"), col("ts"),
          count(lit(1)).over(Window.partitionBy("user")).as("c")),
        src, Seq("user"))
    }
    assert(e.getMessage.contains("re-binds key column"), e.getMessage)
  }

  test("deltaKeyScoped: non-decomposable shapes are rejected with the hatch named") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    Seq((1L, 10L, 1.0)).toDF("user", "ts", "v")
      .createOrReplaceTempView("ks_ev")
    DeltaSources.register("ks_ev", "ts >= 100")
    val src = spark.table("ks_ev")
    // window partitioned by a DIFFERENT column
    val eWin = intercept[UnsupportedOperationException] {
      Ivm.deltaKeyScoped(df => df.select(col("user"),
        sum(col("v")).over(Window.partitionBy("ts")).as("s")), src, Seq("user"))
    }
    assert(eWin.getMessage.contains("deltaByDiff"))
    // global limit
    val eLim = intercept[UnsupportedOperationException] {
      Ivm.deltaKeyScoped(df => df.orderBy("ts").limit(3), src, Seq("user"))
    }
    assert(eLim.getMessage.contains("deltaByDiff"))
    // aggregate grouped by a non-covering set
    val eAgg = intercept[UnsupportedOperationException] {
      Ivm.deltaKeyScoped(df => df.groupBy("ts")
        .agg(count(lit(1)).as("c")), src, Seq("user"))
    }
    assert(eAgg.getMessage.contains("deltaByDiff") ||
      eAgg.getMessage.contains("IvmAgg"))
  }

  test("deltaAgg: signed merge retracts the CHANGED group's old row") {
    val q = t("orders").groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), max(col("o_totalprice")).as("mx"))
    val view = Ivm.baseOf(q)
    val sd = Ivm.deltaAgg(view, q)
    // changed-group retraction is real: every status gains δ orders at the
    // date split, so each old (status, cnt, mx) row must leave the view
    assert(sd.retracts.count() > 0, "expected changed-group retractions")
    // identity: Q(full) == (view ∪all inserts) ∖all retracts
    assertMultisetEqual(q, sd.applyTo(view))
    // netting: a group untouched by the delta produces NO traffic — pin
    // via a group key disjoint from the delta partition
    val qUntouched = t("orders")
      .filter(col("o_orderdate") < "1995-01-01")   // all-base slice
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
    val sdU = Ivm.deltaAgg(Ivm.baseOf(qUntouched), qUntouched)
    assert(sdU.inserts.isEmpty && sdU.retracts.isEmpty,
      "untouched groups must not produce signed traffic")
  }

  test("maintainAuto: aggregate FEEDING a join routes to the signed merge rung") {
    // the mid-tree-aggregate promotion (r6): groupBy().agg().join(dim) —
    // the insert-only rewrite refuses (changed groups retract), IvmAgg is
    // root-only, and BOTH sides carry deltas here, so every term of the
    // agg-join algebra (I⋈B, A'⋈δB, R⋈B) is exercised
    // the sum goes through DECIMAL (the engine-wide determinism rule,
    // QueryDef doc): a DOUBLE sum is fp-order-dependent, so the merged
    // value and a full recompute would differ in the last bits and the
    // multiset identity could not hold under ANY maintenance strategy
    val q = (o: DataFrame, c: DataFrame) =>
      o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("sp"))
        .join(c.select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"), "inner")
    Ivm.maintainAuto(q(t("orders"), t("customer"))) match {
      case Ivm.ApplySigned(sd) =>
        assert(sd.retracts.count() > 0, "expected changed-group retractions")
        assertMultisetEqual(
          q(t("orders"), t("customer")),
          sd.applyTo(q(base("orders"), base("customer"))))
      case other => fail(s"expected the signed agg-join rung, got $other")
    }
  }

  test("maintainAuto: Project/Filter ABOVE the agg-join peel onto the signed pair") {
    // `groupBy().agg().join(dim).select(...).filter(...)` — row-wise tops
    // commute with the insert/retract pair, so the whole shape routes to
    // the merge rung, not differencing
    val q = (o: DataFrame, c: DataFrame) =>
      o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
        .join(c.select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"), "inner")
        .select(col("c_name"), col("cnt"), (col("cnt") * 2).as("cnt2"))
        .filter(col("cnt") >= 5)
    Ivm.maintainAuto(q(t("orders"), t("customer"))) match {
      case Ivm.ApplySigned(sd) =>
        assert(sd.inserts.columns.toSeq == Seq("c_name", "cnt", "cnt2"))
        assertMultisetEqual(
          q(t("orders"), t("customer")),
          sd.applyTo(q(base("orders"), base("customer"))))
      case other => fail(s"expected the signed agg-join rung, got $other")
    }
  }

  test("maintainAuto: HAVING over a bare aggregate routes to the signed merge") {
    val q = (o: DataFrame) =>
      o.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), max(col("o_orderkey")).as("mx"))
        .filter(col("cnt") >= 10)
    Ivm.maintainAuto(q(t("orders"))) match {
      case Ivm.ApplySigned(sd) =>
        assertMultisetEqual(q(t("orders")), sd.applyTo(q(base("orders"))))
      case other => fail(s"expected the signed merge rung, got $other")
    }
  }

  test("maintainAuto: projected LEFT OUTER join view peels to the signed rung") {
    // a select/filter top above an outer join previously fell to
    // differencing; the peel re-applies the row-wise tops to both signed
    // frames (f(A − R + I) = f(A) − f(R) + f(I))
    val q = (c: DataFrame, o: DataFrame) =>
      c.select("c_custkey", "c_name")
        .join(o.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")), col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          (col("o_totalprice") > 100.0).as("big"))
        .filter(col("c_custkey") % 3 =!= 1)
    Ivm.maintainAuto(q(t("customer"), t("orders"))) match {
      case Ivm.ApplySigned(sd) =>
        assertMultisetEqual(
          q(t("customer"), t("orders")),
          sd.applyTo(q(base("customer"), base("orders"))))
      case other => fail(s"expected the peeled signed outer rung, got $other")
    }
  }

  test("delta: static unregistered dim joins take the ALGEBRAIC route (r6)") {
    // δ(F ⋈ D) with a static dim D = δF ⋈ D: the dim's delta arm is the
    // empty relation and the optimizer prunes the mixed/δ×δ arms — the
    // star-schema query maintains through Ivm.delta, not differencing
    import spark.implicits._
    val dim = Seq(("O", "open"), ("F", "filled"), ("P", "pending"))
      .toDF("st", "st_name")
    val q = (o: DataFrame) => o.select("o_orderkey", "o_orderstatus")
      .join(dim, col("o_orderstatus") === col("st"), "inner")
      .select("o_orderkey", "st_name")
    check(q(t("orders")), q(base("orders")))
  }

  test("delta: a query with NO registered source anywhere fails fast (r6)") {
    import spark.implicits._
    val loose = Seq((1, "x")).toDF("id", "v")
    val e = intercept[UnsupportedOperationException] {
      Ivm.delta(loose.select("id"))
    }
    assert(e.getMessage.contains("no registered delta source"),
      s"unexpected message: ${e.getMessage}")
  }

  test("baseOf/deltaByDiff: UNREGISTERED static tables pass through (r6)") {
    // a static dim with no DeltaSources registration reads identically in
    // both snapshots — baseOf must treat it as identity, not fail, so the
    // differencing rung (and every signed rung probing a base view) works
    // for queries joining caller-provided static frames
    import spark.implicits._
    val dim = Seq((0, "even"), (1, "odd")).toDF("par", "label")
    val q = (o: DataFrame) => o.select(col("o_orderkey"),
        (col("o_orderkey") % 2).cast("int").as("par"))
      .join(dim, Seq("par"), "inner")
      .select("o_orderkey", "label")
    assertMultisetEqual(
      Ivm.deltaByDiff(q(t("orders"))),
      q(t("orders")).exceptAll(q(base("orders"))))
  }

  test("maintainAuto: BOTH join sides aggregates (agg-join-agg, signed route)") {
    // per-nation customer rollup ⋈ per-nation supplier rollup: both sides
    // carry deltas and both retract their changed groups — the full
    // δA⋈B + A'⋈δB algebra with a signed δB. The supplier side also
    // carries a HAVING top, exercising the other-side peel.
    val q = (c: DataFrame, s: DataFrame) =>
      c.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("c_cnt"))
        .join(
          s.groupBy(col("s_nationkey"))
            .agg(count(lit(1)).as("s_cnt"), max(col("s_acctbal")).as("s_mx"))
            .filter(col("s_cnt") >= 1),
          col("c_nationkey") === col("s_nationkey"), "inner")
    Ivm.maintainAuto(q(t("customer"), t("supplier"))) match {
      case Ivm.ApplySigned(sd) =>
        assertMultisetEqual(
          q(t("customer"), t("supplier")),
          sd.applyTo(q(base("customer"), base("supplier"))))
      case other => fail(s"expected the signed agg-join rung, got $other")
    }
  }

  test("maintainAuto: HAVING between the aggregate and the join peels too") {
    // agg.filter(having).join(dim): the row-wise top sits on the AGG SIDE
    // below the join — peeled side-locally, so the shape still routes to
    // the signed merge rung
    val q = (o: DataFrame, c: DataFrame) =>
      o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 8)
        .join(c.select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"), "inner")
    Ivm.maintainAuto(q(t("orders"), t("customer"))) match {
      case Ivm.ApplySigned(sd) =>
        assertMultisetEqual(
          q(t("orders"), t("customer")),
          sd.applyTo(q(base("orders"), base("customer"))))
      case other => fail(s"expected the signed agg-join rung, got $other")
    }
  }

  test("maintainAuto: aggregate on the RIGHT side of the join, layout kept") {
    val q = (o: DataFrame, c: DataFrame) =>
      c.select("c_custkey", "c_name")
        .join(o.groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt")),
          col("c_custkey") === col("o_custkey"), "inner")
    Ivm.maintainAuto(q(t("orders"), t("customer"))) match {
      case Ivm.ApplySigned(sd) =>
        assert(sd.inserts.columns.toSeq ==
          Seq("c_custkey", "c_name", "o_custkey", "cnt"))
        assertMultisetEqual(
          q(t("orders"), t("customer")),
          sd.applyTo(q(base("orders"), base("customer"))))
      case other => fail(s"expected the signed agg-join rung, got $other")
    }
  }

  test("maintainAuto: full outer join routes to the SIGNED delta") {
    val q = (c: DataFrame, o: DataFrame) =>
      c.join(o, col("c_custkey") === col("o_custkey"), "full")
    Ivm.maintainAuto(q(t("customer"), t("orders"))) match {
      case Ivm.ApplySigned(sd) =>
        assertMultisetEqual(
          q(t("customer"), t("orders")),
          Ivm.baseOf(q(t("customer"), t("orders")))
            .unionByName(sd.inserts).exceptAll(sd.retracts))
      case other => fail(s"expected ApplySigned, got $other")
    }
  }

  test("maintainAuto: left outer join routes to the SIGNED delta") {
    val q = (c: DataFrame, o: DataFrame) =>
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
    // the direct rewrite refuses with the escape hatches named...
    val e = intercept[UnsupportedOperationException] {
      Ivm.delta(q(t("customer"), t("orders")))
    }
    assert(e.getMessage.contains("deltaByDiff") &&
      e.getMessage.contains("retract"), e.getMessage)
    // ...and maintainAuto picks the signed incremental rung, whose
    // insert/retract application reproduces the full view
    Ivm.maintainAuto(q(t("customer"), t("orders"))) match {
      case Ivm.ApplySigned(sd) =>
        assertMultisetEqual(
          q(t("customer"), t("orders")),
          q(base("customer"), base("orders"))
            .unionByName(sd.inserts).exceptAll(sd.retracts))
      case other => fail(s"expected ApplySigned, got $other")
    }
  }

  test("maintainAuto: left anti join routes to the SIGNED delta") {
    val q = (c: DataFrame, o: DataFrame) =>
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
    Ivm.maintainAuto(q(t("customer"), t("orders"))) match {
      case Ivm.ApplySigned(sd) =>
        assertMultisetEqual(
          q(t("customer"), t("orders")),
          q(base("customer"), base("orders"))
            .unionByName(sd.inserts).exceptAll(sd.retracts))
      case other => fail(s"expected ApplySigned, got $other")
    }
  }

  test("deltaKeyScoped: join-then-window with a static dimension table") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // a key-co-partitioned equi-join is per-key decomposable: each output
    // row for user k derives only from both sides' user-k rows, so the
    // rung may enrich the delta source with a dimension BEFORE windowing
    Seq((1L, 10L, 1.0), (2L, 20L, 2.0), (2L, 110L, 3.0), (3L, 30L, 4.0))
      .toDF("user", "ts", "v").createOrReplaceTempView("ksj_ev")
    Seq((1L, "gold"), (2L, "silver"), (3L, "bronze"))
      .toDF("user", "tier").createOrReplaceTempView("ksj_dim")
    DeltaSources.register("ksj_ev", "ts >= 100")
    val src = spark.table("ksj_ev")
    val q = (df: DataFrame) => {
      val w = Window.partitionBy("user").orderBy("ts")
      df.join(spark.table("ksj_dim"), Seq("user"))
        .select(col("user"), col("ts"), col("tier"),
          sum(col("v")).over(w).as("running"))
    }
    val sd = Ivm.deltaKeyScoped(q, src, Seq("user"))
    // the delta touches only user 2 — users 1/3 must not be recomputed
    val touched = (sd.inserts.select("user").collect() ++
      sd.retracts.select("user").collect()).map(_.getLong(0)).toSet
    assert(touched == Set(2L), s"unaffected keys recomputed: $touched")
    val baseQ = {
      val w = Window.partitionBy("user").orderBy("ts")
      src.filter(col("ts") < 100).join(spark.table("ksj_dim"), Seq("user"))
        .select(col("user"), col("ts"), col("tier"),
          sum(col("v")).over(w).as("running"))
    }
    assertMultisetEqual(q(src),
      baseQ.unionByName(sd.inserts).exceptAll(sd.retracts))
  }

  test("deltaKeyScoped: TWO delta sources joined on the key (multi-source)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // deltas land on BOTH sides; the affected-key set is their union, so a
    // new dim row (user 3) recomputes that user's windows even though no
    // event for it is in the event delta
    Seq((1L, 10L, 1.0), (2L, 20L, 2.0), (2L, 110L, 3.0), (3L, 30L, 4.0))
      .toDF("user", "ts", "v").createOrReplaceTempView("ksm_ev")
    Seq((1L, 5L, "x"), (2L, 6L, "y"), (3L, 200L, "z"), (4L, 210L, "w"))
      .toDF("user", "rts", "tag").createOrReplaceTempView("ksm_dim")
    DeltaSources.register("ksm_ev", "ts >= 100")
    DeltaSources.register("ksm_dim", "rts >= 100")
    val src = spark.table("ksm_ev")
    def view(ev: DataFrame, dim: DataFrame): DataFrame = {
      val w = Window.partitionBy("user").orderBy("ts")
      ev.join(dim, Seq("user"))
        .select(col("user"), col("ts"), col("tag"),
          sum(col("v")).over(w).as("running"))
    }
    val sd = Ivm.deltaKeyScoped(
      df => view(df, spark.table("ksm_dim")), src, Seq("user"))
    // event delta touches {2}, dim delta touches {3, 4}; user 1 untouched
    val touched = (sd.inserts.select("user").collect() ++
      sd.retracts.select("user").collect()).map(_.getLong(0)).toSet
    assert(!touched.contains(1L), s"unaffected key recomputed: $touched")
    assert(touched.contains(2L) && touched.contains(3L),
      s"both sides' delta keys must be maintained: $touched")
    val baseQ = view(src.filter(col("ts") < 100),
      spark.table("ksm_dim").filter(col("rts") < 100))
    assertMultisetEqual(view(src, spark.table("ksm_dim")),
      baseQ.unionByName(sd.inserts).exceptAll(sd.retracts))
  }

  test("deltaKeyScoped: a join OFF the scoping key is rejected") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    Seq((1L, 10L, 1.0)).toDF("user", "ts", "v")
      .createOrReplaceTempView("ksr_ev")
    Seq((10L, "x")).toDF("rts", "tag").createOrReplaceTempView("ksr_dim")
    DeltaSources.register("ksr_ev", "ts >= 100")
    val src = spark.table("ksr_ev")
    // joining on ts correlates one user's rows with another's — the scan
    // restriction by user would silently change the join's matches
    val e = intercept[UnsupportedOperationException] {
      Ivm.deltaKeyScoped(df => df
        .join(spark.table("ksr_dim"), col("ts") === col("rts"))
        .select(col("user"), col("ts"),
          sum(col("v")).over(Window.partitionBy("user")).as("s")),
        src, Seq("user"))
    }
    assert(e.getMessage.contains("equate"), e.getMessage)
  }

  test("maintainAuto: key-equated join under a window routes to KEY-SCOPED") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    Seq((1L, 10L, 1.0), (2L, 20L, 2.0), (2L, 110L, 3.0))
      .toDF("user", "ts", "v").createOrReplaceTempView("ksa_ev")
    Seq((1L, "gold"), (2L, "silver"))
      .toDF("user", "tier").createOrReplaceTempView("ksa_dim")
    DeltaSources.register("ksa_ev", "ts >= 100")
    def view(ev: DataFrame): DataFrame = {
      val w = Window.partitionBy("user").orderBy("ts")
      ev.join(spark.table("ksa_dim"), Seq("user"))
        .select(col("user"), col("ts"), col("tier"),
          sum(col("v")).over(w).as("running"))
    }
    Ivm.maintainAuto(view(spark.table("ksa_ev"))) match {
      case Ivm.ApplySigned(sd) =>
        val baseQ = view(spark.table("ksa_ev").filter(col("ts") < 100))
        assertMultisetEqual(view(spark.table("ksa_ev")),
          baseQ.unionByName(sd.inserts).exceptAll(sd.retracts))
      case other => fail(s"expected ApplySigned (key-scoped), got $other")
    }
  }

  test("maintainAuto: grouped MIN/MAX over a signed child routes to " +
      "group-scoped recompute (r7)") {
    import org.apache.spark.sql.types.DecimalType
    // two-level view whose OUTER aggregate carries min/max — the
    // subtractable rung must refuse (a retracted max needs the runner-up)
    // and key-scoping finds no common key across the two aggregates;
    // before r7 this differenced the whole view
    val q = (o: DataFrame, c: DataFrame) =>
      o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sp"))
        .join(c.select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"), "inner")
        .groupBy(col("c_nationkey"))
        .agg(max(col("sp")).as("max_spend"),
          min(col("cnt")).as("min_orders"),
          count(lit(1)).as("n_cust"))
    Ivm.maintainAuto(q(t("orders"), t("customer"))) match {
      case Ivm.ApplySigned(sd) =>
        assert(sd.retracts.count() > 0, "expected changed-group retractions")
        assertMultisetEqual(
          q(t("orders"), t("customer")),
          sd.applyTo(q(base("orders"), base("customer"))))
      case other => fail(s"expected ApplySigned (group-scoped), got $other")
    }
  }

  test("group-scoped recompute surfaces the RUNNER-UP after the max row " +
      "retracts (r7)") {
    import spark.implicits._
    // A: static {(1,10),(1,7),(2,5)}; B: base ∅, δ cancels (1,10) —
    // the EXCEPT child retracts group 10's max, and the recompute must
    // surface the runner-up 7 (no merge algebra can — the view lost it).
    // The COMPUTED group key keeps key-scoping (it scopes by scan
    // columns) from taking the view first.
    Seq((1L, 10L), (1L, 7L), (2L, 5L)).toDF("k", "v")
      .createOrReplaceTempView("gs_a")
    Seq((1L, 10L, 100L)).toDF("k", "v", "m")
      .createOrReplaceTempView("gs_b")
    DeltaSources.register("gs_a", "v >= 999")   // registered, empty δ
    DeltaSources.register("gs_b", "m >= 100")
    def q(b: DataFrame) = spark.table("gs_a")
      .except(b.select("k", "v"))
      .groupBy((col("k") * 10).as("g")).agg(max(col("v")).as("mx"))
    val full = q(spark.table("gs_b"))
    Ivm.maintainAuto(full) match {
      // the group-scoped rung splices, and its cover is the touched
      // group keys alone
      case Ivm.ApplySigned(sd) if sd.spliced &&
          sd.touched.columns.toSeq == Seq("g") =>
        assert(sd.retracts.collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSet == Set((10L, 10L)), "old max must retract")
        assert(sd.inserts.collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSet == Set((10L, 7L)), "runner-up must surface")
        // untouched group 20 nets away entirely
        val baseView = q(spark.table("gs_b").filter(col("m") < 100))
        assertMultisetEqual(full, sd.applyTo(baseView))
      case other => fail(s"expected the group-scoped splice, got $other")
    }
  }

  // ---- group-scoped splice: view ▷ touched ∪all Q(child ⋉ touched) ----

  /** A group-scoped view over an EXCEPT child: `a` is static, every row
    * of `b` is δ (m >= 100), so the child's signed step retracts exactly
    * the `a` rows `b` names. The view groups by COMPUTED keys (`k * 10`
    * as `g`, `upper(k2)` as `g2`), which key-scoping (it scopes by scan
    * columns) cannot reach. Returns the view query, its signed delta,
    * and the stored view (the base answer, materialized).
    */
  private def spliceCase(tag: String, a: DataFrame, b: DataFrame,
      keys: Seq[String]): (DataFrame, Ivm.SignedDelta, DataFrame) = {
    val keyCols = keys.map {
      case "g" => (col("k") * 10).as("g")
      case "g2" => upper(col("k2")).as("g2")
    }
    a.createOrReplaceTempView(s"gsp_${tag}_a")
    b.createOrReplaceTempView(s"gsp_${tag}_b")
    DeltaSources.register(s"gsp_${tag}_a", "v >= 999999") // registered, empty δ
    DeltaSources.register(s"gsp_${tag}_b", "m >= 100")
    val cols = a.columns.toSeq.map(col)
    def q(bRows: DataFrame) = spark.table(s"gsp_${tag}_a")
      .except(bRows.select(cols: _*))
      .groupBy(keyCols: _*).agg(max(col("v")).as("mx"))
    val full = q(spark.table(s"gsp_${tag}_b"))
    val stored = q(spark.table(s"gsp_${tag}_b").filter(col("m") < 100))
      .localCheckpoint()
    Ivm.maintainAuto(full) match {
      case Ivm.ApplySigned(sd) if sd.spliced => (full, sd, stored)
      case other => fail(s"expected the group-scoped splice, got $other")
    }
  }

  /** Whether the splice restricts by joining the touched set (its
    * `__touched_<i>` columns) rather than by an inlined IN list.
    */
  private def splicesByJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.right.output.exists(_.name.startsWith("__touched_"))
      case _ => false
    }

  test("splice: a NULL group key is a real group, touched or not") {
    import spark.implicits._
    val a = Seq((None, 10L), (None, 7L), (Some(1L), 5L), (Some(1L), 4L),
      (Some(2L), 3L)).toDF("k", "v")
    // touched = {NULL}: the NULL group recomputes to its runner-up
    val (q1, sd1, stored1) = spliceCase("null_hit", a,
      Seq((None: Option[Long], 10L, 100L)).toDF("k", "v", "m"), Seq("g"))
    val got1 = sd1.applyTo(stored1)
    assertMultisetEqual(got1, q1)
    assert(got1.filter(col("g").isNull).select("mx").as[Long].collect()
      .toSeq == Seq(7L))
    // touched = {10}: the untouched NULL group must survive the drop side
    // (`g IN (10)` is NULL, not false, for a NULL key)
    val (q2, sd2, stored2) = spliceCase("null_kept", a,
      Seq((Some(1L), 5L, 100L)).toDF("k", "v", "m"), Seq("g"))
    val got2 = sd2.applyTo(stored2)
    assertMultisetEqual(got2, q2)
    assert(got2.filter(col("g").isNull).count() == 1)
    assert(!splicesByJoin(got2), "a small single-key set must inline as IN")
  }

  test("splice: a touched group whose child rows all retract leaves the view") {
    import spark.implicits._
    val (q, sd, stored) = spliceCase("gone",
      Seq((1L, 10L), (2L, 5L), (3L, 4L)).toDF("k", "v"),
      Seq((1L, 10L, 100L)).toDF("k", "v", "m"), Seq("g"))
    val got = sd.applyTo(stored)
    assertMultisetEqual(got, q)
    assert(got.filter(col("g") === 10L).isEmpty, "group 10 must leave")
    assert(sd.retracts.as[(Long, Long)].collect().toSet == Set((10L, 10L)))
    assert(sd.inserts.isEmpty)
  }

  test("splice: a value-stable touched group is rewritten unchanged") {
    import spark.implicits._
    // δ cancels group 10's runner-up: the group is touched, its max stays
    val (q, sd, stored) = spliceCase("stable",
      Seq((1L, 10L), (1L, 7L), (2L, 5L)).toDF("k", "v"),
      Seq((1L, 7L, 100L)).toDF("k", "v", "m"), Seq("g"))
    assert(sd.touched.select("g").as[Long].collect().toSet == Set(10L))
    val got = sd.applyTo(stored)
    assertMultisetEqual(got, q)
    assertMultisetEqual(got, stored)
    // the netted pair drops it entirely
    assert(sd.inserts.isEmpty && sd.retracts.isEmpty)
  }

  test("splice: composite-key and above-cap touched sets take the join form") {
    import spark.implicits._
    val (q1, sd1, stored1) = spliceCase("composite",
      Seq((1L, "x", 10L), (1L, "x", 7L), (1L, "y", 4L), (2L, "x", 3L),
        (1L, "X", 2L))
        .toDF("k", "k2", "v"),
      Seq((1L, "x", 10L, 100L)).toDF("k", "k2", "v", "m"), Seq("g", "g2"))
    val got1 = sd1.applyTo(stored1)
    assert(splicesByJoin(got1), "composite keys must splice by join")
    assertMultisetEqual(got1, q1)
    // 10,001 touched single-key groups: one past the inline cap
    val n = 10001L
    val a = spark.range(n).select(col("id").as("k"), lit(1L).as("v"))
      .union(spark.range(n).select(col("id").as("k"), lit(2L).as("v")))
    val (q2, sd2, stored2) = spliceCase("above_cap", a,
      spark.range(n).select(col("id").as("k"), lit(2L).as("v"),
        lit(100L).as("m")), Seq("g"))
    val got2 = sd2.applyTo(stored2)
    assert(splicesByJoin(got2), "above the cap the splice must join")
    assertMultisetEqual(got2, q2)
    assert(got2.filter(col("mx") =!= 1L).isEmpty)
  }

  test("splice: a dim-side δ row touches a group the aggregate side does not") {
    import spark.implicits._
    // agg ⋈ dim child, both sides registered: δ orders touch customer 1
    // (nation 10); a δ dim row files customer 2 under nation 30 as well,
    // so nation 30 gains a group only the dim side's change reaches
    Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 1L, 1000L))
      .toDF("o_id", "o_cust", "o_amt").createOrReplaceTempView("gsp_dim_o")
    Seq((1L, 10L, 0L), (2L, 20L, 0L), (2L, 30L, 1L))
      .toDF("c_key", "c_nation", "c_flag").createOrReplaceTempView("gsp_dim_c")
    DeltaSources.register("gsp_dim_o", "o_amt >= 1000")
    DeltaSources.register("gsp_dim_c", "c_flag = 1")
    def q(o: DataFrame, c: DataFrame) =
      o.groupBy("o_cust").agg(count(lit(1)).as("cnt"), sum("o_amt").as("amt"))
        .join(c, col("o_cust") === col("c_key"))
        .groupBy("c_nation")
        .agg(max("amt").as("max_amt"), min("cnt").as("min_cnt"))
    val full = q(spark.table("gsp_dim_o"), spark.table("gsp_dim_c"))
    val stored = q(spark.table("gsp_dim_o").filter(col("o_amt") < 1000),
      spark.table("gsp_dim_c").filter(col("c_flag") =!= 1)).localCheckpoint()
    Ivm.maintainAuto(full) match {
      case Ivm.ApplySigned(sd) if sd.spliced =>
        assert(sd.touched.select("c_nation").as[Long].collect().toSet ==
          Set(10L, 30L))
        val got = sd.applyTo(stored)
        assertMultisetEqual(got, full)
        assert(got.filter(col("c_nation") === 30L).count() == 1)
      case other => fail(s"expected the group-scoped splice, got $other")
    }
  }

  test("splice: applyTo equals the recompute with exchange reuse on and off") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    type Bag = Map[Seq[Any], Int]
    def bag(df: DataFrame, cols: Seq[String]): Bag =
      df.select(cols.map(col): _*).collect().toSeq.map(_.toSeq)
        .groupBy(identity).view.mapValues(_.size).toMap
    def minus(a: Bag, b: Bag): Bag = a.flatMap { case (r, n) =>
      Some(r -> (n - b.getOrElse(r, 0))).filter(_._2 > 0) }
    def signs(b: Bag, s: Int): Bag = b.map { case (r, n) => (r :+ s) -> n }
    val dec = (c: String) => col(c).cast(DecimalType(18, 2))
    def q(keys: Seq[String])(o: DataFrame, c: DataFrame) =
      o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"), sum(dec("o_totalprice")).as("sp"))
        .join(c.select("c_custkey", "c_nationkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"), "inner")
        .groupBy(keys.map(col): _*)
        .agg(max(col("sp")).as("max_spend"),
          min(col("cnt")).as("min_orders"), count(lit(1)).as("n_cust"))
    def tpch(f: (DataFrame, DataFrame) => DataFrame) =
      (() => f(t("orders"), t("customer")),
        () => f(base("orders"), base("customer")))
    val (a, b) = joinSides("reuse")
    def sides(f: (DataFrame, DataFrame) => DataFrame) =
      (() => f(spark.table(a), spark.table(b)),
        () => f(spark.table(a).filter(col("af") =!= 1),
          spark.table(b).filter(col("bf") =!= 1)))
    val on = col("k") === col("k2")
    val ord = Seq(col("v").desc, col("o_orderkey").asc)
    val orders = (o: DataFrame) =>
      o.select(col("o_orderkey"), col("o_custkey"), dec("o_totalprice").as("v"))
    // every signed rung: (name, splices?, Q(full), Q(base), the delta —
    // None routes Q(full) through maintainAuto)
    val cases: Seq[(String, Boolean, (() => DataFrame, () => DataFrame),
        Option[() => Ivm.SignedDelta])] = Seq(
      ("group-scoped, one key", true, tpch(q(Seq("c_nationkey"))), None),
      ("group-scoped, two keys", true,
        tpch(q(Seq("c_nationkey", "c_mktsegment"))), None),
      ("left join", true, sides(_.join(_, on, "left")), None),
      ("right join", true, sides(_.join(_, on, "right")), None),
      ("full join", true, sides(_.join(_, on, "full")), None),
      ("anti join", true, sides(_.join(_, on, "left_anti")), None),
      ("peeled top keeping the key", true,
        sides(_.join(_, on, "left").select("k", "av", "bv")), None),
      ("key-scoped", true, tpch((o, _) => orders(o).withColumn("run",
        sum("v").over(Window.partitionBy("o_custkey").orderBy("o_orderkey")))),
        None),
      ("except", false, sides((x, y) =>
        x.select("k").except(y.select(col("k2").as("k")))), None),
      ("top-k", false, tpch((o, _) => orders(o).orderBy(ord: _*).limit(7)),
        None),
      ("grouped top-k", false, tpch((o, _) =>
        Ivm.groupTopK(orders(o), Seq("o_custkey"), ord, 2)),
        Some(() => Ivm.deltaGroupTopK(orders(t("orders")), Seq("o_custkey"),
          ord, 2))),
      ("agg-join", false, tpch((o, c) => o.groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"), sum(dec("o_totalprice")).as("sp"))
        .join(c.select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))), None),
      ("agg-join-agg", false, tpch((o, c) => o.groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"))
        .join(c.groupBy("c_nationkey").agg(count(lit(1)).as("n")),
          col("o_custkey") === col("c_nationkey"))), None),
      ("two-level", false, tpch((o, c) => o.groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"),
          sum(coalesce(dec("o_totalprice"), lit(0))).as("sp"))
        .join(c.select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"),
          sum("cnt").as("n_orders"))), None),
      ("keyless outer join", false,
        sides(_.join(_, col("k") < col("k2"), "left")), None),
      ("key-dropping top", false,
        sides(_.join(_, on, "left").select("av", "bv")), None),
      ("caller-built pair", false,
        sides((x, y) => x.join(y, on).select("k", "av", "bv")),
        Some(() => Ivm.SignedDelta(
          spark.table(a).join(spark.table(b), on)
            .filter(col("af") === 1 || col("bf") === 1).select("k", "av", "bv"),
          spark.table(a).limit(0).join(spark.table(b), on)
            .select("k", "av", "bv")))))
    val key = "spark.sql.exchange.reuse"
    for ((name, spliced, (full, baseQ), make) <- cases) {
      val cols = full().columns.toSeq
      val (want, was) = (bag(full(), cols), bag(baseQ(), cols))
      val stored = baseQ().localCheckpoint()
      for (reuse <- Seq("true", "false")) try {
        spark.conf.set(key, reuse)
        val sd = make.map(_()).getOrElse(Ivm.maintainAuto(full()) match {
          case Ivm.ApplySigned(sd) => sd
          case other => fail(s"$name: expected a signed rung, got $other")
        })
        assert(sd.spliced == spliced, s"$name: expected spliced=$spliced")
        val applied = sd.applyTo(stored)
        assert(bag(applied, cols) == want, s"$name (reuse $reuse): applyTo")
        if (name.startsWith("group-scoped"))
          assert(splicesByJoin(applied) == name.endsWith("two keys"))
        // both nets in ONE query: the minimal signed difference
        val both = sd.inserts.select(cols.map(col) :+ lit(1).as("s"): _*)
          .unionByName(sd.retracts.select(cols.map(col) :+ lit(-1).as("s"): _*))
        assert(bag(both, cols :+ "s") ==
          signs(minus(want, was), 1) ++ signs(minus(was, want), -1),
          s"$name (reuse $reuse): inserts ∪all retracts")
      } finally spark.conf.unset(key)
    }
  }

  // ---- outer/anti join splice: view ▷ touched ∪all (A ⋉ t) ⋈ (B ⋉ t) ----

  /** A(k, av, af) and B(k2, bv, bf), δ rows flagged `af`/`bf` = 1:
    *   key 2 — a base and a δ left row, three right matches (one base)
    *   key 3 — a base left row only δB matches: its null extension leaves
    *   key 6 — a δ left row with no match
    *   key 7 — a δ right row with no match (right/full joins keep it)
    *   NULL  — left and right rows, base and δ, on either side
    */
  private def joinSides(tag: String): (String, String) = {
    import spark.implicits._
    Seq((Some(1L), "a1", 0), (Some(2L), "a2", 0), (Some(3L), "a3", 0),
        (Some(4L), "a4", 0), (None, "an", 0),
        (Some(6L), "a6", 1), (Some(2L), "a2b", 1), (None, "an2", 1))
      .toDF("k", "av", "af").createOrReplaceTempView(s"jsp_${tag}_a")
    Seq((Some(2L), 10L, 0), (Some(4L), 12L, 0), (None, 11L, 0),
        (Some(3L), 100L, 1), (Some(2L), 110L, 1), (Some(2L), 120L, 1),
        (Some(7L), 140L, 1), (None, 130L, 1))
      .toDF("k2", "bv", "bf").createOrReplaceTempView(s"jsp_${tag}_b")
    DeltaSources.register(s"jsp_${tag}_a", "af = 1")
    DeltaSources.register(s"jsp_${tag}_b", "bf = 1")
    (s"jsp_${tag}_a", s"jsp_${tag}_b")
  }

  /** Maintain `q` over the fixture from its stored base answer, with
    * exchange reuse on and off: `applyTo` must equal the recompute, and
    * splice exactly when `spliced`. Returns the applied view (reuse on).
    */
  private def joinSplice(tag: String, spliced: Boolean)(
      q: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val (a, b) = joinSides(tag)
    val key = "spark.sql.exchange.reuse"
    val got = for (reuse <- Seq("true", "false")) yield {
      spark.conf.set(key, reuse)
      try {
        val full = q(spark.table(a), spark.table(b))
        val stored = q(spark.table(a).filter(col("af") =!= 1),
          spark.table(b).filter(col("bf") =!= 1)).localCheckpoint()
        Ivm.maintainAuto(full) match {
          case Ivm.ApplySigned(sd) =>
            assert(sd.spliced == spliced, s"$tag: expected spliced=$spliced")
            val applied = sd.applyTo(stored).localCheckpoint()
            assertMultisetEqual(applied, full)
            applied
          case other => fail(s"$tag: expected ApplySigned, got $other")
        }
      } finally spark.conf.unset(key)
    }
    got.head
  }

  test("join splice: left outer join — NULL keys, a newly matched null " +
      "extension, an unmatched δ, several matches") {
    val eq = (a: DataFrame, b: DataFrame) =>
      a.join(b, col("k") === col("k2"), "left")
    val got = joinSplice("left", spliced = true)(eq)
    // δB (3, 100) matches base row 3: its null extension must leave
    assert(got.filter(col("k") === 3L && col("k2").isNull).isEmpty)
    assert(got.filter(col("k") === 3L).count() == 1)
    // the unmatched δ left row arrives null-extended
    assert(got.filter(col("k") === 6L && col("k2").isNull).count() == 1)
    // key 2: two left rows × three right matches
    assert(got.filter(col("k") === 2L).count() == 6)
    // `=` never matches a NULL key: both NULL left rows stay null-extended
    assert(got.filter(col("k").isNull && col("k2").isNull).count() == 2)
    // `<=>` does: each NULL left row matches both NULL right rows
    val nullSafe = joinSplice("left_ns", spliced = true)((a, b) =>
      a.join(b, col("k") <=> col("k2") && col("bv") > 0, "left"))
    assert(nullSafe.filter(col("k").isNull).count() == 4)
  }

  test("join splice: right outer, full outer and anti join mirrors") {
    val right = joinSplice("right", spliced = true)((a, b) =>
      a.join(b, col("k") === col("k2"), "right"))
    assert(right.columns.toSeq == Seq("k", "av", "af", "k2", "bv", "bf"))
    assert(right.filter(col("k2") === 7L && col("k").isNull).count() == 1)
    assert(right.filter(col("k2").isNull && col("k").isNull).count() == 2)
    val full = joinSplice("full", spliced = true)((a, b) =>
      a.join(b, col("k") === col("k2"), "full"))
    assert(full.filter(col("k") === 3L && col("k2").isNull).isEmpty)
    assert(full.filter(coalesce(col("k"), col("k2")).isNull).count() == 4)
    val anti = joinSplice("anti", spliced = true)((a, b) =>
      a.join(b, col("k") === col("k2"), "left_anti"))
    // δB retracts 3; 6 and both NULL rows match nothing
    assert(anti.select("av").collect().map(_.getString(0)).toSet ==
      Set("a1", "a6", "an", "an2"))
  }

  test("join splice: peeled tops splice while they keep the key, and the " +
      "pair form applies when a projection drops it") {
    val kept = joinSplice("peel_kept", spliced = true)((a, b) =>
      a.join(b, col("k") === col("k2"), "left")
        .filter(col("av") =!= "a4").select("k", "av", "bv"))
    assert(kept.columns.toSeq == Seq("k", "av", "bv"))
    joinSplice("peel_dropped", spliced = false)((a, b) =>
      a.join(b, col("k") === col("k2"), "left").select("av", "bv"))
    joinSplice("peel_renamed", spliced = false)((a, b) =>
      a.join(b, col("k") === col("k2"), "left_anti")
        .select(col("k").as("kk"), col("av")))
  }

  test("join splice: applyTo runs no pin jobs") {
    val (a, b) = joinSides("jobs")
    val q = (x: DataFrame, y: DataFrame) =>
      x.join(y, col("k") === col("k2"), "left")
    val stored = q(spark.table(a).filter(col("af") =!= 1),
      spark.table(b).filter(col("bf") =!= 1)).localCheckpoint()
    val sd = Ivm.deltaLeftJoin(spark.table(a), spark.table(b),
      col("k") === col("k2"))
    assert(sd.spliced)
    val pins = (descs: Seq[String]) =>
      descs.count(d => d.contains("ivm:applyTo-pin") || d.contains("ivm:pin"))
    val (rows, descs) = jobsOf(sd.applyTo(stored).collect())
    assert(pins(descs) == 0, s"the splice pinned: $descs")
    assert(rows.length == q(spark.table(a), spark.table(b)).count())
    // the same change applied as a weighted frame pins nothing either
    val (pairRows, pairDescs) = jobsOf(
      Ivm.SignedDelta(sd.inserts, sd.retracts).applyTo(stored).collect())
    assert(pins(pairDescs) == 0, s"the weighted form pinned: $pairDescs")
    assert(pairRows.length == rows.length)
  }

  /** `body`'s result and the descriptions of the jobs it ran. */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")); ()
      }
    }
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graft.ListenerBus.drain(sc)
      import scala.jdk.CollectionConverters._
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  test("a lazy pin runs its plan's exchange stages when it is taken") {
    // `localCheckpoint(false)` defers only the FINAL stage: under AQE the
    // shuffle and broadcast stages below it run at construction, one job
    // each — a pin over an exchange is never free to build
    def jobs[T](body: => T): (T, Int) = {
      val (r, descs) = jobsOf(body)
      (r, descs.size)
    }
    val grouped = spark.range(1000)
      .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("c"))
    val (pinned, built) = jobs(grouped.localCheckpoint(false))
    assert(built == 1, s"one exchange: expected 1 job at construction, got $built")
    val (_, consumed) = jobs(pinned.collect())
    assert(consumed >= 1, "the final stage runs at first use")
    // one exchange plus one broadcast: two jobs before the frame is used
    val joined = grouped.join(broadcast(spark.range(7).toDF("k")), "k")
    val (_, built2) = jobs(joined.localCheckpoint(false))
    assert(built2 == 2, s"expected 2 jobs at construction, got $built2")
  }
}
