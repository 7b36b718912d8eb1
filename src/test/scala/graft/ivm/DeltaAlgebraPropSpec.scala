package graft.ivm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Property-style test (SURVEY.md §5.4): the delta algebra identity
  * `delta(Q) == Q(full) − Q(base)` on randomized small tables for
  * filter/join/union, with randomized key-modulo splits — so the identity
  * isn't an artifact of the fixed testdata distribution. Seeded PRNG keeps
  * runs deterministic.
  */
class DeltaAlgebraPropSpec extends AnyFunSuite with SparkFixture {

  private val Cases = 8

  private def randTable(rnd: scala.util.Random): List[(Int, Int)] =
    List.fill(rnd.nextInt(30))((rnd.nextInt(13), rnd.nextInt(6)))

  private def df(data: List[(Int, Int)], kCol: String, vCol: String): DataFrame = {
    import spark.implicits._
    data.toDF(kCol, vCol)
  }

  private def multisetEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Check delta(Q) == Q(full) − Q(base) with tables registered as temp
    * views (the delta source registry resolves view names) and a random
    * modulo split per side.
    */
  private def checkIdentity(
      t1: List[(Int, Int)], t2: List[(Int, Int)], m1: Int, m2: Int,
      q: (DataFrame, DataFrame) => DataFrame): Unit = {
    df(t1, "k1", "v1").createOrReplaceTempView("prop_t1")
    df(t2, "k2", "v2").createOrReplaceTempView("prop_t2")
    DeltaSources.register("prop_t1", s"k1 % $m1 = 0")
    DeltaSources.register("prop_t2", s"k2 % $m2 = 0")
    val v1 = spark.table("prop_t1"); val v2 = spark.table("prop_t2")
    val base1 = v1.filter(expr(s"NOT (k1 % $m1 = 0)"))
    val base2 = v2.filter(expr(s"NOT (k2 % $m2 = 0)"))
    val dq = Ivm.delta(q(v1, v2))
    val expected = q(v1, v2).exceptAll(q(base1, base2))
    assert(multisetEqual(dq, expected),
      s"identity failed for m1=$m1 m2=$m2 t1=$t1 t2=$t2")
  }

  test("property: filter+projection delta identity") {
    val rnd = new scala.util.Random(1)
    (1 to Cases).foreach { _ =>
      checkIdentity(randTable(rnd), Nil, 2 + rnd.nextInt(3), 2,
        (a, _) => a.filter(col("v1") > 2).select("k1"))
    }
  }

  test("property: inner equi-join delta identity") {
    val rnd = new scala.util.Random(2)
    (1 to Cases).foreach { _ =>
      checkIdentity(randTable(rnd), randTable(rnd),
        2 + rnd.nextInt(3), 2 + rnd.nextInt(3),
        (a, b) => a.join(b, col("v1") === col("v2"), "inner")
          .select("k1", "k2"))
    }
  }

  test("property: union-all delta identity") {
    val rnd = new scala.util.Random(3)
    (1 to Cases).foreach { _ =>
      checkIdentity(randTable(rnd), randTable(rnd),
        2 + rnd.nextInt(3), 2 + rnd.nextInt(3),
        (a, b) => a.select(col("k1").as("k"))
          .union(b.select(col("k2").as("k"))))
    }
  }

  test("property: left semi join delta identity (r3 envelope extension)") {
    val rnd = new scala.util.Random(5)
    (1 to Cases).foreach { _ =>
      checkIdentity(randTable(rnd), randTable(rnd),
        2 + rnd.nextInt(3), 2 + rnd.nextInt(3),
        (a, b) => a.join(b, col("v1") === col("v2"), "left_semi")
          .select("k1", "v1"))
    }
  }

  test("property: signed left/right/full outer and anti join deltas") {
    val rnd = new scala.util.Random(6)
    (1 to Cases).foreach { _ =>
      df(randTable(rnd), "k1", "v1").createOrReplaceTempView("prop_t1")
      df(randTable(rnd), "k2", "v2").createOrReplaceTempView("prop_t2")
      val m1 = 2 + rnd.nextInt(3); val m2 = 2 + rnd.nextInt(3)
      DeltaSources.register("prop_t1", s"k1 % $m1 = 0")
      DeltaSources.register("prop_t2", s"k2 % $m2 = 0")
      val v1 = spark.table("prop_t1"); val v2 = spark.table("prop_t2")
      val base1 = v1.filter(expr(s"NOT (k1 % $m1 = 0)"))
      val base2 = v2.filter(expr(s"NOT (k2 % $m2 = 0)"))
      val cond = col("v1") === col("v2")
      for ((jt, signed) <- Seq(
          "left" -> Ivm.deltaLeftJoin(v1, v2, cond),
          "right" -> Ivm.deltaRightJoin(v1, v2, cond),
          "full" -> Ivm.deltaFullJoin(v1, v2, cond),
          "left_anti" -> Ivm.deltaAntiJoin(v1, v2, cond))) {
        val full = v1.join(v2, cond, jt)
        val baseView = base1.join(base2, cond, jt)
        val applied = baseView.unionByName(signed.inserts)
          .exceptAll(signed.retracts)
        assert(multisetEqual(full, applied),
          s"signed $jt identity failed for m1=$m1 m2=$m2")
      }
    }
  }

  test("property: aggregate maintenance identity (IvmAgg)") {
    val rnd = new scala.util.Random(4)
    (1 to Cases).foreach { _ =>
      val data = (1, 1) :: randTable(rnd) // ≥1 row so max() groups exist
      val m = 2 + rnd.nextInt(3)
      df(data, "k1", "v1").createOrReplaceTempView("prop_agg")
      DeltaSources.register("prop_agg", s"k1 % $m = 0")
      val v = spark.table("prop_agg")
      val q = (d: DataFrame) => d.groupBy("k1")
        .agg(count(lit(1)).as("cnt"), sum(col("v1")).as("s"),
          min(col("v1")).as("mn"), max(col("v1")).as("mx"))
      val baseDf = v.filter(expr(s"NOT (k1 % $m = 0)"))
      val maintained = IvmAgg.maintain(q(baseDf), q(v))
      assert(multisetEqual(maintained, q(v)),
        s"agg maintenance failed for m=$m data=$data")
    }
  }

  test("property: SIGNED aggregate delta identity (deltaAgg, r6)") {
    val rnd = new scala.util.Random(7)
    (1 to Cases).foreach { _ =>
      val data = (1, 1) :: randTable(rnd)
      val m = 2 + rnd.nextInt(3)
      df(data, "k1", "v1").createOrReplaceTempView("prop_sagg")
      DeltaSources.register("prop_sagg", s"k1 % $m = 0")
      val v = spark.table("prop_sagg")
      val q = (d: DataFrame) => d.groupBy("k1")
        .agg(count(lit(1)).as("cnt"), sum(col("v1")).as("s"),
          min(col("v1")).as("mn"), max(col("v1")).as("mx"))
      val view = q(v.filter(expr(s"NOT (k1 % $m = 0)")))
      val sd = Ivm.deltaAgg(view, q(v))
      assert(multisetEqual(sd.applyTo(view), q(v)),
        s"signed agg identity failed for m=$m data=$data")
      // netting: retracts never mention groups the delta did not touch
      val touched = v.filter(expr(s"k1 % $m = 0"))
        .select("k1").distinct().collect().map(_.getInt(0)).toSet
      val retracted = sd.retracts.select("k1").collect()
        .map(_.getInt(0)).toSet
      assert(retracted.subsetOf(touched),
        s"retracted untouched groups: ${retracted -- touched} (m=$m)")
    }
  }

  test("property: agg-join signed route identity (maintainAuto, r6)") {
    val rnd = new scala.util.Random(8)
    (1 to Cases).foreach { _ =>
      val data = (1, 1) :: randTable(rnd)
      val dim = randTable(rnd).map { case (k, v) => (k, s"n$v") }.distinct
      val m = 2 + rnd.nextInt(3); val md = 2 + rnd.nextInt(3)
      df(data, "k1", "v1").createOrReplaceTempView("prop_aj_f")
      import spark.implicits._
      dim.toDF("k2", "nm").createOrReplaceTempView("prop_aj_d")
      DeltaSources.register("prop_aj_f", s"k1 % $m = 0")
      DeltaSources.register("prop_aj_d", s"k2 % $md = 0")
      val q = (f: DataFrame, d: DataFrame) =>
        f.groupBy("k1").agg(count(lit(1)).as("cnt"), sum(col("v1")).as("s"))
          .join(d, col("k1") === col("k2"), "inner")
      val full = q(spark.table("prop_aj_f"), spark.table("prop_aj_d"))
      val baseView = q(
        spark.table("prop_aj_f").filter(expr(s"NOT (k1 % $m = 0)")),
        spark.table("prop_aj_d").filter(expr(s"NOT (k2 % $md = 0)")))
      Ivm.maintainAuto(full) match {
        case Ivm.ApplySigned(sd) =>
          assert(multisetEqual(sd.applyTo(baseView), full),
            s"agg-join identity failed for m=$m md=$md data=$data dim=$dim")
        case other => fail(s"expected the signed agg-join rung, got $other")
      }
    }
  }

  test("property: agg-JOIN-agg signed route identity (both sides aggregate, r6)") {
    val rnd = new scala.util.Random(9)
    (1 to Cases).foreach { _ =>
      // (1,1) on both sides guarantees a non-empty join; random splits on
      // both sides exercise every term of δA⋈B + A'⋈δB (Ib AND Rb arms)
      val dataL = (1, 1) :: randTable(rnd)
      val dataR = (1, 1) :: randTable(rnd)
      val mL = 2 + rnd.nextInt(3); val mR = 2 + rnd.nextInt(3)
      df(dataL, "k1", "v1").createOrReplaceTempView("prop_aa_l")
      df(dataR, "k2", "v2").createOrReplaceTempView("prop_aa_r")
      DeltaSources.register("prop_aa_l", s"k1 % $mL = 0")
      DeltaSources.register("prop_aa_r", s"k2 % $mR = 0")
      val q = (l: DataFrame, r: DataFrame) =>
        l.groupBy("k1").agg(count(lit(1)).as("lcnt"), sum(col("v1")).as("ls"))
          .join(
            r.groupBy("k2").agg(count(lit(1)).as("rcnt"),
              max(col("v2")).as("rmx")),
            col("k1") === col("k2"), "inner")
      val full = q(spark.table("prop_aa_l"), spark.table("prop_aa_r"))
      val baseView = q(
        spark.table("prop_aa_l").filter(expr(s"NOT (k1 % $mL = 0)")),
        spark.table("prop_aa_r").filter(expr(s"NOT (k2 % $mR = 0)")))
      Ivm.maintainAuto(full) match {
        case Ivm.ApplySigned(sd) =>
          assert(multisetEqual(sd.applyTo(baseView), full),
            s"agg-join-agg identity failed for mL=$mL mR=$mR " +
              s"dataL=$dataL dataR=$dataR")
        case other => fail(s"expected the signed agg-join rung, got $other")
      }
    }
  }

  test("property: TWO-LEVEL aggregate identity (agg over agg-join, r6)") {
    val rnd = new scala.util.Random(10)
    (1 to Cases).foreach { _ =>
      val fact = (1, 1) :: randTable(rnd)
      val dim = randTable(rnd).map { case (k, v) => (k, k % 4, s"g$v") }
        .distinctBy(_._1)
      val m = 2 + rnd.nextInt(3); val md = 2 + rnd.nextInt(3)
      df(fact, "k1", "v1").createOrReplaceTempView("prop_tl_f")
      import spark.implicits._
      dim.toDF("k2", "grp", "nm").createOrReplaceTempView("prop_tl_d")
      DeltaSources.register("prop_tl_f", s"k1 % $m = 0")
      DeltaSources.register("prop_tl_d", s"k2 % $md = 0")
      // inner: per-key rollup joined to the dim; outer: per-dim-group
      // re-aggregation — count(*) tracker + subtractable sums
      val q = (f: DataFrame, d: DataFrame) =>
        f.groupBy("k1").agg(count(lit(1)).as("cnt"), sum(col("v1")).as("s"))
          .join(d, col("k1") === col("k2"), "inner")
          .groupBy("grp")
          .agg(count(lit(1)).as("n_keys"),
            sum(coalesce(col("cnt"), lit(0L))).as("n_rows"),
            sum(coalesce(col("s"), lit(0L))).as("tot"))
      val full = q(spark.table("prop_tl_f"), spark.table("prop_tl_d"))
      val baseView = q(
        spark.table("prop_tl_f").filter(expr(s"NOT (k1 % $m = 0)")),
        spark.table("prop_tl_d").filter(expr(s"NOT (k2 % $md = 0)")))
      Ivm.maintainAuto(full) match {
        case Ivm.ApplySigned(sd) =>
          assert(multisetEqual(sd.applyTo(baseView), full),
            s"two-level identity failed for m=$m md=$md " +
              s"fact=$fact dim=$dim")
        case other => fail(s"expected the two-level signed rung, got $other")
      }
    }
  }

  test("property: grouped top-k signed identity, STRING and NUMERIC keys (r8)") {
    // the round-7 regression class: a STRING group key must never be
    // wired into a numeric slot by the rung's re-mint/pin composition
    // (positional mis-binding casts the key and throws), and untouched
    // groups must stay silent — checked across random tables, random
    // splits, and both key types
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (1 to Cases).foreach { i =>
      val rows = (1, 1) :: randTable(rnd)
      val m = 2 + rnd.nextInt(3)
      val k = 1 + rnd.nextInt(3)
      val useStringKey = i % 2 == 0
      val data = rows.zipWithIndex.map { case ((g, v), ix) =>
        (ix.toLong, if (useStringKey) s"s$g" else g.toString, v.toLong)
      }
      val src = data.toDF("id", "gk", "v")
      val frame = if (useStringKey) src
        else src.select(col("id"), col("gk").cast("int").as("gk"), col("v"))
      frame.createOrReplaceTempView("prop_gtk")
      DeltaSources.register("prop_gtk", s"id % $m = 0")
      val ord = Seq(col("v").desc, col("id").asc)
      val full = spark.table("prop_gtk")
      val prev = Ivm.groupTopK(Ivm.baseOf(full), Seq("gk"), ord, k)
      val want = Ivm.groupTopK(full, Seq("gk"), ord, k)
      // merge-rung identity
      assert(multisetEqual(
        Ivm.groupTopKMerge(prev, Ivm.delta(full), Seq("gk"), ord, k), want),
        s"groupTopKMerge identity failed m=$m k=$k str=$useStringKey rows=$rows")
      // signed identity + retract containment
      val sd = Ivm.deltaGroupTopK(full, Seq("gk"), ord, k)
      assert(multisetEqual(sd.applyTo(prev), want),
        s"deltaGroupTopK identity failed m=$m k=$k str=$useStringKey rows=$rows")
      assert(sd.retracts.select(prev.columns.map(col): _*)
        .exceptAll(prev).isEmpty,
        s"retracts outside the stored view m=$m k=$k str=$useStringKey")
    }
  }

  // ---- weight algebra: a SignedDelta is one weighted frame (a Z-set) ----

  private type Bag = Map[Seq[Any], Int]

  /** A frame's rows as a multiset, collected once (cheaper than two
    * `exceptAll` queries).
    */
  private def bag(d: DataFrame): Bag =
    d.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  private def bag(rows: List[(Int, Int)]): Bag =
    rows.map(r => Seq[Any](r._1, r._2)).groupBy(identity).view.mapValues(_.size).toMap

  private def plus(a: Bag, b: Bag): Bag =
    (a.keySet ++ b.keySet).map(r => r -> (a.getOrElse(r, 0) + b.getOrElse(r, 0))).toMap

  /** Multiset difference `a ∖all b`. */
  private def minus(a: Bag, b: Bag): Bag = a.flatMap { case (r, n) =>
    Some(r -> (n - b.getOrElse(r, 0))).filter(_._2 > 0) }

  test("property: SignedDelta(i, r) round-trips to i ∖all r and r ∖all i") {
    val rnd = new scala.util.Random(12)
    (1 to Cases).foreach { _ =>
      val (i, r) = (randTable(rnd), randTable(rnd) ++ randTable(rnd).take(3))
      val sd = Ivm.SignedDelta(df(i, "k", "v"), df(r, "k", "v"))
      assert(bag(sd.inserts) == minus(bag(i), bag(r)), s"inserts, i=$i r=$r")
      assert(bag(sd.retracts) == minus(bag(r), bag(i)), s"retracts, i=$i r=$r")
    }
  }

  test("property: netting is additive over ⊎") {
    // net(a ⊎ b) == net(net(a) ⊎ net(b)): netting each change first and
    // then their sum is the same change as netting the sum once — and the
    // weighted frames add by plain union
    val rnd = new scala.util.Random(13)
    (1 to Cases).foreach { _ =>
      val Seq(i1, r1, i2, r2) = Seq.fill(4)(randTable(rnd))
      val Seq(x, y) = Seq((i1, r1), (i2, r2)).map { case (i, r) =>
        Ivm.SignedDelta(df(i, "k", "v"), df(r, "k", "v")) }
      val ofNets = Ivm.SignedDelta(x.inserts.unionByName(y.inserts),
        x.retracts.unionByName(y.retracts))
      val (ins, ret) = (bag(i1 ++ i2), bag(r1 ++ r2))
      assert(bag(ofNets.inserts) == minus(ins, ret) &&
        bag(ofNets.retracts) == minus(ret, ins), "netting not additive")
      val added = Ivm.SignedDelta.netPositive(
        x.weighted.unionByName(y.weighted))
      assert(bag(added) == minus(ins, ret), "weighted frames do not add")
    }
  }

  test("property: the weighted-form rungs apply Q(base) to Q(full)") {
    // EXCEPT, top-k, a keyless outer join, a top that drops the join key
    // and a caller-built pair: none splices, so applyTo nets the view with
    // the weighted frame (the grouped top-k, agg-join, agg⋈agg and
    // two-level rungs are checked by the properties above)
    import spark.implicits._
    val rnd = new scala.util.Random(14)
    (1 to Cases).foreach { _ =>
      val t1 = ((1, 1) :: randTable(rnd)).distinct
      val t2 = (1, 1) :: randTable(rnd)
      val m1 = 2 + rnd.nextInt(3); val m2 = 2 + rnd.nextInt(3)
      df(t1, "k1", "v1").createOrReplaceTempView("prop_t1")
      df(t2, "k2", "v2").createOrReplaceTempView("prop_t2")
      DeltaSources.register("prop_t1", s"k1 % $m1 = 0")
      DeltaSources.register("prop_t2", s"k2 % $m2 = 0")
      val v1 = spark.table("prop_t1"); val v2 = spark.table("prop_t2")
      val base1 = v1.filter(expr(s"NOT (k1 % $m1 = 0)"))
      val base2 = v2.filter(expr(s"NOT (k2 % $m2 = 0)"))
      val rungs: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
        "except" -> ((a, b) => a.select("v1").except(b.select(col("v2").as("v1")))),
        "top-k" -> ((a, _) => a.orderBy(col("v1").desc, col("k1")).limit(3)),
        "keyless outer join" -> ((a, b) => a.join(b, col("v1") < col("v2"), "left")),
        "key-dropping top" -> ((a, b) =>
          a.join(b, col("k1") === col("k2"), "left").select("v1", "v2")))
      for ((name, q) <- rungs) Ivm.maintainAuto(q(v1, v2)) match {
        case Ivm.ApplySigned(sd) =>
          assert(!sd.spliced, s"$name spliced")
          assert(bag(sd.applyTo(q(base1, base2))) == bag(q(v1, v2)),
            s"$name: applyTo(Q(base)) != Q(full) for m1=$m1 m2=$m2 t1=$t1 t2=$t2")
        case other => fail(s"$name: expected a signed rung, got $other")
      }
      val i = randTable(rnd)
      val r = base1.orderBy("k1", "v1").limit(2)
      assert(bag(Ivm.SignedDelta(i.toDF("k1", "v1"), r).applyTo(base1)) ==
        minus(plus(bag(base1), bag(i)), bag(r)), s"caller-built pair, t1=$t1 i=$i")
    }
  }
}
