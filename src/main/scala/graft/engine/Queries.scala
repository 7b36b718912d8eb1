package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ivm.Ivm

/** One declared query: the Spark (DataFrame-API) implementation plus, where
  * SQL-expressible, the equivalent DuckDB oracle SQL the driver hash-compares
  * against (SURVEY.md §2 consolidated inventory).
  *
  * Determinism rules (SURVEY.md §7.5) applied throughout:
  *   - every query ends in a total ORDER BY;
  *   - fp aggregates go through DECIMAL(18,2) then back to DOUBLE so both
  *     engines compute the exact same value bit-for-bit;
  *   - computed integers are cast to BIGINT on both sides (Spark `length`/
  *     `rank`/`year` return INT, DuckDB returns BIGINT/HUGEINT);
  *   - raw `events.ts` (parquet ns) is never output directly — only DATE /
  *     BIGINT derivations that survive Spark's ns→µs truncation.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The relational query surface: the operators the reference exercises
  * through its embedded engine (SURVEY.md §2B — Spark built-ins, zero custom
  * code) and the six IVM delta queries over the reference's own rewrite
  * (§2A, driven through [[graft.ivm.Ivm.delta]]).
  *
  * Scale notes are per-query; the common ones: parquet scans prune columns
  * and push filters (datasource V1 path), small dims broadcast-join
  * automatically, aggregations are partial (map-side) before the shuffle,
  * and the final ORDER BY is a range-partitioned sort that AQE sizes.
  */
object Queries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Exact decimal sum of a money/measure double, returned as DOUBLE —
    * identical bits in Spark and DuckDB regardless of summation order.
    */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  val all: Seq[QueryDef] = Seq(

    // ---- §2B inherited relational surface (Spark built-ins) ----

    QueryDef("scan",
      (s, d) => t(s, d, "nation").orderBy("n_nationkey"),
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
             |ORDER BY n_nationkey""".stripMargin)),

    QueryDef("projection",
      (s, d) => t(s, d, "customer").select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef("filter",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_quantity") >= 30 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
             |FROM lineitem WHERE l_quantity >= 30 AND l_returnflag = 'R'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // nation is tiny → Spark auto-broadcasts; at 100 TB the same code
    // broadcast-joins any dim under the threshold and AQE converts larger
    // shuffles to broadcast when the runtime size allows.
    QueryDef("join_inner",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"), "inner")
        .select(col("c_custkey"), col("c_name"),
          col("n_name").as("nation_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, n_name AS nation_name
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef("cross_join",
      (s, d) => t(s, d, "region").crossJoin(t(s, d, "nation"))
        .select("r_regionkey", "r_name", "n_nationkey", "n_name")
        .orderBy("r_regionkey", "n_nationkey"),
      Some("""SELECT r_regionkey, r_name, n_nationkey, n_name
             |FROM region CROSS JOIN nation
             |ORDER BY r_regionkey, n_nationkey""".stripMargin)),

    QueryDef("union_all",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_totalprice") > 200000)
          .select(col("o_orderkey"), lit("hi").as("band"))
          .union(o.filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), lit("F").as("band")))
          .orderBy("o_orderkey", "band")
      },
      Some("""SELECT o_orderkey, 'hi' AS band FROM orders WHERE o_totalprice > 200000
             |UNION ALL
             |SELECT o_orderkey, 'F' AS band FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY o_orderkey, band""".stripMargin)),

    // TPC-H Q1 shape: partial (map-side) agg before the 2-key shuffle; at
    // 100 TB this is the canonical scale-out aggregation.
    QueryDef("agg_group",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |  COUNT(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("distinct",
      (s, d) => t(s, d, "customer")
        .select("c_mktsegment", "c_nationkey").distinct()
        .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
             |ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // orderBy+limit plans as TakeOrderedAndProject — top-k per partition
    // then k-merge on the driver, no full sort/shuffle of the table.
    QueryDef("sort_limit",
      (s, d) => t(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin)),

    QueryDef("window_rank",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        t(s, d, "customer")
          .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
            rank().over(w).cast("long").as("rk"))
          .filter(col("rk") <= 3)
          .orderBy("c_nationkey", "rk", "c_custkey")
      },
      Some("""SELECT c_nationkey, c_custkey, c_acctbal, rk FROM (
             |  SELECT c_nationkey, c_custkey, c_acctbal,
             |    CAST(rank() OVER (PARTITION BY c_nationkey
             |      ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rk
             |  FROM customer) WHERE rk <= 3
             |ORDER BY c_nationkey, rk, c_custkey""".stripMargin)),

    // Analytic window functions beyond rank: lag/lead/ntile over per-nation
    // account-balance ordering (single window spec → one shuffle+sort
    // serves all three functions).
    QueryDef("window_funcs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        t(s, d, "customer")
          .select(col("c_nationkey"), col("c_custkey"),
            lag(col("c_custkey"), 1).over(w).as("prev_cust"),
            lead(col("c_custkey"), 1).over(w).as("next_cust"),
            ntile(4).over(w).cast("long").as("quartile"))
          .orderBy("c_nationkey", "c_custkey")
      },
      Some("""SELECT c_nationkey, c_custkey,
             |  lag(c_custkey, 1) OVER w AS prev_cust,
             |  lead(c_custkey, 1) OVER w AS next_cust,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
             |FROM customer
             |WINDOW w AS (PARTITION BY c_nationkey
             |  ORDER BY c_acctbal DESC, c_custkey ASC)
             |ORDER BY c_nationkey, c_custkey""".stripMargin)),

    // String/date/decimal scalar mix — all codegen'd built-ins, no UDFs.
    QueryDef("scalar_funcs",
      (s, d) => t(s, d, "orders")
        .select(
          col("o_orderkey"),
          upper(col("o_orderpriority")).as("pri_up"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          month(col("o_orderdate")).cast("long").as("o_month"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * lit(BigDecimal("0.90")))
            .cast("double").as("discounted"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  UPPER(o_orderpriority) AS pri_up,
             |  o_orderstatus || '-' || o_orderpriority AS tag,
             |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             |  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS o_month,
             |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.90 AS DECIMAL(3,2)) AS DOUBLE) AS discounted
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- §2A IVM delta queries (graft.ivm) ----
    // Split model (DeltaSources): orders δ = o_orderdate >= 2001-01-01,
    // customer δ = c_custkey%10=0, nation δ = n_nationkey%5=0,
    // region δ = r_regionkey%2=0. Oracle SQL states the same split inline.

    QueryDef("delta_scan",
      (s, d) => Ivm.delta(t(s, d, "orders")).orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
             |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("delta_projection",
      (s, d) => Ivm.delta(
          t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
             |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("delta_filter",
      (s, d) => Ivm.delta(
          t(s, d, "orders")
            .filter(col("o_orderstatus") === "O")
            .select("o_orderkey", "o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
             |FROM orders WHERE o_orderstatus = 'O'
             |  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
             |ORDER BY o_orderkey""".stripMargin)),

    // Flagship: 3-arm union expansion. The arms are disjoint (δ vs base
    // partitions), so δQ equals the join rows where at least one side is in
    // its delta — which is how the oracle states it.
    QueryDef("delta_join",
      (s, d) => Ivm.delta(
          t(s, d, "customer")
            .join(t(s, d, "nation"),
              col("c_nationkey") === col("n_nationkey"), "inner")
            .select(col("c_custkey"), col("c_name"),
              col("n_name").as("nation_name")))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, n_name AS nation_name
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE (c_custkey % 10 = 0) OR (n_nationkey % 5 = 0)
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef("delta_cross_join",
      (s, d) => Ivm.delta(
          t(s, d, "region").crossJoin(t(s, d, "nation"))
            .select("r_regionkey", "r_name", "n_nationkey", "n_name"))
        .orderBy("r_regionkey", "n_nationkey"),
      Some("""SELECT r_regionkey, r_name, n_nationkey, n_name
             |FROM region CROSS JOIN nation
             |WHERE (r_regionkey % 2 = 0) OR (n_nationkey % 5 = 0)
             |ORDER BY r_regionkey, n_nationkey""".stripMargin)),

    QueryDef("delta_union",
      (s, d) => {
        val o = t(s, d, "orders")
        Ivm.delta(
          o.filter(col("o_totalprice") > 200000)
            .select(col("o_orderkey"), lit("hi").as("band"))
            .union(o.filter(col("o_orderstatus") === "F")
              .select(col("o_orderkey"), lit("F").as("band"))))
          .orderBy("o_orderkey", "band")
      },
      Some("""SELECT o_orderkey, 'hi' AS band FROM orders
             |WHERE o_totalprice > 200000
             |  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
             |UNION ALL
             |SELECT o_orderkey, 'F' AS band FROM orders
             |WHERE o_orderstatus = 'F'
             |  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
             |ORDER BY o_orderkey, band""".stripMargin)),

    // δ(DISTINCT): (year, status) combinations the delta orders introduce
    // that no base order ever had (envelope extension; oracle = EXCEPT of
    // the same split; delta years are ≥ the split date so the result is
    // non-empty at every scale factor).
    QueryDef("delta_distinct",
      (s, d) => Ivm.delta(
          t(s, d, "orders")
            .select(year(col("o_orderdate")).cast("long").as("o_year"),
              col("o_orderstatus"))
            .distinct())
        .orderBy("o_year", "o_orderstatus"),
      Some("""SELECT DISTINCT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             |  o_orderstatus FROM orders
             |WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
             |EXCEPT
             |SELECT DISTINCT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             |  o_orderstatus FROM orders
             |WHERE NOT (o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
             |ORDER BY o_year, o_orderstatus""".stripMargin)),

    // MID-TREE δ(DISTINCT) (round 5 — the r4 verdict's last "missing"
    // item): distinct() UNDER a join, previously routed to differencing.
    // The rewrite nests Distinct(δ) ∖set Distinct(base) inside each join
    // arm; the oracle derives δQ = Q(full) ∖all Q(base) from first
    // principles with both source splits stated inline — hash equality
    // pins the composed expansion (3 join arms × nested set-difference)
    // against an independent engine.
    QueryDef("delta_distinct_join",
      (s, d) => Ivm.delta(
          t(s, d, "orders").select("o_custkey", "o_orderstatus").distinct()
            .join(t(s, d, "customer"),
              col("o_custkey") === col("c_custkey"), "inner")
            .select("o_custkey", "o_orderstatus", "c_mktsegment"))
        .orderBy("o_custkey", "o_orderstatus"),
      Some("""WITH qfull AS (
             |  SELECT dp.o_custkey, dp.o_orderstatus, c.c_mktsegment
             |  FROM (SELECT DISTINCT o_custkey, o_orderstatus FROM orders) dp
             |  JOIN customer c ON dp.o_custkey = c.c_custkey),
             |qbase AS (
             |  SELECT dp.o_custkey, dp.o_orderstatus, c.c_mktsegment
             |  FROM (SELECT DISTINCT o_custkey, o_orderstatus FROM orders
             |        WHERE NOT (o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')) dp
             |  JOIN customer c ON dp.o_custkey = c.c_custkey
             |  WHERE NOT (c.c_custkey % 10 = 0))
             |SELECT * FROM qfull EXCEPT ALL SELECT * FROM qbase
             |ORDER BY o_custkey, o_orderstatus""".stripMargin)),

    // Aggregate view maintenance (extension beyond the reference envelope,
    // graft.ivm.IvmAgg): the Spark side computes merge(Q(base), δpartial) —
    // a genuinely different plan from a direct aggregate — while the oracle
    // aggregates the full table directly; equality pins the merge algebra
    // against an independent engine. Sums stay DECIMAL through the merge and
    // cast to DOUBLE only at the end, so fp association cannot differ.
    QueryDef("delta_agg",
      (s, d) => {
        import graft.ivm.{DeltaSources, IvmAgg}
        val q = (df: DataFrame) => df.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sum_price"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
        val full = t(s, d, "orders")
        val basePred = DeltaSources.predicateFor("orders").get.sql
        val baseView = q(full.filter(expr(s"NOT ($basePred)")))
        IvmAgg.merge(baseView, IvmAgg.deltaPartial(q(full)))
          .select(col("o_orderstatus"), col("cnt"),
            col("sum_price").cast("double").as("sum_price"),
            col("min_key"), col("max_key"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // COUNT/SUM DISTINCT maintenance (IvmAgg new-pair partial): the view
    // advances by counting only (status, custkey) pairs the base never had
    // — δ of the distinct pair set, which is itself delta-rewritable (the
    // root-Distinct rule), then merged by addition; a distinct value seen
    // in BOTH base and delta must not recount, which the full-table oracle
    // catches (custkeys repeat across the date split at sf0.01). The mixed
    // plain count pins the full-outer composition of the two partials.
    QueryDef("delta_count_distinct",
      (s, d) => {
        import graft.ivm.{DeltaSources, IvmAgg}
        val q = (df: DataFrame) => df.groupBy("o_orderstatus")
          .agg(countDistinct(col("o_custkey")).as("n_cust"),
            count(lit(1)).as("n_orders"))
        val full = t(s, d, "orders")
        val basePred = DeltaSources.predicateFor("orders").get.sql
        val baseView = q(full.filter(expr(s"NOT ($basePred)")))
        IvmAgg.merge(baseView, IvmAgg.deltaPartial(q(full)))
          .select(col("o_orderstatus"), col("n_cust"), col("n_orders"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // Rollup-lattice view maintenance (IvmAgg over grouping analytics):
    // the delta commutes through the analyzer's Expand (δ(Expand R) =
    // Expand δR) and the merge keys on (status, priority, grouping_id) —
    // every lattice level maintains as an independent plain group-by,
    // including the grand-total row every delta row contributes to. The
    // oracle rolls up the full table directly, pinning the per-set merge
    // against an independent engine; sums stay DECIMAL through the merge.
    QueryDef("delta_rollup",
      (s, d) => {
        import graft.ivm.{DeltaSources, IvmAgg}
        val q = (df: DataFrame) => df.rollup("o_orderstatus", "o_orderpriority")
          .agg(grouping_id().cast("long").as("gid"),
            count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sum_price"))
        val full = t(s, d, "orders")
        val basePred = DeltaSources.predicateFor("orders").get.sql
        val baseView = q(full.filter(expr(s"NOT ($basePred)")))
        IvmAgg.merge(baseView, IvmAgg.deltaPartial(q(full)))
          .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
            col("cnt"), col("sum_price").cast("double").as("sum_price"))
          .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first)
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             |  COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
             |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
        .stripMargin)),

    // MID-TREE aggregate maintenance (Ivm.deltaAgg + the aggJoinAuto
    // route, r6): a per-customer order rollup FEEDING an inner join with
    // the customer dim — the shape the insert-only rewrite correctly
    // refuses (changed groups retract their old rows) and the key-scoped
    // rung would re-aggregate. maintainAuto routes it to the signed
    // merge algebra: inserts = changed-group merges ⋈ base dim ∪
    // merged view ⋈ δ dim, retracts = old group rows ⋈ base dim — both
    // sides of the join carry deltas here (orders by date, customer by
    // key), exercising every term. The oracle derives the signed pair
    // from first principles as Q(full) ∖all Q(base) / Q(base) ∖all
    // Q(full); hash equality proves the merge-and-propagate algebra
    // emits EXACTLY the multiset difference, retractions included.
    QueryDef("delta_agg_join",
      (s, d) => {
        import graft.ivm.Ivm
        val q = t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sum_price"))
          .join(t(s, d, "customer").select("c_custkey", "c_name"),
            col("o_custkey") === col("c_custkey"), "inner")
        val sd = Ivm.maintainAuto(q) match {
          case Ivm.ApplySigned(sd) => sd
          case other => throw new IllegalStateException(
            s"delta_agg_join must route to the signed agg-join rung, got $other")
        }
        sd.netWithSign
          .select(col("o_custkey"), col("cnt"),
            col("sum_price").cast("double").as("sum_price"),
            col("c_custkey"), col("c_name"), col("sign"))
          .orderBy("o_custkey", "sign")
      },
      Some("""WITH afull AS (
             |  SELECT o_custkey, COUNT(*) AS cnt,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |      AS sum_price
             |  FROM orders GROUP BY o_custkey),
             |abase AS (
             |  SELECT o_custkey, COUNT(*) AS cnt,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |      AS sum_price
             |  FROM orders
             |  WHERE NOT (o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
             |  GROUP BY o_custkey),
             |qfull AS (
             |  SELECT o_custkey, cnt, sum_price, c_custkey, c_name
             |  FROM afull JOIN customer ON o_custkey = c_custkey),
             |qbase AS (
             |  SELECT o_custkey, cnt, sum_price, c_custkey, c_name
             |  FROM abase JOIN
             |    (SELECT * FROM customer WHERE NOT (c_custkey % 10 = 0)) cb
             |    ON o_custkey = c_custkey),
             |ins AS (SELECT * FROM qfull EXCEPT ALL SELECT * FROM qbase),
             |ret AS (SELECT * FROM qbase EXCEPT ALL SELECT * FROM qfull)
             |SELECT o_custkey, cnt, sum_price, c_custkey, c_name,
             |  CAST(1 AS BIGINT) AS sign FROM ins
             |UNION ALL
             |SELECT o_custkey, cnt, sum_price, c_custkey, c_name,
             |  CAST(-1 AS BIGINT) AS sign FROM ret
             |ORDER BY o_custkey, sign""".stripMargin)),

    // AGG-JOIN-AGG maintenance (r6): BOTH inner-join sides are grouped
    // aggregates over delta sources — per-nation customer rollup ⋈
    // per-nation supplier rollup. Each side steps signed (changed groups
    // retract their old row and insert the merged one), and the rung
    // composes them as Δ(A⋈B) = δA⋈B + A'⋈δB with a SIGNED δB, so the
    // retract union carries both sides' retractions through the join.
    // Neither base corpus is re-aggregated: each side's step comes from
    // its materialized view + the pruned δ partial (Ivm.deltaAgg), and the
    // join terms probe by the small changed-group frames. The oracle
    // derives the signed pair from first principles (Q(full)/Q(base)
    // EXCEPT ALL both ways); hash equality pins the two-sided composition.
    QueryDef("delta_agg_agg",
      (s, d) => {
        import graft.ivm.Ivm
        val q = t(s, d, "customer").groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("c_cnt"),
            sum(col("c_acctbal").cast(DecimalType(18, 2))).as("c_bal"))
          .join(
            t(s, d, "supplier").groupBy(col("s_nationkey"))
              .agg(count(lit(1)).as("s_cnt"),
                max(col("s_acctbal")).as("s_mx")),
            col("c_nationkey") === col("s_nationkey"), "inner")
        val sd = Ivm.maintainAuto(q) match {
          case Ivm.ApplySigned(sd) => sd
          case other => throw new IllegalStateException(
            s"delta_agg_agg must route to the signed agg-join rung, got $other")
        }
        sd.netWithSign
          .select(col("c_nationkey"), col("c_cnt"),
            col("c_bal").cast("double").as("c_bal"),
            col("s_nationkey"), col("s_cnt"), col("s_mx"), col("sign"))
          .orderBy("c_nationkey", "sign")
      },
      Some("""WITH cfull AS (
             |  SELECT c_nationkey, COUNT(*) AS c_cnt,
             |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS c_bal
             |  FROM customer GROUP BY c_nationkey),
             |cbase AS (
             |  SELECT c_nationkey, COUNT(*) AS c_cnt,
             |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS c_bal
             |  FROM customer WHERE NOT (c_custkey % 10 = 0)
             |  GROUP BY c_nationkey),
             |sfull AS (
             |  SELECT s_nationkey, COUNT(*) AS s_cnt, MAX(s_acctbal) AS s_mx
             |  FROM supplier GROUP BY s_nationkey),
             |sbase AS (
             |  SELECT s_nationkey, COUNT(*) AS s_cnt, MAX(s_acctbal) AS s_mx
             |  FROM supplier WHERE NOT (s_suppkey % 3 = 0)
             |  GROUP BY s_nationkey),
             |qfull AS (
             |  SELECT c_nationkey, c_cnt, c_bal, s_nationkey, s_cnt, s_mx
             |  FROM cfull JOIN sfull ON c_nationkey = s_nationkey),
             |qbase AS (
             |  SELECT c_nationkey, c_cnt, c_bal, s_nationkey, s_cnt, s_mx
             |  FROM cbase JOIN sbase ON c_nationkey = s_nationkey),
             |ins AS (SELECT * FROM qfull EXCEPT ALL SELECT * FROM qbase),
             |ret AS (SELECT * FROM qbase EXCEPT ALL SELECT * FROM qfull)
             |SELECT c_nationkey, c_cnt, c_bal, s_nationkey, s_cnt, s_mx,
             |  CAST(1 AS BIGINT) AS sign FROM ins
             |UNION ALL
             |SELECT c_nationkey, c_cnt, c_bal, s_nationkey, s_cnt, s_mx,
             |  CAST(-1 AS BIGINT) AS sign FROM ret
             |ORDER BY c_nationkey, sign""".stripMargin)),

    // TWO-LEVEL aggregate maintenance (r6): a per-nation re-aggregation
    // OVER the maintained (per-customer rollup ⋈ customer) view — the
    // aggOverSignedAuto rung. The child steps signed through the agg-join
    // algebra; the outer sums/counts advance by ONE sign-weighted partial
    // over those frames and the view merges groupwise (count(*) tracks
    // liveness; summed columns are coalesce-wrapped per the non-nullable
    // contract). Neither level ever re-aggregates the base corpus. The
    // oracle derives the signed pair of the two-level view from first
    // principles, pinning the composed algebra end to end.
    QueryDef("delta_two_level",
      (s, d) => {
        import graft.ivm.Ivm
        val zero = lit(0).cast(DecimalType(18, 2))
        val inner = t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("cnt"),
            sum(coalesce(col("o_totalprice").cast(DecimalType(18, 2)), zero))
              .as("spend"))
          .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"), "inner")
        val q = inner.groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_cust"),
            sum(col("cnt")).as("n_orders"),
            sum(coalesce(col("spend"), lit(0).cast(DecimalType(28, 2))))
              .as("nation_spend"))
        val sd = Ivm.maintainAuto(q) match {
          case Ivm.ApplySigned(sd) => sd
          case other => throw new IllegalStateException(
            s"delta_two_level must route to the two-level rung, got $other")
        }
        sd.netWithSign
          .select(col("c_nationkey"), col("n_cust"), col("n_orders"),
            col("nation_spend").cast("double").as("nation_spend"),
            col("sign"))
          .orderBy("c_nationkey", "sign")
      },
      Some("""WITH ifull AS (
             |  SELECT o_custkey, COUNT(*) AS cnt,
             |    SUM(COALESCE(CAST(o_totalprice AS DECIMAL(18,2)), 0))
             |      AS spend
             |  FROM orders GROUP BY o_custkey),
             |ibase AS (
             |  SELECT o_custkey, COUNT(*) AS cnt,
             |    SUM(COALESCE(CAST(o_totalprice AS DECIMAL(18,2)), 0))
             |      AS spend
             |  FROM orders
             |  WHERE NOT (o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
             |  GROUP BY o_custkey),
             |qfull AS (
             |  SELECT c_nationkey, COUNT(*) AS n_cust,
             |    CAST(SUM(cnt) AS BIGINT) AS n_orders,
             |    CAST(SUM(COALESCE(spend, 0)) AS DOUBLE) AS nation_spend
             |  FROM ifull JOIN customer ON o_custkey = c_custkey
             |  GROUP BY c_nationkey),
             |qbase AS (
             |  SELECT c_nationkey, COUNT(*) AS n_cust,
             |    CAST(SUM(cnt) AS BIGINT) AS n_orders,
             |    CAST(SUM(COALESCE(spend, 0)) AS DOUBLE) AS nation_spend
             |  FROM ibase JOIN
             |    (SELECT * FROM customer WHERE NOT (c_custkey % 10 = 0)) cb
             |    ON o_custkey = c_custkey
             |  GROUP BY c_nationkey),
             |ins AS (SELECT * FROM qfull EXCEPT ALL SELECT * FROM qbase),
             |ret AS (SELECT * FROM qbase EXCEPT ALL SELECT * FROM qfull)
             |SELECT c_nationkey, n_cust, n_orders, nation_spend,
             |  CAST(1 AS BIGINT) AS sign FROM ins
             |UNION ALL
             |SELECT c_nationkey, n_cust, n_orders, nation_spend,
             |  CAST(-1 AS BIGINT) AS sign FROM ret
             |ORDER BY c_nationkey, sign""".stripMargin)),

    // GROUPED MIN/MAX maintenance (r7): the outer aggregate carries
    // min/max over a signed child — the shape every merge algebra must
    // honestly refuse (a retracted max needs the runner-up the view no
    // longer has; Ivm.scala aggOverSignedAuto rejects it statically) and
    // key-scoping can't reach (no common key across the two aggregates).
    // maintainAuto routes it to the GROUP-SCOPED recompute rung: touched
    // groups from the child's signed step, the stored view probed (and
    // retracted) only at those keys, and the aggregate recomputed over
    // only those groups' child rows — value-stable groups net away. The
    // oracle derives the signed pair from first principles; hash equality
    // pins that the scoped recompute emits EXACTLY the multiset
    // difference, runner-up promotions included.
    QueryDef("delta_minmax",
      (s, d) => {
        import graft.ivm.Ivm
        val q = t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sp"))
          .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"), "inner")
          .groupBy(col("c_nationkey"))
          .agg(max(col("sp")).as("max_spend"),
            min(col("cnt")).as("min_orders"),
            count(lit(1)).as("n_cust"))
        val sd = Ivm.maintainAuto(q) match {
          case Ivm.ApplySigned(sd) => sd
          case other => throw new IllegalStateException(
            s"delta_minmax must route to the group-scoped rung, got $other")
        }
        sd.netWithSign
          .select(col("c_nationkey"),
            col("max_spend").cast("double").as("max_spend"),
            col("min_orders"), col("n_cust"), col("sign"))
          .orderBy("c_nationkey", "sign")
      },
      Some("""WITH ifull AS (
             |  SELECT o_custkey, COUNT(*) AS cnt,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
             |  FROM orders GROUP BY o_custkey),
             |ibase AS (
             |  SELECT o_custkey, COUNT(*) AS cnt,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
             |  FROM orders
             |  WHERE NOT (o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
             |  GROUP BY o_custkey),
             |qfull AS (
             |  SELECT c_nationkey, CAST(MAX(sp) AS DOUBLE) AS max_spend,
             |    CAST(MIN(cnt) AS BIGINT) AS min_orders, COUNT(*) AS n_cust
             |  FROM ifull JOIN customer ON o_custkey = c_custkey
             |  GROUP BY c_nationkey),
             |qbase AS (
             |  SELECT c_nationkey, CAST(MAX(sp) AS DOUBLE) AS max_spend,
             |    CAST(MIN(cnt) AS BIGINT) AS min_orders, COUNT(*) AS n_cust
             |  FROM ibase JOIN
             |    (SELECT * FROM customer WHERE NOT (c_custkey % 10 = 0)) cb
             |    ON o_custkey = c_custkey
             |  GROUP BY c_nationkey),
             |ins AS (SELECT * FROM qfull EXCEPT ALL SELECT * FROM qbase),
             |ret AS (SELECT * FROM qbase EXCEPT ALL SELECT * FROM qfull)
             |SELECT c_nationkey, max_spend, min_orders, n_cust,
             |  CAST(1 AS BIGINT) AS sign FROM ins
             |UNION ALL
             |SELECT c_nationkey, max_spend, min_orders, n_cust,
             |  CAST(-1 AS BIGINT) AS sign FROM ret
             |ORDER BY c_nationkey, sign""".stripMargin)),

    // GROUP-SCOPED rung × DISTINCT/FILTER (r7): the OTHER two shapes the
    // merge algebra must statically refuse — count(DISTINCT x) (the view
    // stores no per-group value multiset to subtract from) and a FILTER
    // clause (which breaks the count-tracker ≡ row-count invariant the
    // subtractable rung rides on) — plus an exact-arithmetic average,
    // all over the same signed agg-join child as delta_minmax. The
    // group-scoped recompute is aggregate-agnostic (exact for any
    // deterministic function), so one rung covers every refusal; the
    // first-principles EXCEPT ALL oracle pins that the scoped recompute
    // emits exactly the multiset difference, distinct-set and
    // filtered-count changes included. At 100 TB: touched groups
    // broadcast, only their child rows re-aggregate, value-stable
    // groups net away.
    QueryDef("delta_group_distinct",
      (s, d) => {
        import graft.ivm.Ivm
        val q = t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sp"))
          .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"), "inner")
          .groupBy(col("c_nationkey"))
          .agg(countDistinct(col("cnt")).as("n_distinct_cnt"),
            expr("count(*) FILTER (WHERE cnt >= 2)").as("n_repeat"),
            (sum(col("sp")).cast("double") /
              count(lit(1)).cast("double")).as("avg_spend"))
        val sd = Ivm.maintainAuto(q) match {
          case Ivm.ApplySigned(sd) => sd
          case other => throw new IllegalStateException(
            s"delta_group_distinct must route to the group-scoped rung, " +
              s"got $other")
        }
        sd.netWithSign
          .select(col("c_nationkey"), col("n_distinct_cnt"),
            col("n_repeat"), col("avg_spend"), col("sign"))
          .orderBy("c_nationkey", "sign")
      },
      Some("""WITH ifull AS (
             |  SELECT o_custkey, COUNT(*) AS cnt,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
             |  FROM orders GROUP BY o_custkey),
             |ibase AS (
             |  SELECT o_custkey, COUNT(*) AS cnt,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
             |  FROM orders
             |  WHERE NOT (o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
             |  GROUP BY o_custkey),
             |qfull AS (
             |  SELECT c_nationkey,
             |    COUNT(DISTINCT cnt) AS n_distinct_cnt,
             |    COUNT(*) FILTER (WHERE cnt >= 2) AS n_repeat,
             |    CAST(SUM(sp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             |      AS avg_spend
             |  FROM ifull JOIN customer ON o_custkey = c_custkey
             |  GROUP BY c_nationkey),
             |qbase AS (
             |  SELECT c_nationkey,
             |    COUNT(DISTINCT cnt) AS n_distinct_cnt,
             |    COUNT(*) FILTER (WHERE cnt >= 2) AS n_repeat,
             |    CAST(SUM(sp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             |      AS avg_spend
             |  FROM ibase JOIN
             |    (SELECT * FROM customer WHERE NOT (c_custkey % 10 = 0)) cb
             |    ON o_custkey = c_custkey
             |  GROUP BY c_nationkey),
             |ins AS (SELECT * FROM qfull EXCEPT ALL SELECT * FROM qbase),
             |ret AS (SELECT * FROM qbase EXCEPT ALL SELECT * FROM qfull)
             |SELECT c_nationkey, n_distinct_cnt, n_repeat, avg_spend,
             |  CAST(1 AS BIGINT) AS sign FROM ins
             |UNION ALL
             |SELECT c_nationkey, n_distinct_cnt, n_repeat, avg_spend,
             |  CAST(-1 AS BIGINT) AS sign FROM ret
             |ORDER BY c_nationkey, sign""".stripMargin)),

    // STATIC-DIM star delta (r6): δ(fact ⋈ static dim) through the
    // ALGEBRAIC rewrite — the unregistered dim's delta arm resolves to
    // the empty relation, the optimizer prunes the mixed-δdim and δ×δ
    // arms, and the surviving arm is the pruned δfact scan broadcast-
    // joined to the dim (plan-pinned: ONE parquet scan, range predicate
    // pushed). The canonical star-schema maintenance query: at 100 TB
    // the cycle reads only appended fact files, never the dim-joined
    // corpus. The oracle states δF⋈D from first principles.
    QueryDef("delta_static_dim",
      (s, d) => {
        import graft.ivm.Ivm
        import s.implicits._
        val dim = Seq(("O", "open"), ("F", "filled"), ("P", "pending"))
          .toDF("st", "st_name")
        Ivm.delta(
            t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"))
              .join(dim, col("o_orderstatus") === col("st"), "inner")
              .select(col("o_orderkey"), col("st_name")))
          .orderBy("o_orderkey")
      },
      Some("""WITH dim(st, st_name) AS (
             |  VALUES ('O','open'),('F','filled'),('P','pending'))
             |SELECT o.o_orderkey, d.st_name
             |FROM orders o JOIN dim d ON o.o_orderstatus = d.st
             |WHERE o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
             |ORDER BY o_orderkey""".stripMargin)),

    // TOP-K maintenance rung (Ivm.topKMerge / deltaTopK): the top-25
    // orders by price, maintained as merge(topk(base), topk(δ)) — the base
    // corpus is never rescanned and both inputs plan as
    // TakeOrderedAndProject (per-partition heap, never a full sort). The
    // oracle computes top-25 over the FULL table, so the hash compare pins
    // the monoid identity topk(T ∪ δ) = topk(topk(T) ∪ topk(δ)) against
    // an independent derivation. o_orderkey breaks price ties — the order
    // is total (§7.5).
    QueryDef("delta_topk",
      (s, d) => {
        import graft.ivm.Ivm
        val ord = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
        val full = t(s, d, "orders").select("o_orderkey", "o_totalprice")
        val prev = Ivm.baseOf(full).orderBy(ord: _*).limit(25)
        Ivm.topKMerge(prev, Ivm.delta(full), ord, 25)
          .orderBy(ord: _*)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey
             |LIMIT 25""".stripMargin)),

    // GROUPED top-k view maintenance (r7): "best 3 documents per
    // (lang, source) by length" — the per-group sibling of delta_topk and
    // the shape a training pipeline keeps per domain. Per-group top-k is a
    // monoid per group (topk_g(T∪δ) = topk_g(topk_g T ∪ topk_g δ)), so the
    // stored view absorbs a delta by semi/anti-splitting on the δ top-k's
    // touched groups (broadcast) and re-ranking ≤ 2k rows per touched
    // group; untouched groups pass through verbatim and the base corpus is
    // never rescanned. Oracle = the full-table ROW_NUMBER recompute — hash
    // equality pins the merge identity against an independent derivation.
    // (doc_id tiebreak ⇒ total order per group, same rule as sort_limit.)
    QueryDef("delta_group_topk",
      (s, d) => {
        import graft.ivm.Ivm
        val keys = Seq("lang", "source")
        val ord = Seq(col("n_chars").desc, col("doc_id").asc)
        val full = t(s, d, "documents")
          .select("doc_id", "lang", "source", "n_chars")
        val prev = Ivm.groupTopK(Ivm.baseOf(full), keys, ord, 3)
        Ivm.groupTopKMerge(prev, Ivm.delta(full), keys, ord, 3)
          .orderBy("lang", "source", "doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars FROM (
             |  SELECT doc_id, lang, source, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY lang, source
             |      ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM documents) t WHERE rn <= 3
             |ORDER BY lang, source, doc_id""".stripMargin)),

    // δ(LEFT SEMI): customers newly having a big order — either the
    // customer is itself in the δ partition (and has any qualifying order),
    // or a base customer with no qualifying BASE order gains one from δ
    // orders. Runs through the algebraic rewrite (PosDeltaRule's semi-join
    // envelope, G12); the oracle states the identity δQ = Q(full) ∖all
    // Q(base) directly — an independent derivation, so the hash compare
    // pins the rewrite's two-arm expansion against first principles.
    QueryDef("delta_semi_join",
      (s, d) => Ivm.delta(
          t(s, d, "customer")
            .join(t(s, d, "orders").filter(col("o_totalprice") > 100000),
              col("c_custkey") === col("o_custkey"), "left_semi")
            .select("c_custkey", "c_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN
             |  (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
             |EXCEPT ALL
             |SELECT c_custkey, c_name FROM customer
             |WHERE NOT (c_custkey % 10 = 0)
             |  AND c_custkey IN
             |  (SELECT o_custkey FROM orders WHERE o_totalprice > 100000
             |     AND NOT (o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'))
             |ORDER BY c_custkey""".stripMargin)),

    // SIGNED delta of a LEFT OUTER join (Ivm.deltaLeftJoin, G7), declared
    // end-to-end: +1 rows to append, -1 rows to retract (null-extended
    // customers whose first big order arrives in δ). The oracle derives
    // both sides independently as Q(full) ∖all Q(base) and Q(base) ∖all
    // Q(full) — hash equality proves the three-term signed algebra
    // (δA⟕(B∪δB) ∪ baseA⋈δB; retract (baseA▷baseB)⋉δB) produces EXACTLY
    // the multiset difference, retraction multiplicities included.
    QueryDef("delta_left_signed",
      (s, d) => {
        val cust = t(s, d, "customer").select("c_custkey", "c_name")
        val big = t(s, d, "orders").filter(col("o_totalprice") > 400000)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val sd = Ivm.deltaLeftJoin(cust, big,
          col("c_custkey") === col("o_custkey"))
        sd.netWithSign
          .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sign")
          .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first,
            col("sign"))
      },
      Some("""WITH ofull AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |  WHERE o_totalprice > 400000),
             |obase AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |  WHERE o_totalprice > 400000
             |    AND NOT (o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')),
             |cfull AS (SELECT c_custkey, c_name FROM customer),
             |cbase AS (SELECT c_custkey, c_name FROM customer
             |          WHERE NOT (c_custkey % 10 = 0)),
             |qfull AS (
             |  SELECT c_custkey, c_name, o_orderkey, o_totalprice
             |  FROM cfull LEFT JOIN ofull ON c_custkey = o_custkey),
             |qbase AS (
             |  SELECT c_custkey, c_name, o_orderkey, o_totalprice
             |  FROM cbase LEFT JOIN obase ON c_custkey = o_custkey),
             |ins AS (SELECT * FROM qfull EXCEPT ALL SELECT * FROM qbase),
             |ret AS (SELECT * FROM qbase EXCEPT ALL SELECT * FROM qfull)
             |SELECT c_custkey, c_name, o_orderkey, o_totalprice,
             |  CAST(1 AS BIGINT) AS sign FROM ins
             |UNION ALL
             |SELECT c_custkey, c_name, o_orderkey, o_totalprice,
             |  CAST(-1 AS BIGINT) AS sign FROM ret
             |ORDER BY c_custkey, o_orderkey NULLS FIRST, sign""".stripMargin)),

    // KEY-SCOPED signed delta as a DECLARED query (Ivm.deltaKeyScoped, the
    // window-maintenance rung): per-user running sums ordered by VALUE — an
    // order deliberately uncorrelated with the time-based delta split, so
    // delta events INTERLEAVE into each user's sequence and genuinely
    // retract downstream running sums (an order correlated with the split
    // would make every delta a pure tail-append and leave the retract path
    // unexercised). Only the users with delta events are recomputed. The
    // oracle derives inserts/retracts independently as the two-directional
    // EXCEPT ALL of the windowed full/base views; running sums go through
    // DECIMAL so the interleaved accumulation is bit-exact in both engines.
    // The change is read as ONE net with a sign column
    // (Ivm.SignedDelta.netWithSign); the reuse on/off check of queries
    // reading both nets is DeltaIdentitySpec's.
    QueryDef("delta_keyscoped",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val q = (df: DataFrame) => {
          val w = Window.partitionBy("user_id").orderBy("value", "event_id")
          df.select(col("user_id"), col("event_id"),
            sum(col("value").cast(DecimalType(18, 2))).over(w)
              .cast("double").as("running"))
        }
        val ev = t(s, d, "events")
          .select("user_id", "event_id", "ts", "value")
        val sd = Ivm.deltaKeyScoped(q, ev, Seq("user_id"))
        sd.netWithSign
          .orderBy("user_id", "event_id", "sign")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, value,
             |    (ts >= TIMESTAMP '2024-01-28 00:00:00') AS isdelta
             |  FROM events),
             |qf AS (
             |  SELECT user_id, event_id,
             |    CAST(SUM(CAST(value AS DECIMAL(18,2)))
             |      OVER (PARTITION BY user_id ORDER BY value, event_id)
             |      AS DOUBLE) AS running
             |  FROM e),
             |qb AS (
             |  SELECT user_id, event_id,
             |    CAST(SUM(CAST(value AS DECIMAL(18,2)))
             |      OVER (PARTITION BY user_id ORDER BY value, event_id)
             |      AS DOUBLE) AS running
             |  FROM e WHERE NOT isdelta),
             |ins AS (SELECT * FROM qf EXCEPT ALL SELECT * FROM qb),
             |ret AS (SELECT * FROM qb EXCEPT ALL SELECT * FROM qf)
             |SELECT user_id, event_id, running, CAST(1 AS BIGINT) AS sign
             |FROM ins
             |UNION ALL
             |SELECT user_id, event_id, running, CAST(-1 AS BIGINT) AS sign
             |FROM ret
             |ORDER BY user_id, event_id, sign""".stripMargin)),

    // ---- broader inherited SQL surface (outer/semi/anti/multi joins,
    // having, subqueries, conditional expressions, JSON) ----

    // LEFT OUTER: customers against only their big orders; null-extended
    // rows kept. Spark's asc = NULLS FIRST; oracle says so explicitly
    // (DuckDB defaults to NULLS LAST).
    QueryDef("join_left",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left")
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc),
      Some("""SELECT c_custkey, o_orderkey, o_totalprice
             |FROM customer LEFT JOIN
             |  (SELECT * FROM orders WHERE o_totalprice > 400000) o
             |  ON c_custkey = o_custkey
             |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin)),

    // LEFT SEMI: customers with ≥1 big order — plans as a semi join (one
    // probe, no row multiplication), the shape IN/EXISTS decorrelate to.
    QueryDef("join_semi",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin)),

    // LEFT ANTI: customers with no completed ('F') order.
    QueryDef("join_anti",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // FULL OUTER: both null-extension directions exercised — the left side
    // is filtered to every-third customer, so big orders of the filtered-out
    // customers null-extend leftward while orderless kept customers
    // null-extend rightward. NULLS FIRST stated on both engines.
    QueryDef("join_full",
      (s, d) => t(s, d, "customer").filter(col("c_custkey") % 3 === 0)
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "full")
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .orderBy(col("c_custkey").asc_nulls_first,
          col("o_orderkey").asc_nulls_first),
      Some("""SELECT c_custkey, o_orderkey, o_totalprice
             |FROM (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
             |FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
             |  ON c_custkey = o_custkey
             |ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST"""
        .stripMargin)),

    // SALTED JOIN under the oracle (r7): Joins.saltedJoin is the explicit
    // fallback for the ONE skew case AQE's skew split can't fix — a key so
    // hot that every split of its partition still holds only that key.
    // Declared so the salted path is oracle-checked end to end, not just
    // spec-pinned: lineitem sharded into 8 deterministic sub-keys
    // (xxhash64 of the row — stable across task retries), part replicated
    // 8×, the standard brand rollup on top. The oracle is the PLAIN join:
    // hash equality proves salting changes the distribution and nothing
    // else. Use at 100 TB: only when a profiled hot key beats AQE — the
    // cost is salt× the small side's shuffle volume.
    QueryDef("join_salted",
      (s, d) => {
        val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(BigDecimal(1)).cast(DecimalType(18, 2)) -
            col("l_discount").cast(DecimalType(18, 2))))
        Joins.saltedJoin(
            t(s, d, "lineitem")
              .select("l_partkey", "l_extendedprice", "l_discount"),
            t(s, d, "part").select("p_partkey", "p_brand"),
            "l_partkey", "p_partkey", 8)
          .groupBy("p_brand")
          .agg(sum(rev).cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             |    AS revenue,
             |  COUNT(*) AS n_items
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // 3-way dim join on the fact table (TPC-H Q5 shape): lineitem ⋈ part ⋈
    // supplier ⋈ nation, revenue per (nation, brand). The three dims are
    // broadcast; lineitem is scanned once; the only shuffle is the final
    // 2-key aggregate — the canonical star-join plan at any scale.
    QueryDef("multi_join",
      (s, d) => {
        val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(BigDecimal(1)).cast(DecimalType(18, 2)) -
            col("l_discount").cast(DecimalType(18, 2))))
        t(s, d, "lineitem")
          .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
          .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name", "p_brand")
          .agg(sum(rev).cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("n_name", "p_brand")
      },
      Some("""SELECT n_name, p_brand,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             |    AS revenue,
             |  COUNT(*) AS n_items
             |FROM lineitem
             |JOIN part ON l_partkey = p_partkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |GROUP BY n_name, p_brand
             |ORDER BY n_name, p_brand""".stripMargin)),

    // GROUP BY + HAVING: market segments per nation with enough customers.
    QueryDef("agg_having",
      (s, d) => t(s, d, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_cust"))
        .filter(col("n_cust") >= 3)
        .orderBy("c_nationkey", "c_mktsegment"),
      Some("""SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_cust
             |FROM customer GROUP BY c_nationkey, c_mktsegment
             |HAVING COUNT(*) >= 3
             |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // Scalar subquery: orders above the global average price. The average is
    // computed exactly (decimal sum / count, double division) so both
    // engines compare against bit-identical thresholds. Plans as a broadcast
    // of the 1-row aggregate — no per-row subquery execution.
    QueryDef("scalar_subquery",
      (s, d) => {
        val o = t(s, d, "orders")
        val avgP = o.agg((dsum(col("o_totalprice")) /
          count(lit(1)).cast("double")).as("avg_price"))
        o.join(broadcast(avgP))
          .filter(col("o_totalprice") > col("avg_price"))
          .select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice > (
             |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) FROM orders)
             |ORDER BY o_orderkey""".stripMargin)),

    // CASE WHEN banding + conditional aggregation.
    QueryDef("case_when",
      (s, d) => t(s, d, "orders")
        .select(
          when(col("o_totalprice") > 300000, lit("high"))
            .when(col("o_totalprice") > 150000, lit("mid"))
            .otherwise(lit("low")).as("band"),
          col("o_orderstatus"), col("o_totalprice"))
        .groupBy("band", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("band", "o_orderstatus"),
      Some("""SELECT CASE WHEN o_totalprice > 300000 THEN 'high'
             |            WHEN o_totalprice > 150000 THEN 'mid'
             |            ELSE 'low' END AS band,
             |  o_orderstatus, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY 1, 2
             |ORDER BY band, o_orderstatus""".stripMargin)),

    // Set operations: INTERSECT / EXCEPT (set semantics — Spark's
    // intersect/except == SQL INTERSECT/EXCEPT DISTINCT).
    QueryDef("set_intersect",
      (s, d) => t(s, d, "orders").filter(col("o_totalprice") > 100000)
        .select("o_custkey")
        .intersect(t(s, d, "orders").filter(col("o_orderstatus") === "F")
          .select("o_custkey"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey FROM orders WHERE o_totalprice > 100000
             |INTERSECT
             |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY o_custkey""".stripMargin)),

    QueryDef("set_except",
      (s, d) => t(s, d, "customer").select("c_custkey")
        .except(t(s, d, "orders").filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer
             |EXCEPT
             |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
             |ORDER BY c_custkey""".stripMargin)),

    // SET-OP view maintenance (round 5, Ivm.deltaIntersect): INTERSECT is
    // monotone under inserts, so the maintained view advances append-only —
    // the delta is the custkeys newly present on BOTH sides (a new big
    // order by a customer with an old 'F' order, or vice versa). The plan
    // is candidate-driven: distinct δ values anti-joined against the
    // bases; the base∩base view is never recomputed. Oracle = set
    // difference of the full and base intersections, derived independently.
    QueryDef("delta_intersect",
      (s, d) => {
        val o = t(s, d, "orders")
        Ivm.deltaIntersect(
            o.filter(col("o_totalprice") > 100000).select("o_custkey"),
            o.filter(col("o_orderstatus") === "F").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""WITH qfull AS (
             |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000
             |  INTERSECT
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
             |qbase AS (
             |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000
             |    AND NOT (o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
             |  INTERSECT
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |    AND NOT (o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'))
             |SELECT * FROM qfull EXCEPT SELECT * FROM qbase
             |ORDER BY o_custkey""".stripMargin)),

    // SIGNED set-EXCEPT maintenance (round 5, Ivm.deltaExcept): EXCEPT is
    // anti-monotone on the right — a customer's first big order RETRACTS
    // them from the "no big orders" view. inserts = new δ customers with
    // no big order; retracts = base customers whose first big order
    // arrives in the δ partition. Both frames are delta-keyed (the small
    // distinct-δ sets probe the bases); the oracle derives both signs as
    // independent set differences of the full/base views.
    QueryDef("delta_except_signed",
      (s, d) => {
        val sd = Ivm.deltaExcept(
          t(s, d, "customer").select("c_custkey"),
          t(s, d, "orders").filter(col("o_totalprice") > 300000)
            .select(col("o_custkey").as("c_custkey")))
        sd.netWithSign
          .orderBy("c_custkey", "sign")
      },
      Some("""WITH qfull AS (
             |  SELECT c_custkey FROM customer
             |  EXCEPT
             |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000),
             |qbase AS (
             |  SELECT c_custkey FROM customer WHERE NOT (c_custkey % 10 = 0)
             |  EXCEPT
             |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000
             |    AND NOT (o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')),
             |ins AS (SELECT * FROM qfull EXCEPT SELECT * FROM qbase),
             |ret AS (SELECT * FROM qbase EXCEPT SELECT * FROM qfull)
             |SELECT c_custkey, CAST(1 AS BIGINT) AS sign FROM ins
             |UNION ALL
             |SELECT c_custkey, CAST(-1 AS BIGINT) AS sign FROM ret
             |ORDER BY c_custkey, sign""".stripMargin)),

    // ROLLUP with an explicit grouping-level column (grouping() is engine-
    // portable; raw NULL group keys order the same under NULLS FIRST).
    QueryDef("rollup_agg",
      // two-phase like cube_agg: plain agg to the finest (nation, segment)
      // partial, then the rollup Expand over ~125 partial rows instead of
      // the corpus (COUNT re-aggregates as SUM of partial counts)
      (s, d) => t(s, d, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("pn"))
        .rollup("c_nationkey", "c_mktsegment")
        .agg(sum(col("pn")).as("n_cust"),
          grouping(col("c_nationkey")).cast("long").as("g_nat"),
          grouping(col("c_mktsegment")).cast("long").as("g_seg"))
        .orderBy(col("g_nat"), col("g_seg"), col("c_nationkey").asc,
          col("c_mktsegment").asc),
      Some("""SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_cust,
             |  CAST(GROUPING(c_nationkey) AS BIGINT) AS g_nat,
             |  CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg
             |FROM customer GROUP BY ROLLUP (c_nationkey, c_mktsegment)
             |ORDER BY g_nat, g_seg, c_nationkey ASC NULLS FIRST,
             |  c_mktsegment ASC NULLS FIRST""".stripMargin)),

    // SQL-string entry point: CTE + LIKE + BETWEEN + IN through spark.sql
    // (every other declared query builds its plan with the DataFrame API;
    // this one pins the parser path end-to-end in the oracle surface).
    QueryDef("sql_cte",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders_v")
        t(s, d, "customer").createOrReplaceTempView("customer_v")
        s.sql("""
          WITH urgent AS (
            SELECT o_custkey, COUNT(*) AS n_urgent
            FROM orders_v
            WHERE o_totalprice BETWEEN 150000 AND 400000
              AND o_orderpriority LIKE '%URGENT%'
              AND o_orderstatus IN ('O', 'F')
            GROUP BY o_custkey)
          SELECT c.c_custkey, c.c_mktsegment, u.n_urgent
          FROM customer_v c JOIN urgent u ON c.c_custkey = u.o_custkey
          ORDER BY c.c_custkey""")
      },
      Some("""WITH urgent AS (
             |  SELECT o_custkey, COUNT(*) AS n_urgent
             |  FROM orders
             |  WHERE o_totalprice BETWEEN 150000 AND 400000
             |    AND o_orderpriority LIKE '%URGENT%'
             |    AND o_orderstatus IN ('O', 'F')
             |  GROUP BY o_custkey)
             |SELECT c.c_custkey, c.c_mktsegment, u.n_urgent
             |FROM customer c JOIN urgent u ON c.c_custkey = u.o_custkey
             |ORDER BY c.c_custkey""".stripMargin)),

    // JSON extraction from the events.props payload column.
    QueryDef("events_json",
      (s, d) => t(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // CSV SOURCE scan (r7): the inherited engine reads CSV at the same
    // entry point as parquet; this pins that path under the oracle (the
    // one source SourcesSpec round-tripped but no declared query read).
    // The events table is staged to CSV once per box+content
    // (sources.Staging), then scanned via the CSV reader with an explicit
    // schema and aggregated; the oracle reads the logically identical
    // parquet table, so hash equality proves the CSV write/parse
    // round-trip — quoted-JSON escaping and double formatting included —
    // plus the aggregate on top. At scale the same scan reads a CSV
    // directory; schema-explicit (no inference pass), splittable files.
    QueryDef("events_csv",
      (s, d) => {
        val stage = graft.sources.Staging.stageOnce(d, "events_csv",
          Seq(s"$d/events.parquet")) { p =>
          t(s, d, "events")
            .select("event_id", "user_id", "event_type", "value", "props")
            .write.mode("overwrite").csv(p)
        }
        s.read
          .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
            "value DOUBLE, props STRING")
          .csv(stage)
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(DecimalType(18, 2)))
              .cast("double").as("sum_value"),
            sum(get_json_object(col("props"), "$.k").cast("long"))
              .as("sum_k"),
            min(col("event_id")).as("min_id"),
            max(col("event_id")).as("max_id"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
             |    AS BIGINT) AS sum_k,
             |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // JSON-LINES SOURCE scan (r7): the other non-parquet source the
    // inherited engine reads at the same entry point. Staged once per
    // box+content (sources.Staging, same slot discipline as events_csv),
    // then read back SCHEMA-EXPLICIT — at 100 TB schema inference is a
    // full extra pass over the corpus, so production JSON scans always
    // carry the schema; line-delimited files stay splittable. The props
    // column is itself a JSON string INSIDE each JSON line, so hash
    // equality additionally pins the writer's string escaping and the
    // reader's unescaping round-trip (the nastiest part of JSON
    // interchange), plus double formatting and the aggregate on top.
    QueryDef("events_jsonl",
      (s, d) => {
        val stage = graft.sources.Staging.stageOnce(d, "events_jsonl",
          Seq(s"$d/events.parquet")) { p =>
          t(s, d, "events")
            .select("event_id", "user_id", "event_type", "value", "props")
            .write.mode("overwrite").json(p)
        }
        s.read
          .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
            "value DOUBLE, props STRING")
          .json(stage)
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            countDistinct(col("user_id")).as("n_users"),
            (dsum(col("value")) / count(lit(1)).cast("double"))
              .as("avg_value"),
            max(get_json_object(col("props"), "$.k").cast("long"))
              .as("max_k"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS cnt,
             |  COUNT(DISTINCT user_id) AS n_users,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS avg_value,
             |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
             |    AS BIGINT) AS max_k
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ORC SOURCE scan (r8): the third non-parquet file source, on Spark's
    // native ORC reader (columnar, predicate-pushdown-capable — unlike
    // CSV/JSON the FILTER here reaches the ORC stripe stats, so the scan
    // shape matches parquet's at 100 TB). Event time is staged as the
    // type-adaptive epoch-µs BIGINT (Tables.tsUs), so the slot is stable
    // across ts physical encodings and the hash compare pins the ORC
    // write/read round-trip of longs, doubles, and strings plus the
    // filtered aggregate on top. Staged once per box+content with the
    // same fingerprinted slot discipline as events_csv/events_jsonl.
    QueryDef("events_orc",
      (s, d) => {
        val stage = graft.sources.Staging.stageOnce(d, "events_orc",
          Seq(s"$d/events.parquet")) { p =>
          val ev = t(s, d, "events")
          ev.select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), graft.engine.Tables.tsUs(ev).as("tsus"))
            .write.mode("overwrite").orc(p)
        }
        s.read.orc(stage)
          .filter(col("value") > 5.0)
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(DecimalType(18, 2)))
              .cast("double").as("sum_value"),
            min(col("tsus")).as("min_ts"),
            max(col("tsus")).as("max_ts"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |  MIN(epoch_us(ts)) AS min_ts, MAX(epoch_us(ts)) AS max_ts,
             |  COUNT(DISTINCT user_id) AS n_users
             |FROM events WHERE value > 5.0 GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // BUCKETED CO-LOCATED JOIN (r8): the table-LAYOUT answer to the
    // shuffle budget — both sides staged bucketed+sorted by the join key
    // (sources.Bucketed: written once per box+content, re-registered per
    // session as external bucketed tables), so the merge-hinted join
    // reads co-located buckets with NO exchange under the join: at
    // 100 TB the fact table stops re-shuffling on every join against an
    // equally-bucketed side. The merge hint makes the demonstration
    // deterministic across SFs (a broadcast would also skip the shuffle,
    // but only while the dim fits in memory — bucketing is the layout
    // that scales past that). AQE cannot re-plan the join (no shuffle
    // stage below it). Hash equality vs the plain-parquet oracle proves
    // the layout changes distribution only; PlanAuditSpec pins the
    // exchange-free join subtree and the bucketed scans.
    QueryDef("join_bucketed",
      (s, d) => {
        val ord = t(s, d, "orders")
          .select("o_custkey", "o_totalprice", "o_orderpriority")
        val cust = t(s, d, "customer").select("c_custkey", "c_mktsegment")
        val ot = graft.sources.Bucketed.table(s, d, "bucketed_orders",
          s"$d/orders.parquet", ord, "o_custkey", 8)
        val ct = graft.sources.Bucketed.table(s, d, "bucketed_customer",
          s"$d/customer.parquet", cust, "c_custkey", 8)
        s.table(ot).hint("merge")
          .join(s.table(ct), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    // DELTA LAKE SNAPSHOT READ (r8): the north star's "Spark SQL + Delta
    // Lake reader" (BASELINE.json), on the native log reader
    // (sources.DeltaLake — open protocol, no connector jars). The staged
    // fixture is a REAL two-commit Delta table partitioned by
    // o_orderpriority (commit 0 = the first 90% of the order-key range,
    // commit 1 = the appended tail; partition values live in the LOG,
    // not the data files). The snapshot read folds the commit log —
    // never listing the store — and reconstructs partition columns as
    // per-group literals. Hash equality vs the plain parquet oracle over
    // the SAME rows pins the whole chain: log fold, multi-commit union,
    // partition-value injection, and the aggregate on top.
    QueryDef("deltalake_scan",
      (s, d) => graft.sources.DeltaLake.snapshot(s, deltaLakeOrders(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // DELTA LAKE TIME TRAVEL (r8): the same table read AS OF version 0 —
    // the snapshot-isolation contract a lakehouse pipeline leans on
    // (reproducible training runs pin a table version). The fold replays
    // the log only up to the requested cut; the oracle recomputes the
    // commit-0 membership from first principles (the deterministic
    // 90%-of-key-range split), so hash equality proves version selection
    // is exact, not approximate.
    QueryDef("deltalake_time_travel",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrders(s, d), version = Some(0L))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  MAX(o_orderkey) AS max_key
             |FROM orders
             |WHERE o_orderkey < (SELECT (MAX(o_orderkey)*9)//10 FROM orders)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // DELTA LAKE COMMIT-LOG DELTA (r8): the rows added after version 0 —
    // the transactional replacement for FileSnapshots' mtime cut (its
    // scaladoc's own caveat): an incremental maintenance cycle reads
    // EXACTLY the files of the commits since its last version, no data
    // predicate, no listing, no same-tick ambiguity. Files added and
    // removed inside the window cancel, so compaction rewrites never
    // replay as inserts. The oracle recomputes the appended membership
    // from the split's first principles.
    QueryDef("deltalake_appends",
      (s, d) => graft.sources.DeltaLake
        .appended(s, deltaLakeOrders(s, d), afterVersion = 0L)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  MIN(o_orderkey) AS min_key
             |FROM orders
             |WHERE o_orderkey >= (SELECT (MAX(o_orderkey)*9)//10 FROM orders)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // δ OVER A DELTA TABLE (r8) — the reference's literal composition:
    // "datafusion-delta-queries" IS the PosDelta rewrite over Delta
    // sources. The staged table is tracked by ivm.DeltaLakeSnapshots
    // with the cut at version 0, so the rewrite's incremental scan
    // resolves through the VERSION-cut predicate (_metadata.file_name ∉
    // the v0 snapshot's file set — commits after the cut are delta by
    // construction, no same-tick mtime ambiguity). The query runs
    // envelope ops (filter+projection) through Ivm.delta, so the oracle
    // — the commit-1 membership from the split's first principles —
    // pins the whole chain: log fold, view registration, predicate
    // resolution at the PosDeltaScan seam, and the rewrite itself.
    QueryDef("delta_deltalake",
      (s, d) => {
        import graft.ivm.DeltaLakeSnapshots
        val dir = deltaLakeOrders(s, d)
        DeltaLakeSnapshots.track(s, "dl_orders", dir, at = Some(0L))
        DeltaLakeSnapshots.view(s, "dl_orders")
        val q = s.table("dl_orders")
          .filter(col("o_totalprice") > 50000)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderpriority"),
            col("o_totalprice").cast(DecimalType(18, 2))
              .cast("double").as("price"))
        Ivm.delta(q).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderpriority,
             |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
             |FROM orders
             |WHERE o_orderkey >= (SELECT (MAX(o_orderkey)*9)//10 FROM orders)
             |  AND o_totalprice > 50000
             |ORDER BY o_orderkey""".stripMargin)),

    // DELTA LAKE DATA SKIPPING (r8): the log's add.stats (numRecords +
    // per-column min/max, written by the staging commits) lets the
    // reader drop files whose range provably misses the predicate —
    // driver-side, before any footer is read. Partition pruning cuts
    // directories; stats skipping cuts files WITHIN partitions: this
    // key-range query plans only the commit-1 files (every commit-0
    // file's max key sits below the cut — spec-pinned via inputFiles).
    // Skipping is conservative and the predicate is re-applied as a
    // normal filter, so the oracle's hash equality pins that dropped
    // files never held a matching row.
    QueryDef("deltalake_skipping",
      (s, d) => {
        val dir = deltaLakeOrders(s, d)
        val cut = t(s, d, "orders")
          .agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
        graft.sources.DeltaLake
          .snapshotWhere(s, dir, col("o_orderkey") >= cut)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  MAX(o_orderkey) AS max_key
             |FROM orders
             |WHERE o_orderkey >= (SELECT (MAX(o_orderkey)*9)//10 FROM orders)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // DELTA LAKE SCHEMA EVOLUTION (r8): the staged table's second commit
    // WIDENS the schema (a derived o_prio column) and re-emits metaData;
    // the snapshot resolves with the latest schema and the pre-evolution
    // files surface the new column as NULL — exactly the protocol's
    // evolution contract, here under the full hash oracle (the NULL
    // group is the entire commit-0 population; the oracle derives the
    // same membership from the split's first principles). At 100 TB this
    // is how a pipeline adds a column without rewriting history.
    QueryDef("deltalake_evolution",
      (s, d) => {
        val dir = graft.sources.Staging.stageOnce(d,
          "deltalake_orders_evo", Seq(s"$d/orders.parquet")) { p =>
          val ord = t(s, d, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice",
              "o_orderpriority")
          val cut = ord.agg(max(col("o_orderkey"))).head()
            .getLong(0) * 9L / 10L
          graft.sources.DeltaLake.stageCommit(s, p,
            ord.filter(col("o_orderkey") < cut)
              .select("o_orderkey", "o_custkey", "o_totalprice"),
            Seq.empty, 0L)
          graft.sources.DeltaLake.stageCommit(s, p,
            ord.filter(col("o_orderkey") >= cut)
              .select(col("o_orderkey"), col("o_custkey"),
                col("o_totalprice"),
                substring(col("o_orderpriority"), 1, 1).as("o_prio")),
            Seq.empty, 1L)
        }
        graft.sources.DeltaLake.snapshot(s, dir)
          .groupBy("o_prio")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            min(col("o_orderkey")).as("min_key"))
          .orderBy("o_prio") // Spark asc = NULLS FIRST; oracle says so
      },
      Some("""SELECT CASE WHEN o_orderkey >=
             |    (SELECT (MAX(o_orderkey)*9)//10 FROM orders)
             |  THEN substr(o_orderpriority, 1, 1) END AS o_prio,
             |  COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  MIN(o_orderkey) AS min_key
             |FROM orders
             |GROUP BY 1
             |ORDER BY o_prio NULLS FIRST""".stripMargin)),

    // DELETE-AWARE SIGNED MAINTENANCE THROUGH THE DELTA LOG (r9): the
    // capability the r8 fail-fast pointed at — a real lakehouse DELETE
    // (GDPR/retention: remove(file) + add(survivors), dataChange=true)
    // lands in the tracked window, and instead of rebasing, the stored
    // aggregate view maintains through it: DeltaLake.changes surfaces the
    // removed files' rows as retracts and the rewritten survivors as
    // inserts; the group-scoped splice recomputes ONLY the touched
    // groups from the new snapshot (exact for ANY deterministic
    // aggregate — countDistinct here, which subtraction-merging cannot
    // retract). The delete predicate hits two of the five priority
    // partitions, so three groups ride the stored view untouched and the
    // recompute arm's scan partition-prunes to the two touched ones
    // (keys ARE the partition columns). Hash equality vs the
    // first-principles full-recompute oracle pins the whole chain: the
    // staged delete rewrite, the signed file diff, and the splice.
    QueryDef("delta_deltalake_delete",
      (s, d) => {
        import graft.ivm.DeltaLakeSnapshots
        val dir = deltaLakeOrdersDeleted(s, d)
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            countDistinct(col("o_custkey")).as("n_cust"))
        // the stored view: built at version 1 (before the delete landed)
        DeltaLakeSnapshots.track(s, "dl_orders_del", dir, at = Some(1L))
        val stored = aggOf(
          graft.sources.DeltaLake.snapshot(s, dir, version = Some(1L)))
        DeltaLakeSnapshots.maintainAgg(s, "dl_orders_del", stored,
          Seq("o_orderpriority"), aggOf)
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 7 = 0
             |  AND o_orderpriority IN ('1-URGENT', '3-MEDIUM'))
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // OPTIMIZE THROUGH THE SIGNED SEAM (r11): production tables compact
    // constantly, and a maintained view must NOT rebase (or worse,
    // replay) when they do. The window here is append-then-OPTIMIZE:
    // `changes` keeps the append's insert frame and recognizes the
    // compaction's `dataChange=false` remove+add pair as a content
    // no-op — the signed frames stay APPEND-SIZED (a pure-compaction
    // window nets to two EMPTY frames, spec-pinned with zero files
    // planned). The insert-only file-set cut CANNOT do this (the
    // rewritten file is not in the cut's set — it would replay the
    // whole table as inserts; view() fails fast there by design). Hash
    // equality vs the plain full aggregate pins that the maintained
    // view neither lost the append nor double-counted the rewrite.
    QueryDef("delta_deltalake_optimize",
      (s, d) => {
        import graft.ivm.DeltaLakeSnapshots
        val dir = deltaLakeOrdersOptimized(s, d)
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            countDistinct(col("o_custkey")).as("n_cust"))
        // stored view: built at version 0 (the pre-append base)
        DeltaLakeSnapshots.track(s, "dl_orders_opt", dir, at = Some(0L))
        val stored = aggOf(
          graft.sources.DeltaLake.snapshot(s, dir, version = Some(0L)))
        DeltaLakeSnapshots.maintainAgg(s, "dl_orders_opt", stored,
          Seq("o_orderpriority"), aggOf)
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // VERSION CUT ∘ STATS SKIPPING ∘ MERGE (r9): the two log-level
    // predicates COMPOSE on the same δ-arm scan. The staged table has
    // three commits split on DIFFERENT axes (commit 0 = three quarters
    // of customers across the whole key range; commits 1/2 = the rest,
    // below/at-or-above the 95% key threshold): the tracked cut (at
    // version 0) excludes the commit-0 files by the file-set complement,
    // and the view's key-range filter stats-skips the commit-1 files
    // (every one's max key sits below the threshold), so the δ partial
    // plans ONLY the commit-2 files. The maintained result is IvmAgg's
    // mergeable-partial fold into the base view (built from the
    // version-0 snapshot under the same filter — non-empty: commit 0
    // spans the key range). Hash equality vs the full-recompute oracle
    // pins that merge(base, partial) ≡ full; PlanAuditSpec pins that the
    // δ arm's single scan carries both predicates and plans only
    // commit-2 files.
    QueryDef("delta_deltalake_skipping",
      (s, d) => {
        import graft.ivm.{DeltaLakeSnapshots, IvmAgg}
        val dir = deltaLakeOrders3c(s, d)
        val c2 = t(s, d, "orders")
          .agg(max(col("o_orderkey"))).head().getLong(0) * 19L / 20L
        DeltaLakeSnapshots.track(s, "dl_orders_3c", dir, at = Some(0L))
        DeltaLakeSnapshots.view(s, "dl_orders_3c")
        // storage form: the sum stays DECIMAL so the partial is
        // mergeable (IvmAgg's sum-add combine); display-cast on the way
        // out, like the avg storage/display split
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .filter(col("o_orderkey") >= c2)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("total"),
            max(col("o_orderkey")).as("max_key"))
        val base = aggOf(
          graft.sources.DeltaLake.snapshot(s, dir, version = Some(0L)))
        IvmAgg.maintain(base, aggOf(s.table("dl_orders_3c")))
          .select(col("o_orderpriority"), col("cnt"),
            col("total").cast("double").as("total"), col("max_key"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  MAX(o_orderkey) AS max_key
             |FROM orders
             |WHERE o_orderkey >= (SELECT (MAX(o_orderkey)*19)//20
             |  FROM orders)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG SNAPSHOT READ (r9): the second lakehouse format, on the
    // native manifest-fold reader (sources.Iceberg — open table spec,
    // Avro codec only, no connector jars; the r8 "jar-blocked" decision
    // is superseded). The staged fixture is a REAL two-snapshot
    // partitioned Iceberg table (metadata json + Avro manifest lists +
    // Avro manifests), same 90/10 key split as the Delta fixture. Hash
    // equality vs the plain parquet oracle pins the whole chain:
    // metadata resolution, manifest-list → manifest fold, partition
    // values from the manifest entry struct, single-scan reconstruction.
    QueryDef("iceberg_scan",
      (s, d) => graft.sources.Iceberg.snapshot(s, icebergOrders(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG TIME TRAVEL (r9): read AS OF the first snapshot id — the
    // manifest fold replays the snapshot log to the historical cut
    // (fixture snapshot ids are the deterministic 1-based ordinals).
    // Same first-principles oracle as deltalake_time_travel: version
    // selection is exact, not approximate.
    QueryDef("iceberg_time_travel",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrders(s, d), snapshotId = Some(1L))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  MAX(o_orderkey) AS max_key
             |FROM orders
             |WHERE o_orderkey < (SELECT (MAX(o_orderkey)*9)//10 FROM orders)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // δ OVER AN ICEBERG TABLE (r9): the PosDelta rewrite composed with
    // the SECOND lakehouse format through the same source seam — the cut
    // is snapshot 1, so the rewrite's incremental scan resolves to
    // exactly the snapshot-2 files (the file-set complement predicate is
    // file-constant, pruned at the index like the Delta source). The
    // oracle recomputes the snapshot-2 membership from the split's first
    // principles, pinning metadata resolution, view registration, and
    // the rewrite end to end.
    QueryDef("delta_iceberg",
      (s, d) => {
        import graft.ivm.IcebergSnapshots
        val dir = icebergOrders(s, d)
        IcebergSnapshots.track(s, "ice_orders", dir, at = Some(1L))
        IcebergSnapshots.view(s, "ice_orders")
        val q = s.table("ice_orders")
          .filter(col("o_totalprice") > 50000)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderpriority"),
            col("o_totalprice").cast(DecimalType(18, 2))
              .cast("double").as("price"))
        Ivm.delta(q).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderpriority,
             |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
             |FROM orders
             |WHERE o_orderkey >= (SELECT (MAX(o_orderkey)*9)//10 FROM orders)
             |  AND o_totalprice > 50000
             |ORDER BY o_orderkey""".stripMargin)),

    // DELETE-AWARE SIGNED MAINTENANCE, ICEBERG EDITION (r9): the same
    // capability as delta_deltalake_delete on the second lakehouse
    // format — a copy-on-write DELETE lands as snapshot 3 (hit files
    // marked DELETED in the new manifest, survivors rewritten), and the
    // stored aggregate view maintains through it via the signed
    // file-set diff + group-scoped splice instead of rebasing. The
    // delete predicate hits two of the five priority partitions; hash
    // equality vs the first-principles full-recompute oracle pins the
    // staged delete, the snapshot diff, and the splice end to end.
    QueryDef("delta_iceberg_delete",
      (s, d) => {
        import graft.ivm.IcebergSnapshots
        val dir = icebergOrdersDeleted(s, d)
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            countDistinct(col("o_custkey")).as("n_cust"))
        // the stored view: built at snapshot 2 (before the delete)
        IcebergSnapshots.track(s, "ice_orders_del", dir, at = Some(2L))
        val stored = aggOf(graft.sources.Iceberg
          .snapshot(s, dir, snapshotId = Some(2L)))
        IcebergSnapshots.maintainAgg(s, "ice_orders_del", stored,
          Seq("o_orderpriority"), aggOf)
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 5 = 0
             |  AND o_orderpriority IN ('2-HIGH', '5-LOW'))
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG MANIFEST-BOUNDS SKIPPING under the oracle (r9): parity
    // with deltalake_skipping on the second format — the key-range
    // predicate is proven false for every snapshot-1 file by the
    // decoded manifest bounds (each partition's file tops out below the
    // 90% cut), so only snapshot-2 files are planned; conservative, and
    // the predicate re-applies as a filter, so hash equality pins that
    // dropped files held no matching row.
    QueryDef("iceberg_skipping",
      (s, d) => {
        val dir = icebergOrders(s, d)
        val cut = t(s, d, "orders")
          .agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
        graft.sources.Iceberg
          .snapshotWhere(s, dir, col("o_orderkey") >= cut)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            min(col("o_orderkey")).as("min_key"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  MIN(o_orderkey) AS min_key
             |FROM orders
             |WHERE o_orderkey >= (SELECT (MAX(o_orderkey)*9)//10 FROM orders)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ROW-LEVEL VIEW THROUGH A DELETE (r9): the delete-aware seam's
    // OTHER half under the hash oracle — a deterministic
    // filter+projection view (row-wise ops commute with the signed
    // pair) maintained through the Delta DELETE commit by applying the
    // signed frames to the STORED view rows: view' = (view ∪ q(inserts))
    // ∖ q(retracts). The oracle recomputes the final view from first
    // principles, pinning that per-file retraction + survivor
    // re-insertion nets to exactly the deleted rows at row-level too
    // (the aggregate case is delta_deltalake_delete).
    QueryDef("delta_deltalake_rowview",
      (s, d) => {
        import graft.ivm.DeltaLakeSnapshots
        val dir = deltaLakeOrdersDeleted(s, d)
        DeltaLakeSnapshots.track(s, "dl_orders_rv", dir, at = Some(1L))
        val q = (df: org.apache.spark.sql.DataFrame) => df
          .filter(col("o_totalprice") > 100000)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderpriority"))
        val stored = q(graft.sources.DeltaLake
          .snapshot(s, dir, version = Some(1L)))
        DeltaLakeSnapshots.signedThrough(s, "dl_orders_rv")(q)
          .applyTo(stored)
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderpriority
             |FROM orders
             |WHERE o_totalprice > 100000
             |  AND NOT (o_custkey % 7 = 0
             |    AND o_orderpriority IN ('1-URGENT', '3-MEDIUM'))
             |ORDER BY o_orderkey""".stripMargin)),

    // UPDATE THROUGH THE SIGNED SEAM (r9): the third DML shape — a
    // row-level UPDATE rewrite (hit files removed, rewritten in full
    // with SET applied to matching rows) lands as commit 2, and the
    // stored aggregate view maintains through it via the same signed
    // diff + group-scoped splice as the delete: the pair nets to
    // retract(old row) + insert(updated row) for exactly the updated
    // rows. One touched partition; the oracle recomputes the post-update
    // table from first principles with a CASE expression.
    QueryDef("delta_deltalake_update",
      (s, d) => {
        import graft.ivm.DeltaLakeSnapshots
        val dir = deltaLakeOrdersUpdated(s, d)
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            max(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("max_price"))
        DeltaLakeSnapshots.track(s, "dl_orders_upd", dir, at = Some(1L))
        val stored = aggOf(
          graft.sources.DeltaLake.snapshot(s, dir, version = Some(1L)))
        DeltaLakeSnapshots.maintainAgg(s, "dl_orders_upd", stored,
          Seq("o_orderpriority"), aggOf)
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(CASE WHEN o_custkey % 6 = 0
             |      AND o_orderpriority = '4-NOT SPECIFIED'
             |    THEN o_totalprice + 1000 ELSE o_totalprice END
             |    AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  CAST(MAX(CAST(CASE WHEN o_custkey % 6 = 0
             |      AND o_orderpriority = '4-NOT SPECIFIED'
             |    THEN o_totalprice + 1000 ELSE o_totalprice END
             |    AS DECIMAL(18,2))) AS DOUBLE) AS max_price
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // DELETION-VECTOR SNAPSHOT READ (r10): the merge-on-read delete
    // shape modern Delta writers produce BY DEFAULT — instead of
    // rewriting survivors, the hit file keeps its bytes and gains a
    // roaring bitmap of deleted row indexes (reader protocol 3,
    // readerFeatures [deletionVectors]). The staged table carries TWO
    // DV commits on the same files (sidecar .bin then inline Z85, the
    // second superseding the first by bitmap union), and the snapshot
    // applies them as ONE codegen'd row_index anti-filter on the single
    // log-backed scan — no join, no shuffle, no rewrite. Hash equality
    // vs the first-principles oracle pins the whole chain: descriptor
    // parse, Z85/roaring decode, CRC'd sidecar framing, bitmap union
    // supersede, and the per-file row_index semantics.
    QueryDef("deltalake_dv_scan",
      (s, d) => graft.sources.DeltaLake.snapshot(s, deltaLakeOrdersDv(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 9 = 0
             |    AND o_orderpriority IN ('2-HIGH', '4-NOT SPECIFIED'))
             |  AND NOT (o_custkey % 9 = 4 AND o_orderpriority = '2-HIGH')
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // MAINTAINED VIEW THROUGH A DV WINDOW (r10): the signed seam nets a
    // deletion-vector commit — remove(file, oldDv) + add(file, newDv),
    // same physical file — to exactly the newly-deleted rows by keying
    // file identity as (path, dv): retract(file∖oldDv) + insert(file∖
    // newDv) cancels survivors under the signed algebra. The stored
    // aggregate view (built at the pre-DV snapshot) maintains through
    // BOTH DV commits via the group-scoped splice; at 100 TB the frames
    // read only the DV'd files, never the snapshot. The delete includes
    // count-distinct — the aggregate subtraction-merging cannot retract
    // — so hash equality vs the full-recompute oracle pins the splice.
    QueryDef("delta_deltalake_dv",
      (s, d) => {
        import graft.ivm.DeltaLakeSnapshots
        val dir = deltaLakeOrdersDv(s, d)
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            countDistinct(col("o_custkey")).as("n_cust"))
        DeltaLakeSnapshots.track(s, "dl_orders_dv", dir, at = Some(1L))
        val stored = aggOf(
          graft.sources.DeltaLake.snapshot(s, dir, version = Some(1L)))
        DeltaLakeSnapshots.maintainAgg(s, "dl_orders_dv", stored,
          Seq("o_orderpriority"), aggOf)
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 9 = 0
             |    AND o_orderpriority IN ('2-HIGH', '4-NOT SPECIFIED'))
             |  AND NOT (o_custkey % 9 = 4 AND o_orderpriority = '2-HIGH')
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG MERGE-ON-READ SNAPSHOT (r10): the v2 positional-delete
    // shape Flink/Trino writers produce by default — data files keep
    // their bytes; a content=1 DELETE manifest lists a parquet delete
    // file of (file_path, pos) rows. The staged table carries TWO MoR
    // delete snapshots (accumulating delete files), and the read
    // subtracts them as a BROADCAST ANTI-JOIN on the scan's own
    // (file_path, row_index) metadata — distributed, never collected to
    // the driver. Hash equality vs the first-principles oracle pins the
    // delete-manifest fold, the path canonicalization, and the per-file
    // position semantics end to end.
    QueryDef("iceberg_mor_scan",
      (s, d) => graft.sources.Iceberg.snapshot(s, icebergOrdersMor(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 11 = 0
             |    AND o_orderpriority IN ('1-URGENT', '5-LOW'))
             |  AND NOT (o_custkey % 11 = 7 AND o_orderpriority = '5-LOW')
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // MERGE-ON-READ SIGNED MAINTENANCE (r11): the seam gap the r10
    // survey documented as a fail-fast contract is closed — a stored
    // aggregate view maintains through TWO MoR positional-delete
    // snapshots without rebasing. The signed window reads ONLY the rows
    // the new delete files name (a broadcast semi-join of the surviving
    // files against the delete keys — delta-sized, no snapshot diff of
    // data bytes), cut-time delete files are applied first so
    // already-dead positions never over-retract, and the group-scoped
    // splice recomputes just the touched priorities. Hash equality vs
    // the first-principles post-delete oracle (incl. countDistinct, the
    // aggregate subtraction-merging cannot maintain) pins the netting,
    // the accumulation, and the splice end to end.
    QueryDef("delta_iceberg_mor",
      (s, d) => {
        import graft.ivm.IcebergSnapshots
        val dir = icebergOrdersMor(s, d)
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            countDistinct(col("o_custkey")).as("n_cust"))
        // stored view: built at snapshot 2 (both appends, no deletes)
        IcebergSnapshots.track(s, "ice_orders_mor", dir, at = Some(2L))
        val stored = aggOf(graft.sources.Iceberg
          .snapshot(s, dir, snapshotId = Some(2L)))
        IcebergSnapshots.maintainAgg(s, "ice_orders_mor", stored,
          Seq("o_orderpriority"), aggOf)
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 11 = 0
             |    AND o_orderpriority IN ('1-URGENT', '5-LOW'))
             |  AND NOT (o_custkey % 11 = 7 AND o_orderpriority = '5-LOW')
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // DELTA OPTIMIZE (r11): the public bin-packing compaction — the
    // staged table's per-priority fragment files (4 commits) plus a
    // DV delete compact into one file per partition with the DV
    // MATERIALIZED, committed dataChange=false. The post-compaction
    // read must be hash-identical to the logical content (a
    // compaction that loses or resurrects a row shifts groups).
    QueryDef("deltalake_compact",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrdersCompacted(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 9 = 0)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG REWRITE DATA FILES (r11): the second format's public
    // compaction — fragments merge, the DV delete materializes into
    // the rewritten file, and the read is hash-identical after.
    QueryDef("iceberg_rewrite",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersRewritten(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 9 = 0)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // DELTA VACUUM (r11): the maintenance half of every rewrite-shaped
    // commit — the staged table's COW delete leaves superseded files
    // on disk, VACUUM removes everything outside the retained
    // versions' live sets, and the CURRENT read must be bit-identical
    // after (a vacuum that deletes a referenced file would lose rows;
    // the oracle catches exactly that). Time travel past the horizon
    // fails loudly by design (spec-pinned in MaintenanceSpec).
    QueryDef("deltalake_vacuum",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrdersVacuumed(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 7 = 0 AND o_orderpriority = '5-LOW')
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG EXPIRE SNAPSHOTS (r11): the second format's maintenance
    // — old snapshots trimmed from the metadata, their exclusive
    // assets deleted, ref-pinned and shared assets protected. The
    // CURRENT read after expiry must equal the pre-expiry state
    // (hash-pinned); the protection semantics live in MaintenanceSpec.
    QueryDef("iceberg_expire",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersExpired(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 7 = 0 AND o_orderpriority = '5-LOW')
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // DELTA SHALLOW CLONE (r11): the zero-copy table `CLONE` commits —
    // one log whose adds reference the SOURCE table's data files by
    // absolute path; no bytes move, stats/partition values ride along
    // so skipping and pruning work unchanged, and the clone is pinned
    // at clone time (later source commits invisible). Hash equality
    // vs the full-orders oracle pins absolute-path resolution and the
    // carried stats end to end.
    QueryDef("deltalake_shallow_clone",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrdersCloned(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG SNAPSHOT REFS (r11): a TAG pins the pre-delete snapshot
    // for audit while the table moves on through an append and a
    // copy-on-write DELETE — reading the tag must surface the full
    // original content, refs carried forward by every later commit
    // (a dropped ref silently unpins the snapshot it guards). Hash
    // equality vs the full-orders oracle pins ref resolution + the
    // carry-forward end to end.
    QueryDef("iceberg_tag_read",
      (s, d) => graft.sources.Iceberg
        .snapshotRef(s, icebergOrdersTagged(s, d), "audit-v1")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG NAME MAPPING (r11): the MIGRATED-table shape —
    // `migrate`/`add_files` registers existing Hive/plain-parquet
    // files untouched (no `parquet.field.id`s) and writes
    // `schema.name-mapping.default` so their historic column names
    // resolve to schema fields. The staged table mixes an id-less era
    // (90% of rows, junk `hive_*` disk names) with a modern
    // id-stamped era in ONE read: the id files ride the field-id
    // scan, the id-less files a by-name scan arm under their resolved
    // names (footer-probed driver-side, cached), unioned after
    // aliasing back. Hash equality vs the full-table oracle pins the
    // name resolution end to end — a positional mis-bind or an
    // all-null era would shift every group.
    QueryDef("iceberg_name_mapping",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersMigrated(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG v3 DELETION-VECTOR SNAPSHOT (r11): the modern
    // format-version 3 row-level delete shape — each deleted data
    // file's positions live as ONE roaring-bitmap blob in a Puffin
    // file, referenced straight from the delete manifest. The read
    // resolves each bitmap driver-side (metadata-sized, the same state
    // the manifest fold holds) and applies it as a codegen'd
    // anti-filter on the scan's own (file_path, row_index) — NO
    // delete-file scan and NO join, strictly cheaper than the v2
    // positional anti-join at any scale. The staged table carries a DV
    // snapshot and a REWRITE (the second DV carries the complete dead
    // set, the first is removed in the same commit). Hash equality vs
    // the first-principles oracle pins the blob decode (magic, CRC,
    // cardinality), the supersession rule, and the rewrite semantics.
    QueryDef("iceberg_dv_scan",
      (s, d) => graft.sources.Iceberg.snapshot(s, icebergOrdersDv(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 11 = 0
             |    AND o_orderpriority IN ('1-URGENT', '5-LOW'))
             |  AND NOT (o_custkey % 11 = 7 AND o_orderpriority = '5-LOW')
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // DELETION VECTORS through the SIGNED SEAM (r11): a stored
    // aggregate view maintains through a DV delete AND a DV REWRITE
    // window without rebasing — the rewrite is a remove+add pair of
    // the same referenced file's vector, attributed by the general
    // row-identity diff arm (rows live under the cut's bitmap but
    // dead under the end's retract; a rewritten superset never
    // over-retracts already-dead positions). The touched scan is
    // pruned to the files the changed DVs REFERENCE — named directly
    // by the manifest, no delete-file read at all. Hash equality vs
    // the same first-principles oracle (incl. countDistinct) pins the
    // netting and the splice end to end.
    QueryDef("delta_iceberg_dv",
      (s, d) => {
        import graft.ivm.IcebergSnapshots
        val dir = icebergOrdersDv(s, d)
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            countDistinct(col("o_custkey")).as("n_cust"))
        // stored view: built at snapshot 2 (both appends, no deletes)
        IcebergSnapshots.track(s, "ice_orders_dv", dir, at = Some(2L))
        val stored = aggOf(graft.sources.Iceberg
          .snapshot(s, dir, snapshotId = Some(2L)))
        IcebergSnapshots.maintainAgg(s, "ice_orders_dv", stored,
          Seq("o_orderpriority"), aggOf)
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 11 = 0
             |    AND o_orderpriority IN ('1-URGENT', '5-LOW'))
             |  AND NOT (o_custkey % 11 = 7 AND o_orderpriority = '5-LOW')
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // EQUALITY-DELETE SIGNED MAINTENANCE (r11): the Flink CDC upsert
    // shape THROUGH the seam — the window holds an equality delete
    // (every 13th customer) AND the partial re-insert at +100, and the
    // stored aggregate view maintains without rebasing. Retraction is
    // VALUE-keyed, so the general arm is a row-identity diff of the
    // surviving files under the cut's vs the end's delete sets (reusing
    // null-safe matching + sequence scoping on both sides — the
    // re-inserted rows survive their own window's delete); the scan is
    // pruned to files whose manifest bounds intersect the delete
    // values. Hash equality vs the CASE/UNION oracle (incl.
    // countDistinct) pins matching, scoping, and the splice end to end.
    QueryDef("delta_iceberg_eq",
      (s, d) => {
        import graft.ivm.IcebergSnapshots
        val dir = icebergOrdersEqDeleted(s, d)
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            countDistinct(col("o_custkey")).as("n_cust"))
        // stored view: built at snapshot 2 (both appends, pre-delete)
        IcebergSnapshots.track(s, "ice_orders_eq", dir, at = Some(2L))
        val stored = aggOf(graft.sources.Iceberg
          .snapshot(s, dir, snapshotId = Some(2L)))
        IcebergSnapshots.maintainAgg(s, "ice_orders_eq", stored,
          Seq("o_orderpriority"), aggOf)
          .orderBy("o_orderpriority")
      },
      Some("""WITH merged AS (
             |  SELECT o_orderpriority, o_custkey, o_totalprice
             |  FROM orders WHERE NOT (o_custkey % 13 = 0)
             |  UNION ALL
             |  SELECT o_orderpriority, o_custkey, o_totalprice + 100
             |  FROM orders
             |  WHERE o_custkey % 13 = 0 AND o_orderkey % 2 = 0
             |)
             |SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM merged
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // DELETE-FILE COMPACTION through the seam (r11): the maintenance
    // window holds a positional-delete COMPACTION (both delete files
    // replaced by one merged file — the rewrite_position_delete_files
    // shape) AND a fresh delete, previously an unconditional
    // rebase-fail-fast on any removal. The row-identity diff of the
    // surviving files under the cut's vs the end's complete delete
    // sets attributes the compaction as zero rows and the new delete
    // as exactly its newly-dead rows, so the stored view maintains
    // without rebasing. Hash equality vs the three-predicate oracle
    // (incl. countDistinct) pins that the merged file neither masks
    // nor doubles anything.
    QueryDef("delta_iceberg_compact",
      (s, d) => {
        import graft.ivm.IcebergSnapshots
        val dir = icebergOrdersMorCompacted(s, d)
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            countDistinct(col("o_custkey")).as("n_cust"))
        // stored view: built at snapshot 4 (both deletes applied,
        // pre-compaction)
        IcebergSnapshots.track(s, "ice_orders_cmp", dir, at = Some(4L))
        val stored = aggOf(graft.sources.Iceberg
          .snapshot(s, dir, snapshotId = Some(4L)))
        IcebergSnapshots.maintainAgg(s, "ice_orders_cmp", stored,
          Seq("o_orderpriority"), aggOf)
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 11 = 0
             |    AND o_orderpriority IN ('1-URGENT', '5-LOW'))
             |  AND NOT (o_custkey % 11 = 7 AND o_orderpriority = '5-LOW')
             |  AND NOT (o_custkey % 11 = 3
             |    AND o_orderpriority = '3-MEDIUM')
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // UNDELETE through the seam (r11): the window REMOVES a delete
    // file without replacement, so its rows come back to life — the
    // row-identity diff attributes them to the INSERT frame and the
    // stored view maintains forward (no rebase). The oracle applies
    // only the SURVIVING delete: a seam that missed the resurrection
    // keeps the second delete's rows out and shifts every affected
    // group.
    QueryDef("delta_iceberg_undelete",
      (s, d) => {
        import graft.ivm.IcebergSnapshots
        val dir = icebergOrdersUndeleted(s, d)
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            countDistinct(col("o_custkey")).as("n_cust"))
        // stored view: built at snapshot 4 (both deletes applied);
        // snapshot 5 undoes the second
        IcebergSnapshots.track(s, "ice_orders_und", dir, at = Some(4L))
        val stored = aggOf(graft.sources.Iceberg
          .snapshot(s, dir, snapshotId = Some(4L)))
        IcebergSnapshots.maintainAgg(s, "ice_orders_und", stored,
          Seq("o_orderpriority"), aggOf)
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 11 = 0
             |    AND o_orderpriority IN ('1-URGENT', '5-LOW'))
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // COLUMN RENAME under the oracle (r11): the staged table renames
    // `o_totalprice` → `price` BETWEEN its two appends, so its data
    // files disagree on the physical column name — the 90% base carries
    // `o_totalprice`, the 10% tail `price`. The read schema carries the
    // spec's field ids as `parquet.field.id` metadata and the scan
    // matches parquet columns BY ID (the previous reader fail-fasted on
    // detected renames), so one scan resolves both eras under the
    // current name. Hash equality vs the raw-parquet oracle pins that
    // every pre-rename row's value survives — a name-resolved read
    // would silently null 90% of the column, which SUM catches
    // immediately.
    QueryDef("iceberg_rename",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersRenamed(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("price").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  MAX(o_orderkey) AS max_key
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // NON-IDENTITY PARTITION TRANSFORM (r10): `days(ts)` — the single
    // most common production Iceberg layout, previously fail-fast. The
    // staged events table is HIDDEN-partitioned by day (the derived day
    // ordinal lives only in the spec + manifests; `ts` stays a real
    // data column), and a 7-day timestamp window prunes to exactly the
    // 7×2 day files driver-side from the TRANSFORMED partition values
    // (derive the source bounds a day ordinal implies, decide the
    // predicate against them — IcebergTransforms). Hash equality vs the
    // raw-parquet oracle pins the derivation, the UTC day arithmetic,
    // and the hidden-partitioning read end to end; IcebergTransformSpec
    // pins the pruned file counts.
    QueryDef("iceberg_days_partition",
      (s, d) => {
        val dir = icebergEventsDays(s, d)
        graft.sources.Iceberg.snapshotWhere(s, dir,
          col("ts") >= lit(java.time.Instant.parse("2024-01-10T00:00:00Z"))
            && col("ts") < lit(java.time.Instant.parse("2024-01-17T00:00:00Z")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(DecimalType(18, 2)))
              .cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_value
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
             |  AND ts < TIMESTAMP '2024-01-17 00:00:00'
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // PARTITION SPEC EVOLUTION (r11): the staged events table STARTS
    // unpartitioned (spec 0, the pre-Jan-16 era in one file) and adds
    // `days(ts)` partitioning later (spec 1, the rest as one file per
    // day) — routine production maintenance, previously fail-fast.
    // Each manifest's partition records decode against the spec it was
    // written under; a 7-day window fully inside the partitioned era
    // prunes its day files and keeps the pre-evolution file
    // conservatively (no days field in its spec). Hash equality vs the
    // raw-parquet oracle pins that both eras' rows surface exactly
    // once under one scan; IcebergTransformSpec pins the pruned file
    // counts in both directions.
    QueryDef("iceberg_spec_evolution",
      (s, d) => {
        val dir = icebergEventsSpecEvolved(s, d)
        graft.sources.Iceberg.snapshotWhere(s, dir,
          col("ts") >= lit(java.time.LocalDateTime.of(2024, 1, 18, 0, 0))
            && col("ts") < lit(java.time.LocalDateTime.of(2024, 1, 25, 0, 0)))
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(DecimalType(18, 2)))
              .cast("double").as("sum_value"),
            max(col("event_id")).as("max_id"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_value,
             |  MAX(event_id) AS max_id
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-18 00:00:00'
             |  AND ts < TIMESTAMP '2024-01-25 00:00:00'
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // MERGE THROUGH THE SIGNED SEAM (r10): a writer's MERGE INTO lands
    // as ONE commit mixing rewrite pairs (matched rows updated) and
    // plain adds (not-matched rows inserted). The signed algebra needs
    // no new code — the window nets to retract(old matched) +
    // insert(updated matched) + insert(new rows) — and the stored
    // aggregate view maintains through it via the same group-scoped
    // splice as delete/update. The insert set is DERIVED from orders
    // (key-remapped 97th-customer rows) so the DuckDB oracle recomputes
    // the merged table from first principles with a CASE + UNION ALL.
    QueryDef("delta_deltalake_merge",
      (s, d) => {
        import graft.ivm.DeltaLakeSnapshots
        val dir = deltaLakeOrdersMerged(s, d)
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            countDistinct(col("o_custkey")).as("n_cust"))
        DeltaLakeSnapshots.track(s, "dl_orders_mrg", dir, at = Some(1L))
        val stored = aggOf(
          graft.sources.DeltaLake.snapshot(s, dir, version = Some(1L)))
        DeltaLakeSnapshots.maintainAgg(s, "dl_orders_mrg", stored,
          Seq("o_orderpriority"), aggOf)
          .orderBy("o_orderpriority")
      },
      Some("""WITH merged AS (
             |  SELECT o_orderpriority, o_custkey,
             |    CASE WHEN o_custkey % 8 = 0
             |        AND o_orderpriority = '1-URGENT'
             |      THEN o_totalprice + 500 ELSE o_totalprice END
             |      AS o_totalprice
             |  FROM orders
             |  UNION ALL
             |  SELECT o_orderpriority, o_custkey, o_totalprice
             |  FROM orders WHERE o_custkey % 97 = 0
             |)
             |SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM merged
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // COLUMN MAPPING READ (r10): the protocol feature every
    // renamed-or-dropped-column Delta table carries — data files store
    // PHYSICAL column names (`c_1`, …) while the snapshot surfaces the
    // metaData's LOGICAL names, and a RENAME is a metaData-only commit
    // touching no data file. The staged table is mapped from commit 0,
    // appended at commit 1, and renames o_totalprice → o_price at
    // commit 2; the query reads the CURRENT logical names (aliasing
    // back for the oracle), with partition pruning and stats skipping
    // running in the physical name space under the aliases. Hash
    // equality vs the raw-parquet oracle pins the whole chain:
    // physical-name write/read, mapping resolution, and the
    // rename-through-metaData semantics.
    QueryDef("deltalake_column_mapping",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrdersMapped(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_price").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // VARIANT TYPE (r11): the semi-structured column type modern Delta
    // writers ship (feature `variantType`, previously fail-fast at the
    // gate). The staged table's `v` column is the BINARY variant
    // encoding on disk (metadata/value pair, written via parse_json);
    // the schemaString's "variant" parses to Spark's native VariantType
    // and the scan reconstructs it with zero custom code — the query
    // extracts typed paths back out (`variant_get`) and aggregates.
    // Stats/skipping exclude variant columns (no ordering). Hash
    // equality vs the plain-column oracle pins encode→store→decode
    // end to end: a corrupt path would shift every group.
    QueryDef("deltalake_variant",
      (s, d) => {
        import org.apache.spark.sql.functions.variant_get
        graft.sources.DeltaLake
          .snapshot(s, deltaLakeOrdersVariant(s, d))
          .select(
            variant_get(col("v"), "$.priority", "string").as("priority"),
            variant_get(col("v"), "$.cust", "long").as("cust"))
          .groupBy("priority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("cust")).as("cust_sum"),
            countDistinct(col("cust")).as("n_cust"))
          .orderBy("priority")
      },
      Some("""SELECT o_orderpriority AS priority, COUNT(*) AS cnt,
             |  CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY priority""".stripMargin)),

    // ID-MODE COLUMN MAPPING (r11, closing the r10 advice's top item
    // properly): the staged table's metadata declares physical names
    // `c_*` but its data files' on-disk parquet columns are named `x_*`
    // — the non-Spark-writer shape the protocol allows in mode `id`,
    // where files are matched by PARQUET FIELD ID, never by name. The
    // read schema carries `delta.columnMapping.id` as `parquet.field.id`
    // metadata and the scan resolves by id; name-based resolution would
    // return every data column all-null, which SUM/countDistinct under
    // the hash oracle catches immediately.
    QueryDef("deltalake_id_mapping",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrdersIdMapped(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // EQUALITY DELETES + UPSERT (r10): the v2 merge-on-read shape CDC
    // writers (Flink upsert streams) produce — an equality delete file
    // holding key values deletes every matching row of data files with
    // STRICTLY SMALLER data sequence number, so a later re-insert of
    // the same key SURVIVES (delete-then-insert upsert correctness).
    // The staged table equality-deletes every 13th customer's orders,
    // then re-inserts the even-keyed half of them at +100 price; the
    // snapshot read applies the delete as a null-safe broadcast
    // anti-join scoped by the per-file sequence numbers carried in the
    // manifests. Hash equality vs the CASE/UNION oracle pins the
    // equality matching, the sequence scoping, and the survivor set.
    QueryDef("iceberg_eq_delete",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersEqDeleted(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""WITH merged AS (
             |  SELECT o_orderpriority, o_custkey, o_totalprice
             |  FROM orders WHERE NOT (o_custkey % 13 = 0)
             |  UNION ALL
             |  SELECT o_orderpriority, o_custkey, o_totalprice + 100
             |  FROM orders
             |  WHERE o_custkey % 13 = 0 AND o_orderkey % 2 = 0
             |)
             |SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM merged
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // CHANGE DATA FEED (r10): a CDF-enabled writer's DML commits carry
    // `cdc` actions naming dedicated change files (`_change_data/`,
    // rows tagged `_change_type`) — the commit's own row-level diff.
    // `changes()` treats them as AUTHORITATIVE and skips the rewrite
    // pair entirely, so the signed frames are DELTA-SIZED: a 1-row
    // UPDATE reads 1 pre-image + 1 post-image row instead of both
    // sides of the rewritten file (the r9 seam's one remaining
    // file-sized case; spec-pinned that the frames' inputFiles are all
    // change files). The stored aggregate view maintains through the
    // CDF UPDATE window via the same splice; CASE-expression oracle.
    QueryDef("delta_deltalake_cdf",
      (s, d) => {
        import graft.ivm.DeltaLakeSnapshots
        val dir = deltaLakeOrdersCdf(s, d)
        val aggOf = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"),
            countDistinct(col("o_custkey")).as("n_cust"))
        DeltaLakeSnapshots.track(s, "dl_orders_cdf", dir, at = Some(1L))
        val stored = aggOf(
          graft.sources.DeltaLake.snapshot(s, dir, version = Some(1L)))
        DeltaLakeSnapshots.maintainAgg(s, "dl_orders_cdf", stored,
          Seq("o_orderpriority"), aggOf)
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(CASE WHEN o_custkey % 9 = 2
             |      AND o_orderpriority = '3-MEDIUM'
             |    THEN o_totalprice + 250 ELSE o_totalprice END
             |    AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // V2 CHECKPOINT RESUME (r10): the checkpoint shape
    // v2Checkpoint-enabled writers produce — a uuid-named MANIFEST
    // carrying protocol/metaData + `sidecar` actions, with the file
    // actions split across `_sidecars/*.parquet`. The staged fixture
    // DELETES the subsumed JSON commits, so the snapshot can only
    // resolve through the v2 path (manifest parse → sidecar reads →
    // fold); partition values and add.stats ride the sidecars. Hash
    // equality vs the plain-orders oracle pins the whole chain.
    QueryDef("deltalake_v2_checkpoint",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrdersV2Ckpt(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // PUBLIC BATCH WRITER (r12): DeltaLake.write end to end — table
    // creation, a second append, then an OVERWRITE that must actually
    // replace the content (removes for every live file + the new
    // batch). The final state is a proper subset of orders, so a
    // union-of-appends bug or a missed remove shifts every group under
    // the hash oracle. Data files land once; the commit is exclusive.
    QueryDef("deltalake_write",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrdersWritten(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE o_custkey % 3 <> 0
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // PUBLIC ROW-LEVEL DELETE (r12): DeltaLake.delete — the
    // merge-on-read DML modern writers default to. Two deletes: the
    // first upgrades the protocol and stamps DVs onto one partition's
    // files (stats-pruned), the second GROWS existing DVs across
    // partitions (old dead rows must stay dead — a replace-not-grow
    // bug resurrects them). The snapshot read applies the final DVs
    // as a codegen'd anti-filter; hash equality vs the double-NOT
    // oracle pins bitmap build (executor-side), merge, and read.
    QueryDef("deltalake_delete_dml",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrdersPubDeleted(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 7 = 0 AND o_orderpriority = '5-LOW')
             |  AND NOT (o_custkey % 11 = 3)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // PUBLIC ROW-LEVEL UPDATE (r12): DeltaLake.update — copy-on-write
    // with old-row SQL semantics: the predicate targets one partition
    // (only its files rewrite; the others' add actions are untouched)
    // and the SET expression reads the OLD o_totalprice. The oracle's
    // CASE WHEN recomputes the final prices from first principles, so
    // a partially-applied SET, a lost survivor row, or a rewrite that
    // leaked into other partitions all hash-mismatch.
    QueryDef("deltalake_update_dml",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrdersPubUpdated(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(CASE WHEN o_custkey % 6 = 1
             |      AND o_orderpriority = '2-HIGH'
             |    THEN o_totalprice + 750 ELSE o_totalprice END
             |    AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // PUBLIC MERGE / UPSERT (r12): DeltaLake.merge — WHEN MATCHED
    // UPDATE SET *, WHEN NOT MATCHED INSERT *, one atomic commit.
    // Matched target rows (orderkey % 10 = 3) are REPLACED by source
    // rows carrying a bumped price; negated-key source rows match
    // nothing and insert. The oracle recomputes both arms from first
    // principles — a merge that updated without inserting (or
    // vice versa), double-applied a match, or lost survivor rows in
    // the rewritten files shifts counts and sums.
    QueryDef("deltalake_merge_dml",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrdersPubMerged(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""WITH t AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice,
             |    o_orderpriority
             |  FROM orders
             |), m AS (
             |  SELECT o_custkey,
             |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1000
             |      ELSE o_totalprice END AS o_totalprice,
             |    o_orderpriority
             |  FROM t
             |  UNION ALL
             |  SELECT o_custkey, o_totalprice, o_orderpriority
             |  FROM t WHERE o_orderkey % 10 = 7
             |)
             |SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM m
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // PUBLIC ICEBERG BATCH WRITER (r12): Iceberg.write end to end on
    // the second format — create + append + OVERWRITE (a replace
    // snapshot removing every live data AND delete file). Same
    // subset-content trap as deltalake_write: a missed removal or a
    // union-of-appends bug shifts every group.
    QueryDef("iceberg_write",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersWritten(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE o_custkey % 3 <> 0
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // PUBLIC ICEBERG ROW-LEVEL DELETE (r12): Iceberg.delete — v3
    // deletion vectors (Puffin), executor-built bitmaps, the second
    // delete GROWING the first's dead sets with the superseded DV
    // removed in-commit. The snapshot read applies the final DVs as
    // the codegen'd anti-filter; the double-NOT oracle recomputes
    // membership from first principles.
    QueryDef("iceberg_delete_dml",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersPubDeleted(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 7 = 0 AND o_orderpriority = '5-LOW')
             |  AND NOT (o_custkey % 11 = 3)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // PUBLIC ICEBERG ROW-LEVEL UPDATE (r12): Iceberg.update —
    // copy-on-write with old-row semantics after a public DV delete:
    // the rewrite must materialize the DV (live rows only, DV entry
    // removed) WITHOUT resurrecting its dead rows, while applying the
    // SET to exactly the matching live rows. The oracle composes the
    // delete membership and the CASE-WHEN price from first principles.
    QueryDef("iceberg_update_dml",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersPubUpdated(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(CASE WHEN o_custkey % 6 = 1
             |      AND o_orderpriority = '2-HIGH'
             |    THEN o_totalprice + 750 ELSE o_totalprice END
             |    AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE NOT (o_custkey % 9 = 4)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // OPTIMIZE ZORDER (r12): multi-dimensional clustering — every live
    // file rewrites into Z-value-range files (interleaved-bit key over
    // o_custkey + o_totalprice, pure Column arithmetic inside codegen),
    // dataChange=false. The read must be hash-identical to the logical
    // content (a clustering pass that loses, duplicates, or reorders
    // rows into the wrong group shifts the aggregate); the layout's
    // pruning win is pinned separately in ZOrderSpec with runtime
    // numFiles.
    QueryDef("deltalake_zorder",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrdersZordered(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // PUBLIC ICEBERG MERGE / UPSERT (r12): Iceberg.merge — the same
    // two-arm contract as deltalake_merge_dml on the second format,
    // with the rewrite + inserts landing in ONE distributed write and
    // one replace snapshot. The oracle recomputes both arms from first
    // principles.
    QueryDef("iceberg_merge_dml",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersPubMerged(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""WITH t AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice,
             |    o_orderpriority
             |  FROM orders
             |), m AS (
             |  SELECT o_custkey,
             |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1000
             |      ELSE o_totalprice END AS o_totalprice,
             |    o_orderpriority
             |  FROM t
             |  UNION ALL
             |  SELECT o_custkey, o_totalprice, o_orderpriority
             |  FROM t WHERE o_orderkey % 10 = 7
             |)
             |SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM m
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // CDF-WRITING DML (r12): a CDF-enabled table's public delete +
    // update commits carry their row-level diff as CHANGE FILES (the
    // protocol's delta.enableChangeDataFeed contract, previously a
    // loud refusal). The query aggregates the CHANGE FEED itself —
    // per change type, row count and summed price — so a missing
    // change file, a wrong pre/post image, or a feed that
    // reconstructed from the rewrite pair instead of the cdc rows
    // shifts a group. The oracle recomputes the diff from first
    // principles.
    QueryDef("deltalake_cdf_dml",
      (s, d) => graft.sources.DeltaLake
        .changeFeed(s, deltaLakeOrdersCdfDml(s, d), afterVersion = 0L)
        .select(col("_change_type").as("change_type"),
          col("o_totalprice"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"))
        .orderBy("change_type"),
      Some("""WITH f AS (
             |  SELECT 'delete' AS change_type, o_totalprice
             |  FROM orders
             |  WHERE o_custkey % 7 = 0 AND o_orderpriority = '5-LOW'
             |  UNION ALL
             |  SELECT 'update_preimage', o_totalprice FROM orders
             |  WHERE o_custkey % 6 = 1 AND o_orderpriority = '2-HIGH'
             |  UNION ALL
             |  SELECT 'update_postimage', o_totalprice + 750 FROM orders
             |  WHERE o_custkey % 6 = 1 AND o_orderpriority = '2-HIGH'
             |)
             |SELECT change_type, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM f
             |GROUP BY change_type
             |ORDER BY change_type""".stripMargin)),

    // ICEBERG ZORDER (r12): rewrite_data_files' sort-strategy
    // clustering on the second format — the same interleaved-bit
    // Z-value codec, committed as a replace snapshot with fresh
    // manifest bounds per Z-range file. Hash-identity vs the plain
    // oracle pins content; the pruning win is pinned in ZOrderSpec.
    QueryDef("iceberg_zorder",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersZordered(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // RESTORE (r12): the time-travel WRITE — one commit resets the
    // table to a prior version (removes ∪ re-adds by file-version
    // identity, original stats and DVs carried). The fixture deletes a
    // quarter of the customers then restores past it: the final read
    // must be hash-identical to the ORIGINAL content (a restore that
    // missed a re-add, resurrected the DV, or lost survivor files
    // shifts groups), while the deleted state stays time-travel
    // readable (spec-pinned).
    QueryDef("deltalake_restore",
      (s, d) => graft.sources.DeltaLake
        .snapshot(s, deltaLakeOrdersRestored(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG ROLLBACK (r12): the metadata-only time-travel write
    // (`rollback_to_snapshot`) — current-snapshot-id and the main ref
    // move back; nothing else changes. The fixture appends both
    // halves, DV-deletes a third of the customers, then rolls back
    // past the delete: the read must equal the full pre-delete
    // content.
    QueryDef("iceberg_rollback",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersRolledBack(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // BATCH READER API (r13): `spark.read.format("graft-deltalake")`
    // over the registered V1 provider — the SQL-first entry the r11
    // review named as the top production gap. GraftExtensions splices
    // the native log-backed scan in place of the relation leaf
    // (LakeReaderApiSpec pins "file scan, never the row fallback"), so
    // hash equality here proves the REGISTERED path serves the same
    // bytes as the library API, through the same pruned plan.
    QueryDef("deltalake_reader_api",
      (s, d) => s.read.format("graft-deltalake")
        .load(deltaLakeOrders(s, d))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  MAX(o_orderkey) AS max_key
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // BATCH READER API, ICEBERG + TIME-TRAVEL OPTION (r13): the
    // `snapshotId` read option resolves the historical snapshot through
    // the registered provider — the connector idiom
    // (`option("snapshotId", ...)`) on the native manifest fold. The
    // oracle recomputes the first snapshot's membership from the
    // fixture's deterministic 90%-of-key-range split.
    QueryDef("iceberg_reader_api",
      (s, d) => s.read.format("graft-iceberg")
        .option("snapshotId", "1")
        .load(icebergOrders(s, d))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  MAX(o_orderkey) AS max_key
             |FROM orders
             |WHERE o_orderkey < (SELECT (MAX(o_orderkey)*9)//10 FROM orders)
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // BATCH WRITER API (r13): `df.write.format("graft-deltalake")` —
    // SaveMode append then overwrite through the registered V1
    // provider onto the native exclusive-commit writer, partition
    // layout riding the `partitionBy` option. Read back through the
    // reader API: the whole registered round trip, one hash oracle.
    QueryDef("deltalake_writer_api",
      (s, d) => s.read.format("graft-deltalake")
        .load(deltaLakeOrdersApiWritten(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE o_custkey % 5 <> 0
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // TEMP-VIEW-FREE SQL (r13): `FROM graft_delta.`path`` — the
    // GraftExtensions identifier resolution, a CROSS-FORMAT join of
    // the Delta and Iceberg fixtures in nothing but SQL. Both sides
    // splice to native scans; the join keys are the order keys both
    // fixtures carry in full, so the oracle is a self-join of orders.
    QueryDef("sql_lake_identifier",
      (s, d) => {
        val dd = deltaLakeOrders(s, d)
        val ii = icebergOrders(s, d)
        s.sql(
          s"""SELECT d.o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM graft_delta.`$dd` d
             |JOIN graft_iceberg.`$ii` i ON d.o_orderkey = i.o_orderkey
             |WHERE d.o_custkey % 7 = 0
             |GROUP BY d.o_orderpriority
             |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT d.o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders d JOIN orders i ON d.o_orderkey = i.o_orderkey
             |WHERE d.o_custkey % 7 = 0
             |GROUP BY d.o_orderpriority
             |ORDER BY pri""".stripMargin)),

    // ICEBERG BRANCH WRITE (r13): write-audit-publish's WRITE half —
    // Iceberg.writeToBranch lands the odd-custkey rows on branch
    // `audit` while main holds only the evens. The query reads the
    // BRANCH through the registered reader's `branch` option; the
    // oracle is the full orders table, so a branch commit that leaked
    // into main (or missed the branch-head base) shifts every group.
    QueryDef("iceberg_branch_write",
      (s, d) => s.read.format("graft-iceberg")
        .option("branch", "audit")
        .load(icebergOrdersBranched(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG WAP PUBLISH (r13): the PUBLISH half — the audit branch
    // is overwritten to the custkey%3 subset, then fastForward moves
    // main to the audited head (ancestry-verified over the new
    // parent-snapshot-id links). The query reads MAIN: hash equality
    // proves the publish moved exactly the branch's content — a
    // diverged or partial publish shifts the groups.
    QueryDef("iceberg_wap_publish",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersPublished(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |WHERE o_custkey % 3 <> 0
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG OVER ORC DATA FILES (r13): the migrated-Hive-estate
    // shape — manifests list ORC data files, the scan rides a separate
    // OrcFileFormat arm with the SAME manifest-driven stats skipping
    // and partition values. The fixture is a genuinely mixed table
    // (first snapshot parquet, second ORC — migration in progress), so
    // hash equality pins the two-arm union, not just one format.
    QueryDef("iceberg_orc_scan",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersOrc(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ICEBERG AVRO DATA FILES (r14): a genuinely mixed parquet+AVRO
    // table (migration in progress) — the avro arm rides the minimal
    // avro-core FileFormat with FIELD-ID column resolution and
    // manifest-stats pruning; hash equality pins the three-format
    // union story (the filter exercises both arms' row values).
    QueryDef("iceberg_avro_scan",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersAvro(s, d))
        .filter(col("o_custkey") % 5 =!= 2)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_orderpriority")).as("n_pri"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  COUNT(DISTINCT o_orderpriority) AS n_pri
             |FROM orders
             |WHERE o_custkey % 5 <> 2
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // CROSS-FORMAT FIELD-ID RENAME (r14): one table whose parquet
    // files predate and whose iceberg.id-stamped ORC files span a
    // COLUMN RENAME — the query reads BOTH arms by field id under the
    // post-rename name (`price`), pinning that neither format's
    // pre-rename files serve nulls and the arms union exactly.
    QueryDef("iceberg_orcid_rename",
      (s, d) => graft.sources.Iceberg
        .snapshot(s, icebergOrdersOrcIdRenamed(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("price").cast(DecimalType(18, 2)))
            .cast("double").as("total"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // FILE-BASED TRANSACTIONAL CATALOG, SQL READ (r13): tables read BY
    // NAME (`gcat.db.orders`) through the registered TableCatalog —
    // the catalog pins a (format, path, version) triple and the
    // extensions splice the pinned native snapshot plan, so this is a
    // CROSS-FORMAT join written with nothing but catalog names. The
    // oracle is a self-join of orders over the two fixtures' shared
    // key space.
    QueryDef("catalog_sql_read",
      (s, d) => {
        val wh = catalogWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gcat",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
        s.sql(
          """SELECT o.o_orderstatus AS st, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total
            |FROM gcat.db.orders o
            |JOIN gcat.db.orders_ice i ON o.o_orderkey = i.o_orderkey
            |WHERE o.o_custkey % 4 = 1
            |GROUP BY o.o_orderstatus
            |ORDER BY st""".stripMargin)
      },
      Some("""SELECT d.o_orderstatus AS st, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders d JOIN orders i ON d.o_orderkey = i.o_orderkey
             |WHERE d.o_custkey % 4 = 1
             |GROUP BY d.o_orderstatus
             |ORDER BY st""".stripMargin)),

    // MULTI-TABLE TRANSACTION (r13): two tables (one Delta, one
    // Iceberg) written INSIDE ONE catalog transaction — an append and
    // a full overwrite — whose pins swapped in a single exclusive
    // catalog commit. The query joins both THROUGH THE CATALOG: hash
    // equality proves both pins advanced together to exactly the
    // transaction's content (a partial swap or a stale pin shifts the
    // join membership).
    QueryDef("catalog_multi_table_txn",
      (s, d) => {
        val wh = catalogWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gcat",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
        s.sql(
          """SELECT a.o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(b.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total
            |FROM gcat.tx.a a
            |JOIN gcat.tx.b b ON a.o_orderkey = b.o_orderkey
            |GROUP BY a.o_orderpriority
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders
             |WHERE o_custkey % 3 <> 0
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)),

    // CATALOG SQL TIME TRAVEL (r13): `VERSION AS OF` through the V2
    // catalog's loadTable(ident, version) — the pin is overridden for
    // this query only. Version 0 of the transaction fixture's Delta
    // table is its PRE-TRANSACTION content (the even custkeys), so
    // hash equality pins both the overload routing and that time
    // travel reads past the swapped pin.
    QueryDef("catalog_time_travel",
      (s, d) => {
        val wh = catalogWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gcat",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
        s.sql(
          """SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total
            |FROM gcat.tx.a VERSION AS OF 0
            |GROUP BY o_orderpriority
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders
             |WHERE o_custkey % 2 = 0
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)),

    // CATALOG SQL WRITE (r13): `INSERT OVERWRITE` through the V2→V1
    // write bridge — the write commits through the native writer and
    // AUTO RE-PINS the catalog entry, all inside one SQL statement
    // whose SOURCE is a path identifier (`graft_delta`). OVERWRITE
    // keeps the query idempotent (bench runs every query twice). Hash
    // equality pins the bridge, the re-pin, and the read-back.
    QueryDef("catalog_insert_sql",
      (s, d) => {
        // the INSERT target MUTATES per run — it lives in a
        // PER-PROCESS warehouse (catalog name `gins`), never in the
        // cross-process shared staging slot (two drivers on one box
        // would burn each other's commit retries)
        val wh = catalogInsertWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gins",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gins.warehouse", wh)
        val dd = deltaLakeOrders(s, d)
        s.sql(s"INSERT OVERWRITE gins.ins.t SELECT * FROM " +
          s"graft_delta.`$dd` WHERE o_custkey % 9 = 0")
        s.sql(
          """SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total
            |FROM gins.ins.t
            |GROUP BY o_orderpriority
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders
             |WHERE o_custkey % 9 = 0
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)),

    // CATALOG SQL DELETE (r14): `DELETE FROM gdml.dml.del WHERE …`
    // routes through the analyzer DML bridge ([[graft.GraftDml]]) to
    // the NATIVE delete (DV-producing, stats-skipped candidate
    // selection) and monotone-re-pins the catalog entry — the
    // SQL-first user's row-level path. The statement is idempotent
    // (the second run's predicate matches nothing → table and pin
    // no-op), so bench's cold+warm double-run is safe. Hash equality
    // pins the routing, the predicate lowering, AND the re-pin (a
    // stale pin would still serve the deleted rows).
    QueryDef("catalog_delete_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        s.sql("DELETE FROM gdml.dml.del " +
          "WHERE o_custkey % 7 = 0 AND o_orderpriority = '5-LOW'")
        s.sql(
          """SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total
            |FROM gdml.dml.del
            |GROUP BY o_orderpriority
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders
             |WHERE NOT (o_custkey % 7 = 0 AND o_orderpriority = '5-LOW')
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)),

    // CATALOG SQL UPDATE (r14): `UPDATE gdml.dml.upd SET … WHERE …`
    // on an ICEBERG table — the bridge lowers the SET map and
    // predicate to name-based Columns and commits through the native
    // copy-on-write update. The SET value is ABSOLUTE (a function of
    // other columns) and the WHERE excludes already-updated rows, so
    // the second run is a clean no-op.
    QueryDef("catalog_update_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        s.sql(
          """UPDATE gdml.dml.upd
            |SET o_totalprice = CAST(o_custkey % 1000 AS DOUBLE) + 0.25
            |WHERE o_custkey % 6 = 1
            |  AND o_totalprice <> CAST(o_custkey % 1000 AS DOUBLE) + 0.25
            |""".stripMargin)
        s.sql(
          """SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total
            |FROM gdml.dml.upd
            |GROUP BY o_orderpriority
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(px AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM (
             |  SELECT o_orderpriority,
             |    CASE WHEN o_custkey % 6 = 1
             |      THEN CAST(o_custkey % 1000 AS DOUBLE) + 0.25
             |      ELSE o_totalprice END AS px
             |  FROM orders)
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)),

    // CATALOG SQL DDL (r14): DROP IF EXISTS + CREATE TABLE AS SELECT
    // — the catalog's createTable (managed table under the warehouse,
    // purged on DROP) plus the V1 write bridge landing the CTAS rows,
    // all in SQL. The CTAS source is a graft path identifier; DROP
    // first keeps the query idempotent (and exercises the managed
    // purge every run).
    QueryDef("catalog_create_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.orders_small")
        s.sql(s"CREATE TABLE gdml.ddl.orders_small " +
          s"USING `graft-deltalake` AS SELECT * FROM " +
          s"graft_delta.`$src` WHERE o_custkey % 6 = 2")
        s.sql(
          """SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total
            |FROM gdml.ddl.orders_small
            |GROUP BY o_orderpriority
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders
             |WHERE o_custkey % 6 = 2
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)),

    // PATH-IDENTIFIER SQL DML (r14): DELETE and UPDATE straight on
    // `graft_delta.`/path`` — no catalog, no temp view, the parser's
    // name-based predicates lowered directly to the native writers
    // (the pre-resolution arm of the DML bridge). Idempotent like the
    // catalog twins: the delete matches nothing on re-run, the update
    // excludes already-updated rows.
    QueryDef("sql_path_dml",
      (s, d) => {
        val p = pathDmlTable(s, d)
        s.sql(s"DELETE FROM graft_delta.`$p` WHERE o_custkey % 11 = 0")
        s.sql(
          s"""UPDATE graft_delta.`$p`
             |SET o_totalprice = CAST(o_custkey % 700 AS DOUBLE) + 0.5
             |WHERE o_custkey % 4 = 1
             |  AND o_totalprice <> CAST(o_custkey % 700 AS DOUBLE) + 0.5
             |""".stripMargin)
        // EXISTS on a PATH target (r17): correlation resolves against
        // the target's stored schema, no catalog registration needed —
        // drop every custkey group still holding a high-price row
        // (idempotent: the second run finds no such group)
        s.sql(
          s"""DELETE FROM graft_delta.`$p` t WHERE EXISTS (
             |  SELECT 1 FROM graft_delta.`$p` s
             |  WHERE s.o_custkey = t.o_custkey
             |    AND s.o_totalprice > 400000.0)
             |""".stripMargin)
        s.sql(
          s"""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM graft_delta.`$p`
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)
      },
      Some("""WITH base AS (
             |  SELECT o_orderpriority, o_custkey,
             |    CASE WHEN o_custkey % 4 = 1
             |      THEN CAST(o_custkey % 700 AS DOUBLE) + 0.5
             |      ELSE o_totalprice END AS px
             |  FROM orders
             |  WHERE o_custkey % 11 <> 0)
             |SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(px AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM base t
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM base s
             |  WHERE s.o_custkey = t.o_custkey AND s.px > 400000.0)
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)),

    // CATALOG SQL MERGE (r14): the canonical upsert —
    // `MERGE … ON key equality WHEN MATCHED THEN UPDATE SET * WHEN NOT
    // MATCHED THEN INSERT *` — routed to the native merge; the source
    // is a GRAFT PATH relation (`graft_delta.`) spliced INSIDE the
    // MERGE statement. Matches carry absolute values and inserts use
    // negated keys, so the second run upserts identical content
    // (bench-idempotent). `inserted` counts the negative keys: it pins
    // that the NOT MATCHED arm actually inserted (an update-only merge
    // would hash-match `total` on the first run's matched arm alone).
    QueryDef("catalog_merge_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql(
          s"""MERGE INTO gdml.dml.mrg t
             |USING (
             |  SELECT o_orderkey, o_custkey,
             |    CAST(o_custkey % 500 AS DOUBLE) AS o_totalprice,
             |    o_orderpriority
             |  FROM graft_delta.`$src` WHERE o_orderkey % 10 = 3
             |  UNION ALL
             |  SELECT -o_orderkey, o_custkey, o_totalprice,
             |    o_orderpriority
             |  FROM graft_delta.`$src` WHERE o_orderkey % 10 = 7
             |) s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql(
          """SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total,
            |  CAST(SUM(CASE WHEN o_orderkey < 0 THEN 1 ELSE 0 END)
            |    AS BIGINT) AS inserted
            |FROM gdml.dml.mrg
            |GROUP BY o_orderpriority
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(px AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  CAST(SUM(neg) AS BIGINT) AS inserted
             |FROM (
             |  SELECT o_orderpriority AS pri,
             |    CASE WHEN o_orderkey % 10 = 3
             |      THEN CAST(o_custkey % 500 AS DOUBLE)
             |      ELSE o_totalprice END AS px,
             |    0 AS neg
             |  FROM orders
             |  UNION ALL
             |  SELECT o_orderpriority, o_totalprice, 1
             |  FROM orders WHERE o_orderkey % 10 = 7)
             |GROUP BY pri
             |ORDER BY pri""".stripMargin)),

    // GENERAL-FORM SQL MERGE (r15): the full clause set — conditional
    // WHEN MATCHED arms in first-match order (DELETE the even-custkey
    // matches, UPDATE the rest), plus WHEN NOT MATCHED BY SOURCE
    // DELETE — routed to Iceberg.mergeGeneral through the catalog.
    // Idempotent: run 2's matched set is run 1's surviving (odd)
    // rows, which re-update to the same value; both delete arms
    // re-match nothing.
    QueryDef("catalog_merge_delete_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql(
          s"""MERGE INTO gdml.dml.mrg2 t
             |USING (
             |  SELECT o_orderkey,
             |    CAST(o_custkey % 97 AS DOUBLE) AS newprice
             |  FROM graft_delta.`$src` WHERE o_orderkey % 10 = 3
             |) s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED AND t.o_custkey % 2 = 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.newprice
             |WHEN NOT MATCHED BY SOURCE
             |  AND t.o_orderkey % 10 = 9 AND t.o_custkey % 5 = 0
             |  THEN DELETE""".stripMargin)
        s.sql(
          """SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total
            |FROM gdml.dml.mrg2
            |GROUP BY o_orderpriority
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(px AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM (
             |  SELECT o_orderpriority,
             |    CASE WHEN o_orderkey % 10 = 3 AND o_custkey % 2 = 1
             |      THEN CAST(o_custkey % 97 AS DOUBLE)
             |      ELSE o_totalprice END AS px
             |  FROM orders
             |  WHERE NOT (o_orderkey % 10 = 3 AND o_custkey % 2 = 0)
             |    AND NOT (o_orderkey % 10 = 9 AND o_custkey % 5 = 0))
             |GROUP BY pri
             |ORDER BY pri""".stripMargin)),

    // SQL COLUMN-LEVEL ALTER TABLE (r15): the full SQL lifecycle with
    // schema evolution — CTAS (pre-evolution rows), ADD COLUMNS,
    // INSERT rows that carry the new column, RENAME COLUMN — then one
    // read that resolves PRE-EVOLUTION files (bonus IS NULL for every
    // CTAS row — `legacy` pins it) under the RENAMED column (`price`),
    // all through the catalog (Iceberg target: field-id resolution).
    // Idempotent via the leading DROP, like catalog_create_sql.
    QueryDef("catalog_alter_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.alt")
        s.sql(s"CREATE TABLE gdml.ddl.alt USING `graft-iceberg` AS " +
          s"SELECT o_orderkey, o_custkey, o_totalprice, " +
          s"o_orderpriority FROM graft_delta.`$src` " +
          s"WHERE o_custkey % 5 = 1")
        s.sql("ALTER TABLE gdml.ddl.alt ADD COLUMNS (bonus DOUBLE)")
        s.sql(
          s"""INSERT INTO gdml.ddl.alt
             |SELECT -o_orderkey, o_custkey, o_totalprice,
             |  o_orderpriority, CAST(o_custkey % 50 AS DOUBLE)
             |FROM graft_delta.`$src` WHERE o_custkey % 5 = 2
             |""".stripMargin)
        s.sql("ALTER TABLE gdml.ddl.alt RENAME COLUMN o_totalprice " +
          "TO price")
        s.sql(
          """SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total,
            |  CAST(SUM(CASE WHEN bonus IS NULL THEN 1 ELSE 0 END)
            |    AS BIGINT) AS legacy,
            |  CAST(SUM(CAST(COALESCE(bonus, 0) AS DECIMAL(18,2)))
            |    AS DOUBLE) AS bonus_sum
            |FROM gdml.ddl.alt
            |GROUP BY o_orderpriority
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total,
             |  CAST(SUM(CASE WHEN bonus IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS legacy,
             |  CAST(SUM(CAST(COALESCE(bonus, 0) AS DECIMAL(18,2)))
             |    AS DOUBLE) AS bonus_sum
             |FROM (
             |  SELECT o_orderpriority, o_totalprice,
             |    CAST(NULL AS DOUBLE) AS bonus
             |  FROM orders WHERE o_custkey % 5 = 1
             |  UNION ALL
             |  SELECT o_orderpriority, o_totalprice,
             |    CAST(o_custkey % 50 AS DOUBLE)
             |  FROM orders WHERE o_custkey % 5 = 2)
             |GROUP BY pri
             |ORDER BY pri""".stripMargin)),

    // SQL MAINTENANCE (r15): `CALL gcat.system.optimize` +
    // `CALL gcat.system.vacuum` on a freshly fragmented CTAS table —
    // the procedure surface (Spark 4 ProcedureCatalog) end to end:
    // optimize compacts (version 1, pinned via opt_version), vacuum
    // reclaims the superseded fragments (reclaimed_any pins that rows
    // came back), and the final aggregate proves content is unchanged
    // by both. Idempotent via the leading DROP.
    QueryDef("catalog_maintenance_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.maint")
        s.sql(s"CREATE TABLE gdml.ddl.maint USING `graft-deltalake` " +
          s"AS SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, " +
          s"o_totalprice, o_orderpriority FROM graft_delta.`$src` " +
          s"WHERE o_custkey % 7 = 3")
        val v = s.sql(
          "CALL gdml.system.optimize(table => 'ddl.maint')")
          .head().getLong(0)
        val reclaimed = s.sql("CALL gdml.system.vacuum(" +
          "table => 'ddl.maint', retain_versions => 1)").count()
        s.sql(
          s"""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total,
             |  CAST($v AS BIGINT) AS opt_version,
             |  CAST(${reclaimed > 0} AS BOOLEAN) AS reclaimed_any
             |FROM gdml.ddl.maint
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total,
             |  CAST(2 AS BIGINT) AS opt_version,
             |  CAST(TRUE AS BOOLEAN) AS reclaimed_any
             |FROM orders
             |WHERE o_custkey % 7 = 3
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)),

    // CHECK CONSTRAINTS through SQL (r15): CTAS, ADD a constraint via
    // SET TBLPROPERTIES (existing rows validated), a VALID insert
    // lands, a VIOLATING insert is refused whole (`blocked` pins the
    // refusal — without it a silently-accepted bad row would also
    // change cnt/total, double coverage). Idempotent via DROP.
    QueryDef("catalog_constraint_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.ck")
        s.sql(s"CREATE TABLE gdml.ddl.ck USING `graft-deltalake` AS " +
          s"SELECT o_orderkey, o_custkey, o_totalprice, " +
          s"o_orderpriority FROM graft_delta.`$src` " +
          s"WHERE o_custkey % 9 = 4")
        s.sql("ALTER TABLE gdml.ddl.ck SET TBLPROPERTIES " +
          "('delta.constraints.price_pos' = 'o_totalprice > 0')")
        s.sql(
          s"""INSERT INTO gdml.ddl.ck
             |SELECT -o_orderkey, o_custkey, o_totalprice,
             |  o_orderpriority
             |FROM graft_delta.`$src` WHERE o_custkey % 9 = 5
             |""".stripMargin)
        val blocked =
          try {
            s.sql("INSERT INTO gdml.ddl.ck VALUES " +
              "(0, 0, -1.0, '1-URGENT')")
            false
          } catch { case _: Exception => true }
        s.sql(
          s"""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total,
             |  CAST($blocked AS BOOLEAN) AS blocked
             |FROM gdml.ddl.ck
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total,
             |  CAST(TRUE AS BOOLEAN) AS blocked
             |FROM (
             |  SELECT o_orderpriority, o_totalprice FROM orders
             |  WHERE o_custkey % 9 = 4
             |  UNION ALL
             |  SELECT o_orderpriority, o_totalprice FROM orders
             |  WHERE o_custkey % 9 = 5)
             |GROUP BY pri
             |ORDER BY pri""".stripMargin)),

    // IDENTITY + GENERATED columns through SQL DDL (r15): CREATE with
    // `GENERATED ALWAYS AS IDENTITY (START WITH 1000 INCREMENT BY 7)`
    // and `GENERATED ALWAYS AS (UPPER(...))`, INSERT by NAME (the
    // writer allocates rid and computes pri_up). Identity VALUES are
    // allocation-order-dependent (block allocation is the point), so
    // the oracle pins their INVARIANTS — count, uniqueness, floor,
    // step alignment — plus the fully deterministic generated column
    // via the group-by. Idempotent via DROP.
    QueryDef("catalog_identity_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.idt")
        s.sql("CREATE TABLE gdml.ddl.idt (" +
          "rid BIGINT GENERATED ALWAYS AS IDENTITY " +
          "(START WITH 1000 INCREMENT BY 7), " +
          "o_orderpriority STRING, o_totalprice DOUBLE, " +
          "pri_up STRING GENERATED ALWAYS AS (UPPER(o_orderpriority))" +
          ") USING `graft-deltalake`")
        s.sql(
          s"""INSERT INTO gdml.ddl.idt (o_orderpriority, o_totalprice)
             |SELECT o_orderpriority, o_totalprice
             |FROM graft_delta.`$src` WHERE o_custkey % 11 = 2
             |""".stripMargin)
        s.sql(
          """SELECT pri_up, COUNT(*) AS cnt,
            |  CAST(COUNT(DISTINCT rid) AS BIGINT) AS uniq,
            |  CAST(MIN(rid) >= 1000 AS BOOLEAN) AS floor_ok,
            |  CAST(SUM(CASE WHEN (rid - 1000) % 7 = 0 THEN 0 ELSE 1
            |    END) AS BIGINT) AS off_step,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            |    AS DOUBLE) AS total
            |FROM gdml.ddl.idt
            |GROUP BY pri_up
            |ORDER BY pri_up""".stripMargin)
      },
      Some("""SELECT UPPER(o_orderpriority) AS pri_up,
             |  COUNT(*) AS cnt,
             |  COUNT(*) AS uniq,
             |  CAST(TRUE AS BOOLEAN) AS floor_ok,
             |  CAST(0 AS BIGINT) AS off_step,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total
             |FROM orders
             |WHERE o_custkey % 11 = 2
             |GROUP BY pri_up
             |ORDER BY pri_up""".stripMargin)),

    // IDENTITY allocation in MERGE (r15): the CDC-upsert-into-an-
    // identity-keyed-table production shape — business key
    // o_orderkey, surrogate rid GENERATED ALWAYS. The merge updates
    // every matched row and inserts the new key group; matched rows
    // keep their surrogate (IdentityColumnSpec pins that exactly),
    // inserts allocate from the high-water block in the merge commit.
    // Identity VALUES are allocation-order-dependent, so the oracle
    // pins invariants (count, uniqueness, floor, step) plus the fully
    // deterministic repriced totals. Idempotent via DROP.
    QueryDef("catalog_merge_identity_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.idm")
        s.sql("CREATE TABLE gdml.ddl.idm (" +
          "rid BIGINT GENERATED ALWAYS AS IDENTITY " +
          "(START WITH 500 INCREMENT BY 3), " +
          "o_orderkey BIGINT, o_orderpriority STRING, " +
          "o_totalprice DOUBLE) USING `graft-deltalake`")
        s.sql(
          s"""INSERT INTO gdml.ddl.idm
             |  (o_orderkey, o_orderpriority, o_totalprice)
             |SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM graft_delta.`$src` WHERE o_custkey % 17 = 3
             |""".stripMargin)
        s.sql(
          s"""MERGE INTO gdml.ddl.idm t
             |USING (SELECT o_orderkey, o_orderpriority, o_totalprice
             |       FROM graft_delta.`$src`
             |       WHERE o_custkey % 17 IN (3, 9)) s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN
             |  UPDATE SET o_totalprice = s.o_totalprice + 1.0
             |WHEN NOT MATCHED THEN
             |  INSERT (o_orderkey, o_orderpriority, o_totalprice)
             |  VALUES (s.o_orderkey, s.o_orderpriority, s.o_totalprice)
             |""".stripMargin)
        s.sql(
          """SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(COUNT(DISTINCT rid) AS BIGINT) AS uniq,
            |  CAST(MIN(rid) >= 500 AS BOOLEAN) AS floor_ok,
            |  CAST(SUM(CASE WHEN (rid - 500) % 3 = 0 THEN 0 ELSE 1
            |    END) AS BIGINT) AS off_step,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            |    AS DOUBLE) AS total
            |FROM gdml.ddl.idm
            |GROUP BY pri
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri,
             |  COUNT(*) AS cnt,
             |  COUNT(*) AS uniq,
             |  CAST(TRUE AS BOOLEAN) AS floor_ok,
             |  CAST(0 AS BIGINT) AS off_step,
             |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM (
             |  SELECT o_orderpriority, o_totalprice + 1.0 AS p
             |  FROM orders WHERE o_custkey % 17 = 3
             |  UNION ALL
             |  SELECT o_orderpriority, o_totalprice AS p
             |  FROM orders WHERE o_custkey % 17 = 9)
             |GROUP BY pri
             |ORDER BY pri""".stripMargin)),

    // TYPE-WIDENING ALTER (r15): `ALTER COLUMN c TYPE bigint/double`
    // as a METADATA-ONLY commit — pre-widen files (int32/float
    // parquet) read under the END schema via Spark's native parquet
    // upcasts, post-widen rows need the wide type (keys past 2^31).
    // The oracle reproduces both vintages from the raw table; the
    // float→double vintage re-applies the float rounding the narrow
    // files physically carry. Idempotent via DROP.
    QueryDef("catalog_widen_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.wd")
        s.sql("CREATE TABLE gdml.ddl.wd (o_orderkey INT, " +
          "o_orderpriority STRING, amt FLOAT) " +
          "USING `graft-deltalake`")
        s.sql(
          s"""INSERT INTO gdml.ddl.wd
             |SELECT CAST(o_orderkey AS INT), o_orderpriority,
             |  CAST(o_totalprice AS FLOAT)
             |FROM graft_delta.`$src` WHERE o_custkey % 19 = 4
             |""".stripMargin)
        s.sql("ALTER TABLE gdml.ddl.wd ALTER COLUMN o_orderkey " +
          "TYPE BIGINT")
        s.sql("ALTER TABLE gdml.ddl.wd ALTER COLUMN amt TYPE DOUBLE")
        s.sql(
          s"""INSERT INTO gdml.ddl.wd
             |SELECT o_orderkey + 4000000000, o_orderpriority,
             |  CAST(o_totalprice AS DOUBLE) + 0.25
             |FROM graft_delta.`$src` WHERE o_custkey % 19 = 7
             |""".stripMargin)
        // FLOOR-cents, not DECIMAL(18,2): pre-widen values are
        // float-derived DYADIC doubles (…804.125), which TIE at every
        // decimal rounding level — Spark rounds HALF_UP, DuckDB
        // HALF_EVEN. floor(x*100) is identical in both engines.
        s.sql(
          """SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
            |  CAST(SUM(CAST(FLOOR(amt * 100) AS BIGINT)) AS BIGINT)
            |    AS amt_cents
            |FROM gdml.ddl.wd
            |GROUP BY pri
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(k) AS BIGINT) AS key_sum,
             |  CAST(SUM(CAST(FLOOR(a * 100) AS BIGINT)) AS BIGINT)
             |    AS amt_cents
             |FROM (
             |  SELECT o_orderpriority, o_orderkey AS k,
             |    CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE) AS a
             |  FROM orders WHERE o_custkey % 19 = 4
             |  UNION ALL
             |  SELECT o_orderpriority, o_orderkey + 4000000000 AS k,
             |    CAST(o_totalprice AS DOUBLE) + 0.25 AS a
             |  FROM orders WHERE o_custkey % 19 = 7)
             |GROUP BY pri
             |ORDER BY pri""".stripMargin)),

    // NESTED-FIELD EVOLUTION (r15): ADD + RENAME of STRUCT members on
    // Iceberg (field-id resolution makes nested evolution sound) —
    // pre-evolution files surface the added member as null and serve
    // the renamed member under its new name; a post-evolution SQL
    // INSERT lands the full shape. Floor-cents for the fp aggregate
    // (dyadic tie-rounding, see catalog_widen_sql). Idempotent: the
    // staging dir is wiped and rebuilt per run.
    QueryDef("catalog_nested_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        val tdir = new java.io.File(wh, "nst")
        def wipe(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).foreach(_.foreach(wipe))
          f.delete(); ()
        }
        wipe(tdir)
        import org.apache.spark.sql.functions.struct
        graft.sources.Iceberg.write(s, tdir.getAbsolutePath,
          graft.sources.DeltaLake.snapshot(s, src)
            .filter(col("o_custkey") % 23 === 1)
            .select(col("o_orderkey"),
              struct(col("o_orderpriority").as("pri"),
                col("o_totalprice").as("price")).as("info")))
        graft.sources.Iceberg.addFields(s, tdir.getAbsolutePath,
          Seq(Seq("info") -> org.apache.spark.sql.types.StructField(
            "flag", org.apache.spark.sql.types.LongType)))
        graft.sources.Iceberg.renameFields(s, tdir.getAbsolutePath,
          Map(Seq("info", "pri") -> "priority"))
        graft.sources.GraftCatalog.register(s, wh, "ddl.nst",
          "graft-iceberg", "nst")
        s.sql(
          s"""INSERT INTO gdml.ddl.nst
             |SELECT o_orderkey,
             |  named_struct('priority', o_orderpriority,
             |    'price', o_totalprice, 'flag', o_custkey)
             |FROM graft_delta.`$src` WHERE o_custkey % 23 = 7
             |""".stripMargin)
        s.sql(
          """SELECT info.priority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(FLOOR(info.price * 100) AS BIGINT))
            |    AS BIGINT) AS cents,
            |  CAST(COUNT(info.flag) AS BIGINT) AS flagged
            |FROM gdml.ddl.nst
            |GROUP BY pri
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
             |    AS BIGINT) AS cents,
             |  CAST(COUNT(flag) AS BIGINT) AS flagged
             |FROM (
             |  SELECT o_orderpriority, o_totalprice, NULL AS flag
             |  FROM orders WHERE o_custkey % 23 = 1
             |  UNION ALL
             |  SELECT o_orderpriority, o_totalprice,
             |    o_custkey AS flag
             |  FROM orders WHERE o_custkey % 23 = 7)
             |GROUP BY pri
             |ORDER BY pri""".stripMargin)),

    // NESTED EVOLUTION ON DELTA (r16): ADD of a struct member and a
    // NESTED TYPE WIDEN (info.rank int→bigint) — both metadata-only,
    // NAME-resolved (no column mapping needed: Spark's parquet reader
    // surfaces a missing nested member as null and upcasts nested
    // types natively, verified on both reader code paths). The
    // iceberg twin is catalog_nested_sql. Pre-evolution files serve
    // null flags and narrow ranks; a post-evolution INSERT lands the
    // full wide shape. Idempotent: the staging dir is wiped per run.
    QueryDef("catalog_nested_delta_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        val tdir = new java.io.File(wh, "nstd")
        def wipe(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).foreach(_.foreach(wipe))
          f.delete(); ()
        }
        wipe(tdir)
        import org.apache.spark.sql.functions.struct
        graft.sources.DeltaLake.write(s, tdir.getAbsolutePath,
          graft.sources.DeltaLake.snapshot(s, src)
            .filter(col("o_custkey") % 43 === 2)
            .select(col("o_orderkey"),
              struct((col("o_orderkey") % 100).cast("int").as("rank"),
                col("o_orderpriority").as("pri"),
                col("o_totalprice").as("price")).as("info")))
        graft.sources.GraftCatalog.register(s, wh, "ddl.nstd",
          "graft-deltalake", "nstd")
        s.sql("ALTER TABLE gdml.ddl.nstd ADD COLUMNS " +
          "(info.flag BIGINT)")
        s.sql("ALTER TABLE gdml.ddl.nstd ALTER COLUMN info.rank " +
          "TYPE BIGINT")
        s.sql(
          s"""INSERT INTO gdml.ddl.nstd
             |SELECT o_orderkey,
             |  named_struct('rank', o_orderkey + 4000000000,
             |    'pri', o_orderpriority, 'price', o_totalprice,
             |    'flag', o_custkey)
             |FROM graft_delta.`$src` WHERE o_custkey % 43 = 9
             |""".stripMargin)
        s.sql(
          """SELECT info.pri AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(info.rank) AS BIGINT) AS rank_sum,
            |  CAST(SUM(CAST(FLOOR(info.price * 100) AS BIGINT))
            |    AS BIGINT) AS cents,
            |  CAST(COUNT(info.flag) AS BIGINT) AS flagged
            |FROM gdml.ddl.nstd
            |GROUP BY pri
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(rnk) AS BIGINT) AS rank_sum,
             |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
             |    AS BIGINT) AS cents,
             |  CAST(COUNT(flag) AS BIGINT) AS flagged
             |FROM (
             |  SELECT o_orderpriority, o_orderkey % 100 AS rnk,
             |    o_totalprice, NULL AS flag
             |  FROM orders WHERE o_custkey % 43 = 2
             |  UNION ALL
             |  SELECT o_orderpriority, o_orderkey + 4000000000 AS rnk,
             |    o_totalprice, o_custkey AS flag
             |  FROM orders WHERE o_custkey % 43 = 9)
             |GROUP BY pri
             |ORDER BY pri""".stripMargin)),

    // ADD COLUMN … DEFAULT WITH READ-TIME BACKFILL (r16): the stored
    // EXISTS_DEFAULT serves rows PREDATING the column (Spark's
    // parquet reader fills file-missing columns from it — no data
    // rewrite), while CURRENT_DEFAULT fills future inserts and moves
    // under SET DEFAULT. Three insert waves under three defaults
    // prove backfill ≠ current default. Idempotent via DROP.
    QueryDef("catalog_backfill_default_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.dfb")
        s.sql("CREATE TABLE gdml.ddl.dfb (o_orderkey BIGINT, " +
          "o_orderpriority STRING) USING `graft-deltalake`")
        s.sql(
          s"""INSERT INTO gdml.ddl.dfb
             |SELECT o_orderkey, o_orderpriority
             |FROM graft_delta.`$src` WHERE o_custkey % 47 = 6
             |""".stripMargin)
        // pre-add rows will read 'legacy' (EXISTS_DEFAULT backfill)
        s.sql("ALTER TABLE gdml.ddl.dfb ADD COLUMNS " +
          "(channel STRING DEFAULT 'legacy')")
        s.sql("ALTER TABLE gdml.ddl.dfb ALTER COLUMN channel " +
          "SET DEFAULT 'web'")
        s.sql(
          s"""INSERT INTO gdml.ddl.dfb (o_orderkey, o_orderpriority)
             |SELECT o_orderkey, o_orderpriority
             |FROM graft_delta.`$src` WHERE o_custkey % 47 = 13
             |""".stripMargin)
        s.sql("ALTER TABLE gdml.ddl.dfb ALTER COLUMN channel " +
          "SET DEFAULT 'store'")
        s.sql(
          s"""INSERT INTO gdml.ddl.dfb (o_orderkey, o_orderpriority)
             |SELECT o_orderkey, o_orderpriority
             |FROM graft_delta.`$src` WHERE o_custkey % 47 = 21
             |""".stripMargin)
        s.sql(
          """SELECT o_orderpriority AS pri, channel, COUNT(*) AS cnt,
            |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
            |FROM gdml.ddl.dfb
            |GROUP BY pri, channel
            |ORDER BY pri, channel""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, channel, COUNT(*) AS cnt,
             |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
             |FROM (
             |  SELECT o_orderpriority, 'legacy' AS channel, o_orderkey
             |  FROM orders WHERE o_custkey % 47 = 6
             |  UNION ALL
             |  SELECT o_orderpriority, 'web' AS channel, o_orderkey
             |  FROM orders WHERE o_custkey % 47 = 13
             |  UNION ALL
             |  SELECT o_orderpriority, 'store' AS channel, o_orderkey
             |  FROM orders WHERE o_custkey % 47 = 21)
             |GROUP BY pri, channel
             |ORDER BY pri, channel""".stripMargin)),

    // COLUMN DEFAULT VALUES (r16): `CREATE TABLE … (channel STRING
    // DEFAULT 'web', qty BIGINT DEFAULT 1)` — the analyzer fills
    // omitted columns from the stored CURRENT_DEFAULT metadata, and
    // `ALTER COLUMN … SET DEFAULT` changes FUTURE inserts only
    // (metadata-only commit, allowColumnDefaults feature). Two insert
    // waves under two defaults; the oracle reproduces both fills.
    // Idempotent via DROP.
    QueryDef("catalog_default_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.dft")
        s.sql("CREATE TABLE gdml.ddl.dft (o_orderkey BIGINT, " +
          "o_orderpriority STRING, channel STRING DEFAULT 'web', " +
          "qty BIGINT DEFAULT 1) USING `graft-deltalake`")
        s.sql(
          s"""INSERT INTO gdml.ddl.dft (o_orderkey, o_orderpriority)
             |SELECT o_orderkey, o_orderpriority
             |FROM graft_delta.`$src` WHERE o_custkey % 29 = 2
             |""".stripMargin)
        s.sql("ALTER TABLE gdml.ddl.dft ALTER COLUMN channel " +
          "SET DEFAULT 'store'")
        s.sql(
          s"""INSERT INTO gdml.ddl.dft
             |  (o_orderkey, o_orderpriority, qty)
             |SELECT o_orderkey, o_orderpriority, o_orderkey % 5
             |FROM graft_delta.`$src` WHERE o_custkey % 29 = 11
             |""".stripMargin)
        s.sql(
          """SELECT o_orderpriority AS pri, channel,
            |  COUNT(*) AS cnt, CAST(SUM(qty) AS BIGINT) AS qty_sum
            |FROM gdml.ddl.dft
            |GROUP BY pri, channel
            |ORDER BY pri, channel""".stripMargin)
      },
      Some("""SELECT pri, channel, COUNT(*) AS cnt,
             |  CAST(SUM(qty) AS BIGINT) AS qty_sum
             |FROM (
             |  SELECT o_orderpriority AS pri, 'web' AS channel,
             |    1 AS qty
             |  FROM orders WHERE o_custkey % 29 = 2
             |  UNION ALL
             |  SELECT o_orderpriority AS pri, 'store' AS channel,
             |    o_orderkey % 5 AS qty
             |  FROM orders WHERE o_custkey % 29 = 11)
             |GROUP BY pri, channel
             |ORDER BY pri, channel""".stripMargin)),

    // CREATE OR REPLACE TABLE AS SELECT (r16): the SELF-REFERENCING
    // replace — the exact shape a drop-then-create fallback destroys
    // (the managed purge deletes files the SELECT still needs). The
    // staged catalog routes it through one native OVERWRITE commit:
    // new schema adopted, new partition layout, history retained
    // (the final read aggregates the REPLACED content; the replace
    // also proves pre-replace content stayed readable mid-query).
    // Idempotent via DROP.
    QueryDef("catalog_replace_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.rpl")
        s.sql("CREATE TABLE gdml.ddl.rpl (o_orderkey BIGINT, " +
          "o_orderpriority STRING, o_totalprice DOUBLE) " +
          "USING `graft-deltalake`")
        s.sql(
          s"""INSERT INTO gdml.ddl.rpl
             |SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM graft_delta.`$src` WHERE o_custkey % 31 = 4
             |""".stripMargin)
        // self-referencing replace: re-shape the table FROM itself
        s.sql(
          """CREATE OR REPLACE TABLE gdml.ddl.rpl
            |USING `graft-deltalake` PARTITIONED BY (pri) AS
            |SELECT o_orderkey, o_orderpriority AS pri,
            |  o_totalprice * 2 AS dbl
            |FROM gdml.ddl.rpl WHERE o_orderkey % 3 != 0
            |""".stripMargin)
        s.sql(
          """SELECT pri, COUNT(*) AS cnt,
            |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
            |  CAST(SUM(CAST(dbl AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total
            |FROM gdml.ddl.rpl
            |GROUP BY pri
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             |  CAST(SUM(CAST(o_totalprice * 2 AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total
             |FROM orders
             |WHERE o_custkey % 31 = 4 AND o_orderkey % 3 != 0
             |GROUP BY pri
             |ORDER BY pri""".stripMargin)),

    // MERGE WITH SCHEMA EVOLUTION (r16): the CDC shape where the feed
    // gains a column — source-only columns ADD to the table (nullable,
    // their own evolution commit ahead of the merge), matched rows
    // take the new column from the source, pre-evolution rows surface
    // null, inserts land the full evolved row. Both formats; the
    // matched set covers only HALF the base slice so the null/filled
    // split is visible in the aggregate. Idempotent via DROP.
    QueryDef("catalog_merge_evolve_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.mev")
        s.sql("DROP TABLE IF EXISTS gdml.ddl.mevi")
        s.sql("CREATE TABLE gdml.ddl.mev (o_orderkey BIGINT, " +
          "o_orderpriority STRING, o_totalprice DOUBLE) " +
          "USING `graft-deltalake`")
        s.sql("CREATE TABLE gdml.ddl.mevi (o_orderkey BIGINT, " +
          "o_orderpriority STRING, o_totalprice DOUBLE) " +
          "USING `graft-iceberg`")
        s.sql(
          s"""INSERT INTO gdml.ddl.mev
             |SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM graft_delta.`$src` WHERE o_custkey % 37 = 3
             |""".stripMargin)
        s.sql(
          s"""INSERT INTO gdml.ddl.mevi
             |SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM graft_delta.`$src` WHERE o_custkey % 41 = 5
             |""".stripMargin)
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO gdml.ddl.mev t
             |USING (SELECT o_orderkey, o_orderpriority, o_totalprice,
             |         o_custkey % 100 AS seg
             |       FROM graft_delta.`$src`
             |       WHERE o_custkey % 37 = 11
             |          OR (o_custkey % 37 = 3 AND o_orderkey % 2 = 0)
             |      ) s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *
             |""".stripMargin)
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO gdml.ddl.mevi t
             |USING (SELECT o_orderkey, o_orderpriority, o_totalprice,
             |         o_custkey % 100 AS seg
             |       FROM graft_delta.`$src`
             |       WHERE o_custkey % 41 = 13
             |          OR (o_custkey % 41 = 5 AND o_orderkey % 3 = 0)
             |      ) s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *
             |""".stripMargin)
        // EXPLICIT-list evolution (r17): a second source-only column
        // (tag) ADDs while the clause carries an explicit assignment
        // list — the list updates exactly what it names, the new
        // column lands NULL everywhere (naming a not-yet-added column
        // is Spark's own UNRESOLVED_COLUMN — documented boundary)
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO gdml.ddl.mev t
             |USING (SELECT o_orderkey,
             |         concat('t', o_orderkey % 7) AS tag
             |       FROM graft_delta.`$src`
             |       WHERE o_custkey % 37 = 3 AND o_orderkey % 4 = 0
             |      ) s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE
             |  SET o_totalprice = t.o_totalprice + 1.0
             |""".stripMargin)
        // the evolved column then fills through a plain UPDATE — its
        // content proves the ADD landed writable, not just readable
        s.sql(
          """UPDATE gdml.ddl.mev
            |SET tag = concat('t', o_orderkey % 7)
            |WHERE o_orderkey % 4 = 0 AND seg IS NOT NULL
            |""".stripMargin)
        s.sql(
          """SELECT tbl, o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            |    AS DOUBLE) AS total,
            |  CAST(COUNT(seg) AS BIGINT) AS seg_cnt,
            |  CAST(SUM(seg) AS BIGINT) AS seg_sum,
            |  CAST(COUNT(tag) AS BIGINT) AS tag_cnt,
            |  MIN(tag) AS tag_min
            |FROM (
            |  SELECT 'delta' AS tbl, o_orderpriority, o_totalprice,
            |    seg, tag
            |  FROM gdml.ddl.mev
            |  UNION ALL
            |  SELECT 'iceberg' AS tbl, o_orderpriority, o_totalprice,
            |    seg, CAST(NULL AS STRING) AS tag
            |  FROM gdml.ddl.mevi)
            |GROUP BY tbl, pri
            |ORDER BY tbl, pri""".stripMargin)
      },
      Some("""SELECT tbl, o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total,
             |  CAST(COUNT(seg) AS BIGINT) AS seg_cnt,
             |  CAST(SUM(seg) AS BIGINT) AS seg_sum,
             |  CAST(COUNT(tag) AS BIGINT) AS tag_cnt,
             |  MIN(tag) AS tag_min
             |FROM (
             |  SELECT 'delta' AS tbl, o_orderpriority,
             |    o_totalprice +
             |      CASE WHEN o_custkey % 37 = 3 AND o_orderkey % 4 = 0
             |        THEN 1.0 ELSE 0.0 END AS o_totalprice,
             |    CASE WHEN o_custkey % 37 = 11
             |           OR (o_custkey % 37 = 3 AND o_orderkey % 2 = 0)
             |      THEN o_custkey % 100 END AS seg,
             |    CASE WHEN o_orderkey % 4 = 0 AND
             |        (o_custkey % 37 = 11
             |          OR (o_custkey % 37 = 3 AND o_orderkey % 2 = 0))
             |      THEN 't' || CAST(o_orderkey % 7 AS VARCHAR)
             |      END AS tag
             |  FROM orders
             |  WHERE o_custkey % 37 IN (3, 11)
             |  UNION ALL
             |  SELECT 'iceberg' AS tbl, o_orderpriority, o_totalprice,
             |    CASE WHEN o_custkey % 41 = 13
             |           OR (o_custkey % 41 = 5 AND o_orderkey % 3 = 0)
             |      THEN o_custkey % 100 END AS seg,
             |    CAST(NULL AS VARCHAR) AS tag
             |  FROM orders
             |  WHERE o_custkey % 41 IN (5, 13))
             |GROUP BY tbl, pri
             |ORDER BY tbl, pri""".stripMargin)),

    // DELTA COLUMN-MAPPING UPGRADE + RENAME (r17): `ALTER TABLE … SET
    // TBLPROPERTIES('delta.columnMapping.mode'='name')` stamps every
    // field with an id + a physicalName FROZEN at its current logical
    // name (existing files were written under logical names) and
    // UNIONs the columnMapping reader-writer feature into the
    // protocol; RENAME COLUMN is then one metadata-only commit — both
    // pre-upgrade insert waves keep reading under the NEW logical
    // name. Idempotent via DROP.
    QueryDef("catalog_rename_delta_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.ren")
        s.sql("CREATE TABLE gdml.ddl.ren (o_orderkey BIGINT, " +
          "o_orderpriority STRING, o_totalprice DOUBLE) " +
          "USING `graft-deltalake`")
        s.sql(
          s"""INSERT INTO gdml.ddl.ren
             |SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM graft_delta.`$src` WHERE o_custkey % 43 = 7
             |""".stripMargin)
        s.sql(
          s"""INSERT INTO gdml.ddl.ren
             |SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM graft_delta.`$src` WHERE o_custkey % 43 = 9
             |""".stripMargin)
        s.sql("ALTER TABLE gdml.ddl.ren SET TBLPROPERTIES(" +
          "'delta.columnMapping.mode' = 'name')")
        s.sql(
          "ALTER TABLE gdml.ddl.ren RENAME COLUMN o_totalprice TO price")
        s.sql("ALTER TABLE gdml.ddl.ren RENAME COLUMN " +
          "o_orderpriority TO pri")
        s.sql(
          """SELECT pri, COUNT(*) AS cnt,
            |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
            |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total
            |FROM gdml.ddl.ren
            |GROUP BY pri
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total
             |FROM orders
             |WHERE o_custkey % 43 IN (7, 9)
             |GROUP BY pri
             |ORDER BY pri""".stripMargin)),

    // DELTA CHECKPOINT + LOG CLEANUP through SQL (r17): CTAS (create +
    // data commits) + insert + DELETE leave the head at version 3,
    // `CALL gdml.system.checkpoint(parts =>
    // 2, clean_logs => true)` writes the MULTI-PART parquet checkpoint
    // at the head and deletes the subsumed JSON commits (cleaned_any
    // pins that something was reclaimed), a post-checkpoint INSERT
    // proves the log still advances, and the final aggregate reads
    // through checkpoint-resume + one JSON commit — the estate-scale
    // metadata shape (a million-commit log folds from one parquet
    // read). Idempotent via the leading DROP.
    QueryDef("catalog_checkpoint_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.ckpt")
        s.sql(s"CREATE TABLE gdml.ddl.ckpt USING `graft-deltalake` " +
          s"AS SELECT o_orderkey, o_custkey, o_totalprice, " +
          s"o_orderpriority FROM graft_delta.`$src` " +
          s"WHERE o_custkey % 11 = 1")
        s.sql(
          s"""INSERT INTO gdml.ddl.ckpt
             |SELECT o_orderkey, o_custkey, o_totalprice,
             |  o_orderpriority
             |FROM graft_delta.`$src` WHERE o_custkey % 11 = 2
             |""".stripMargin)
        s.sql("DELETE FROM gdml.ddl.ckpt WHERE o_orderkey % 10 = 3")
        val row = s.sql("CALL gdml.system.checkpoint(" +
          "table => 'ddl.ckpt', parts => 2, clean_logs => true)").head()
        val (ver, cleaned) = (row.getLong(0), row.getInt(1))
        s.sql(
          s"""INSERT INTO gdml.ddl.ckpt
             |SELECT o_orderkey, o_custkey, o_totalprice,
             |  o_orderpriority
             |FROM graft_delta.`$src` WHERE o_custkey % 11 = 3
             |""".stripMargin)
        s.sql(
          s"""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total,
             |  CAST($ver AS BIGINT) AS ckpt_version,
             |  CAST(${cleaned > 0} AS BOOLEAN) AS cleaned_any
             |FROM gdml.ddl.ckpt
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total,
             |  CAST(3 AS BIGINT) AS ckpt_version,
             |  CAST(TRUE AS BOOLEAN) AS cleaned_any
             |FROM orders
             |WHERE (o_custkey % 11 IN (1, 2) AND o_orderkey % 10 <> 3)
             |   OR o_custkey % 11 = 3
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)),

    // ICEBERG REWRITE MANIFESTS through SQL (r17): three inserts leave
    // three single-entry data manifests; `CALL gdml.system.
    // rewrite_manifests` folds them into ONE (metadata-only replace
    // snapshot — compacted pins it committed), an immediate second
    // call has nothing to compact and returns -1 (second_noop pins the
    // no-op contract), a post-rewrite INSERT proves appends continue,
    // and the aggregate proves content is untouched. At estate scale
    // this is what keeps planning O(manifests) from degrading to
    // O(commits). Idempotent via the leading DROP.
    QueryDef("catalog_manifest_rewrite_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.mrw")
        s.sql("CREATE TABLE gdml.ddl.mrw (o_orderkey BIGINT, " +
          "o_totalprice DOUBLE, o_orderpriority STRING) " +
          "USING `graft-iceberg`")
        Seq(5, 6, 7).foreach { m =>
          s.sql(
            s"""INSERT INTO gdml.ddl.mrw
               |SELECT o_orderkey, o_totalprice, o_orderpriority
               |FROM graft_delta.`$src` WHERE o_custkey % 13 = $m
               |""".stripMargin)
        }
        val v = s.sql("CALL gdml.system.rewrite_manifests(" +
          "table => 'ddl.mrw')").head().getLong(0)
        val v2 = s.sql("CALL gdml.system.rewrite_manifests(" +
          "table => 'ddl.mrw')").head().getLong(0)
        s.sql(
          s"""INSERT INTO gdml.ddl.mrw
             |SELECT o_orderkey, o_totalprice, o_orderpriority
             |FROM graft_delta.`$src` WHERE o_custkey % 13 = 8
             |""".stripMargin)
        s.sql(
          s"""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total,
             |  CAST(${v > 0} AS BOOLEAN) AS compacted,
             |  CAST(${v2 == -1L} AS BOOLEAN) AS second_noop
             |FROM gdml.ddl.mrw
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total,
             |  CAST(TRUE AS BOOLEAN) AS compacted,
             |  CAST(TRUE AS BOOLEAN) AS second_noop
             |FROM orders
             |WHERE o_custkey % 13 IN (5, 6, 7, 8)
             |GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)),

    // DESCRIBE-HISTORY through SQL (r17): every PUBLIC writer commit now
    // leads with a `commitInfo` action carrying `operation` (production
    // Delta's shape — previously only ICT tables got one and a COW
    // DELETE derived as WRITE), and `CALL gdml.system.history` reads the
    // log back: the full CTAS → INSERT → DELETE → UPDATE → OPTIMIZE
    // lifecycle surfaces as its own operation names, pinned row-by-row
    // against a VALUES oracle. Idempotent via the leading DROP.
    QueryDef("catalog_history_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.hist")
        s.sql(s"CREATE TABLE gdml.ddl.hist USING `graft-deltalake` " +
          s"AS SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, " +
          s"o_totalprice FROM graft_delta.`$src` " +
          s"WHERE o_custkey % 17 = 4")
        s.sql(
          s"""INSERT INTO gdml.ddl.hist
             |SELECT o_orderkey, o_custkey, o_totalprice
             |FROM graft_delta.`$src` WHERE o_custkey % 17 = 5
             |""".stripMargin)
        s.sql("DELETE FROM gdml.ddl.hist WHERE o_orderkey % 10 = 7")
        s.sql("UPDATE gdml.ddl.hist SET o_totalprice = " +
          "o_totalprice + 1.0 WHERE o_orderkey % 10 = 4")
        s.sql("CALL gdml.system.optimize(table => 'ddl.hist')")
        s.sql("CALL gdml.system.history(table => 'ddl.hist')")
          .orderBy("version")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), 'CREATE TABLE'),
             |  (CAST(1 AS BIGINT), 'WRITE'),
             |  (CAST(2 AS BIGINT), 'WRITE'),
             |  (CAST(3 AS BIGINT), 'DELETE'),
             |  (CAST(4 AS BIGINT), 'UPDATE'),
             |  (CAST(5 AS BIGINT), 'OPTIMIZE')
             |) AS t(version, operation)
             |ORDER BY version""".stripMargin)),

    // ICEBERG v3 FIELD DEFAULTS (r16): `ALTER TABLE … ADD COLUMNS
    // (channel STRING DEFAULT 'legacy')` — the SPEC home for
    // read-time backfill (initial-default serves rows predating the
    // column; write-default fills future inserts; format-version
    // promotes to 3 with the commit). Pre-add rows read the ADD-time
    // default, a second wave fills it as the write default, a third
    // wave provides explicit values. Idempotent via DROP.
    QueryDef("catalog_iceberg_default_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.idf")
        s.sql("CREATE TABLE gdml.ddl.idf (o_orderkey BIGINT, " +
          "o_orderpriority STRING) USING `graft-iceberg`")
        s.sql(
          s"""INSERT INTO gdml.ddl.idf
             |SELECT o_orderkey, o_orderpriority
             |FROM graft_delta.`$src` WHERE o_custkey % 59 = 4
             |""".stripMargin)
        s.sql("ALTER TABLE gdml.ddl.idf ADD COLUMNS " +
          "(channel STRING DEFAULT 'legacy', qty BIGINT DEFAULT 3)")
        s.sql(
          s"""INSERT INTO gdml.ddl.idf (o_orderkey, o_orderpriority)
             |SELECT o_orderkey, o_orderpriority
             |FROM graft_delta.`$src` WHERE o_custkey % 59 = 17
             |""".stripMargin)
        s.sql(
          s"""INSERT INTO gdml.ddl.idf
             |SELECT o_orderkey, o_orderpriority, 'store',
             |  o_orderkey % 5
             |FROM graft_delta.`$src` WHERE o_custkey % 59 = 31
             |""".stripMargin)
        s.sql(
          """SELECT o_orderpriority AS pri, channel,
            |  COUNT(*) AS cnt, CAST(SUM(qty) AS BIGINT) AS qty_sum
            |FROM gdml.ddl.idf
            |GROUP BY pri, channel
            |ORDER BY pri, channel""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, channel, COUNT(*) AS cnt,
             |  CAST(SUM(qty) AS BIGINT) AS qty_sum
             |FROM (
             |  SELECT o_orderpriority, 'legacy' AS channel, 3 AS qty
             |  FROM orders WHERE o_custkey % 59 IN (4, 17)
             |  UNION ALL
             |  SELECT o_orderpriority, 'store' AS channel,
             |    o_orderkey % 5 AS qty
             |  FROM orders WHERE o_custkey % 59 = 31)
             |GROUP BY pri, channel
             |ORDER BY pri, channel""".stripMargin)),

    // NESTED-FIELD SET (r16): `UPDATE … SET info.price = …` — the
    // bridge lowers a struct-member target to ONE whole-column
    // rebuild (Column.withField: the assigned member replaced, every
    // other member carried), so the native copy-on-write writers need
    // no nested-assignment surface at all. Both formats; the delta
    // arm assigns a numeric member, the iceberg arm a string member.
    // Idempotent via DROP.
    QueryDef("catalog_nested_set_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.nsd")
        s.sql("DROP TABLE IF EXISTS gdml.ddl.nsi")
        s.sql("CREATE TABLE gdml.ddl.nsd (o_orderkey BIGINT, " +
          "info STRUCT<pri: STRING, price: DOUBLE>) " +
          "USING `graft-deltalake`")
        s.sql("CREATE TABLE gdml.ddl.nsi (o_orderkey BIGINT, " +
          "info STRUCT<pri: STRING, price: DOUBLE>) " +
          "USING `graft-iceberg`")
        s.sql(
          s"""INSERT INTO gdml.ddl.nsd
             |SELECT o_orderkey, named_struct('pri', o_orderpriority,
             |  'price', o_totalprice)
             |FROM graft_delta.`$src` WHERE o_custkey % 53 = 7
             |""".stripMargin)
        s.sql(
          s"""INSERT INTO gdml.ddl.nsi
             |SELECT o_orderkey, named_struct('pri', o_orderpriority,
             |  'price', o_totalprice)
             |FROM graft_delta.`$src` WHERE o_custkey % 53 = 11
             |""".stripMargin)
        s.sql(
          """UPDATE gdml.ddl.nsd SET info.price = info.price + 5.0
            |WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql(
          """UPDATE gdml.ddl.nsi
            |SET info.pri = concat(info.pri, '*')
            |WHERE o_orderkey % 3 = 0""".stripMargin)
        s.sql(
          """SELECT tbl, info.pri AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(FLOOR(info.price * 100) AS BIGINT))
            |    AS BIGINT) AS cents
            |FROM (
            |  SELECT 'delta' AS tbl, info FROM gdml.ddl.nsd
            |  UNION ALL
            |  SELECT 'iceberg' AS tbl, info FROM gdml.ddl.nsi)
            |GROUP BY tbl, pri
            |ORDER BY tbl, pri""".stripMargin)
      },
      Some("""SELECT tbl, pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(FLOOR(price * 100) AS BIGINT))
             |    AS BIGINT) AS cents
             |FROM (
             |  SELECT 'delta' AS tbl, o_orderpriority AS pri,
             |    CASE WHEN o_orderkey % 2 = 0
             |      THEN o_totalprice + 5.0 ELSE o_totalprice
             |    END AS price
             |  FROM orders WHERE o_custkey % 53 = 7
             |  UNION ALL
             |  SELECT 'iceberg' AS tbl,
             |    CASE WHEN o_orderkey % 3 = 0
             |      THEN o_orderpriority || '*' ELSE o_orderpriority
             |    END AS pri,
             |    o_totalprice AS price
             |  FROM orders WHERE o_custkey % 53 = 11)
             |GROUP BY tbl, pri
             |ORDER BY tbl, pri""".stripMargin)),

    // NESTED MERGE SCHEMA EVOLUTION (r16): the CDC feed's STRUCT
    // gains a member — `MERGE WITH SCHEMA EVOLUTION` detects the
    // source struct carrying the target's members as a positional
    // prefix plus extras, ADDs the new member (nested evolution
    // commit), and the merge lands the full evolved shape; matched
    // rows take the member from the source, pre-evolution rows
    // surface null. Delta arm (the iceberg twin is covered by the
    // spec; one format keeps the oracle lean). Idempotent: staging
    // dir wiped per run.
    QueryDef("catalog_merge_evolve_nested_sql",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        val tdir = new java.io.File(wh, "mevn")
        def wipe(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).foreach(_.foreach(wipe))
          f.delete(); ()
        }
        wipe(tdir)
        import org.apache.spark.sql.functions.struct
        graft.sources.DeltaLake.write(s, tdir.getAbsolutePath,
          graft.sources.DeltaLake.snapshot(s, src)
            .filter(col("o_custkey") % 61 === 3)
            .select(col("o_orderkey"),
              struct(col("o_orderpriority").as("pri"),
                col("o_totalprice").as("price")).as("info")))
        graft.sources.GraftCatalog.register(s, wh, "ddl.mevn",
          "graft-deltalake", "mevn")
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO gdml.ddl.mevn t
             |USING (SELECT o_orderkey,
             |         named_struct('pri', o_orderpriority,
             |           'price', o_totalprice,
             |           'seg', o_custkey % 100) AS info
             |       FROM graft_delta.`$src`
             |       WHERE o_custkey % 61 = 9
             |          OR (o_custkey % 61 = 3 AND o_orderkey % 2 = 0)
             |      ) s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *
             |""".stripMargin)
        s.sql(
          """SELECT info.pri AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(FLOOR(info.price * 100) AS BIGINT))
            |    AS BIGINT) AS cents,
            |  CAST(COUNT(info.seg) AS BIGINT) AS seg_cnt,
            |  CAST(SUM(info.seg) AS BIGINT) AS seg_sum
            |FROM gdml.ddl.mevn
            |GROUP BY pri
            |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
             |    AS BIGINT) AS cents,
             |  CAST(COUNT(seg) AS BIGINT) AS seg_cnt,
             |  CAST(SUM(seg) AS BIGINT) AS seg_sum
             |FROM (
             |  SELECT o_orderpriority, o_totalprice,
             |    CASE WHEN o_custkey % 61 = 9
             |           OR (o_custkey % 61 = 3 AND o_orderkey % 2 = 0)
             |      THEN o_custkey % 100 END AS seg
             |  FROM orders
             |  WHERE o_custkey % 61 IN (3, 9))
             |GROUP BY pri
             |ORDER BY pri""".stripMargin)),

    // SUBQUERIES IN DML PREDICATES (r16): the bridge lowers them by
    // MATERIALIZATION — an uncorrelated `IN (SELECT …)` becomes an
    // InSet over the collected distinct keys (still stats-prunable at
    // the hit-file walk), a single-equality-correlated EXISTS
    // decorrelates to the same IN form, and an uncorrelated scalar
    // evaluates to a literal. Three statements across BOTH formats:
    // the delta table takes the IN delete + the scalar update, the
    // iceberg table an EXISTS delete referencing the (post-delete)
    // delta table. Idempotent via DROP.
    QueryDef("catalog_subquery_dml",
      (s, d) => {
        val wh = catalogDmlWarehouse(s, d)
        s.conf.set("spark.sql.catalog.gdml",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
        val src = deltaLakeOrders(s, d)
        s.sql("DROP TABLE IF EXISTS gdml.ddl.sqd")
        s.sql("DROP TABLE IF EXISTS gdml.ddl.sqi")
        s.sql("CREATE TABLE gdml.ddl.sqd (o_orderkey BIGINT, " +
          "o_custkey BIGINT, o_orderpriority STRING, " +
          "o_totalprice DOUBLE) USING `graft-deltalake`")
        s.sql("CREATE TABLE gdml.ddl.sqi (o_orderkey BIGINT, " +
          "o_custkey BIGINT, o_orderpriority STRING, " +
          "o_totalprice DOUBLE) USING `graft-iceberg`")
        s.sql(
          s"""INSERT INTO gdml.ddl.sqd
             |SELECT o_orderkey, o_custkey, o_orderpriority,
             |  o_totalprice
             |FROM graft_delta.`$src` WHERE o_custkey % 11 = 5
             |""".stripMargin)
        s.sql(
          s"""INSERT INTO gdml.ddl.sqi
             |SELECT o_orderkey, o_custkey, o_orderpriority,
             |  o_totalprice
             |FROM graft_delta.`$src` WHERE o_custkey % 13 = 5
             |""".stripMargin)
        // uncorrelated IN: the materialized key set still stats-prunes
        s.sql(
          s"""DELETE FROM gdml.ddl.sqd WHERE o_orderkey IN
             |  (SELECT o_orderkey FROM graft_delta.`$src`
             |   WHERE o_orderkey % 3 = 0)
             |""".stripMargin)
        // correlated EXISTS (single equality + uncorrelated residual)
        // against the post-delete delta table
        s.sql(
          """DELETE FROM gdml.ddl.sqi t WHERE EXISTS
            |  (SELECT 1 FROM gdml.ddl.sqd s
            |   WHERE s.o_custkey = t.o_custkey
            |     AND s.o_totalprice > 150000.0)
            |""".stripMargin)
        // correlated IN (r17): the subquery's select item rides
        // alongside the single-equality correlation key — lowered to
        // a keyed PAIR membership (PairInSet), not a refusal
        s.sql(
          """DELETE FROM gdml.ddl.sqd t WHERE t.o_orderpriority IN
            |  (SELECT s.o_orderpriority FROM gdml.ddl.sqi s
            |   WHERE s.o_custkey = t.o_custkey
            |     AND s.o_totalprice < 50000.0)
            |""".stripMargin)
        // uncorrelated scalar → literal
        s.sql(
          s"""UPDATE gdml.ddl.sqd SET o_totalprice = o_totalprice + 10.0
             |WHERE o_custkey <=
             |  (SELECT MAX(o_custkey) FROM graft_delta.`$src`) - 500
             |""".stripMargin)
        s.sql(
          """SELECT tbl, o_orderpriority AS pri, COUNT(*) AS cnt,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            |    AS DOUBLE) AS total
            |FROM (
            |  SELECT 'delta' AS tbl, o_orderpriority, o_totalprice
            |  FROM gdml.ddl.sqd
            |  UNION ALL
            |  SELECT 'iceberg' AS tbl, o_orderpriority, o_totalprice
            |  FROM gdml.ddl.sqi)
            |GROUP BY tbl, pri
            |ORDER BY tbl, pri""".stripMargin)
      },
      Some("""WITH d0 AS (
             |  SELECT * FROM orders
             |  WHERE o_custkey % 11 = 5 AND o_orderkey % 3 <> 0),
             |i1 AS (
             |  SELECT * FROM orders
             |  WHERE o_custkey % 13 = 5 AND o_custkey NOT IN
             |    (SELECT o_custkey FROM d0
             |     WHERE o_totalprice > 150000.0)),
             |d0b AS (
             |  SELECT * FROM d0 t WHERE NOT EXISTS
             |    (SELECT 1 FROM i1 s
             |     WHERE s.o_custkey = t.o_custkey
             |       AND s.o_totalprice < 50000.0
             |       AND s.o_orderpriority = t.o_orderpriority)),
             |d1 AS (
             |  SELECT o_orderpriority,
             |    CASE WHEN o_custkey <=
             |        (SELECT MAX(o_custkey) FROM orders) - 500
             |      THEN o_totalprice + 10.0 ELSE o_totalprice
             |    END AS o_totalprice
             |  FROM d0b)
             |SELECT tbl, o_orderpriority AS pri, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total
             |FROM (
             |  SELECT 'delta' AS tbl, o_orderpriority, o_totalprice
             |  FROM d1
             |  UNION ALL
             |  SELECT 'iceberg' AS tbl, o_orderpriority, o_totalprice
             |  FROM i1)
             |GROUP BY tbl, pri
             |ORDER BY tbl, pri""".stripMargin))
  )

  /** The staged two-commit Delta table the `deltalake_*` queries read:
    * orders split at 90% of the key range (commit 0 = below, commit 1 =
    * the appended tail), partitioned by `o_orderpriority`, built once per
    * box+content in a fingerprinted [[graft.sources.Staging]] slot.
    */
  private[graft] def deltaLakeOrders(s: SparkSession, d: String): String =
    // slot name versioned: _s1 slots carry per-file add.stats
    graft.sources.Staging.stageOnce(d, "deltalake_orders_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val cut = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") < cut), Seq("o_orderpriority"), 0L)
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") >= cut), Seq("o_orderpriority"), 1L)
    }

  /** The PUBLIC-WRITER-built Delta table — the `deltalake_write`
    * fixture: create + append + overwrite through [[DeltaLake.write]]
    * (the final overwrite keeps only custkey % 3 != 0, so the content
    * proves the removes landed).
    */
  private[graft] def deltaLakeOrdersWritten(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_pubw_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      graft.sources.DeltaLake.write(s, p,
        ord.filter(col("o_custkey") % 2 === 0),
        partitionBy = Seq("o_orderpriority"))
      graft.sources.DeltaLake.write(s, p,
        ord.filter(col("o_custkey") % 2 =!= 0))
      graft.sources.DeltaLake.write(s, p,
        ord.filter(col("o_custkey") % 3 =!= 0), mode = "overwrite")
      ()
    }

  /** The DataFrame-WRITER-API-built Delta table — the
    * `deltalake_writer_api` fixture: append + append + overwrite
    * entirely through `df.write.format("graft-deltalake")` (the
    * registered V1 provider), partition layout via the `partitionBy`
    * option. The final overwrite keeps custkey % 5 != 0.
    */
  private[graft] def deltaLakeOrdersApiWritten(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_apiw_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      ord.filter(col("o_custkey") % 2 === 0)
        .write.format("graft-deltalake")
        .option("partitionBy", "o_orderpriority").save(p)
      ord.filter(col("o_custkey") % 2 =!= 0)
        .write.format("graft-deltalake").mode("append").save(p)
      ord.filter(col("o_custkey") % 5 =!= 0)
        .write.format("graft-deltalake").mode("overwrite")
        .option("partitionBy", "o_orderpriority").save(p)
      ()
    }

  /** The BRANCHED Iceberg table — the `iceberg_branch_write` fixture:
    * main holds the even custkeys; branch `audit` appends the odds
    * (full orders on the branch, main untouched — UNPUBLISHED).
    */
  private[graft] def icebergOrdersBranched(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_branch_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      graft.sources.Iceberg.write(s, p,
        ord.filter(col("o_custkey") % 2 === 0))
      graft.sources.Iceberg.writeToBranch(s, p,
        ord.filter(col("o_custkey") % 2 =!= 0), "audit")
      ()
    }

  /** The WAP-PUBLISHED Iceberg table — the `iceberg_wap_publish`
    * fixture: branch `audit` is built up then OVERWRITTEN to the
    * custkey%3 subset and fast-forwarded into main.
    */
  private[graft] def icebergOrdersPublished(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_wap_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      graft.sources.Iceberg.write(s, p,
        ord.filter(col("o_custkey") % 2 === 0))
      graft.sources.Iceberg.writeToBranch(s, p,
        ord.filter(col("o_custkey") % 2 =!= 0), "audit")
      graft.sources.Iceberg.writeToBranch(s, p,
        ord.filter(col("o_custkey") % 3 =!= 0), "audit",
        mode = "overwrite")
      graft.sources.Iceberg.fastForward(s, p, "audit")
      ()
    }

  /** The MIXED parquet+ORC Iceberg table — the `iceberg_orc_scan`
    * fixture: the even custkeys land as a parquet snapshot, the odds
    * as an ORC snapshot ([[graft.sources.Iceberg.stageOrcAppend]] —
    * the migrated-estate shape).
    */
  private[graft] def icebergOrdersOrc(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_orc_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_custkey") % 2 === 0), Seq.empty)
      graft.sources.Iceberg.stageOrcAppend(s, p,
        ord.filter(col("o_custkey") % 2 =!= 0))
      ()
    }

  /** PER-PROCESS path-addressed Delta table for `sql_path_dml` (the
    * query mutates it — outside the immutable staging slots, like the
    * other DML warehouses). Seeded once per JVM per sfDir.
    */
  private val pathDmlTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def pathDmlTable(s: SparkSession, d: String): String =
    pathDmlTables.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_pathdml_").toFile
      dir.deleteOnExit()
      graft.sources.DeltaLake.write(s, dir.getAbsolutePath,
        t(s, d, "orders"))
      dir.getAbsolutePath
    })

  /** The MIXED parquet+AVRO Iceberg table — the `iceberg_avro_scan`
    * fixture: evens as a parquet snapshot, odds as an AVRO snapshot
    * ([[graft.sources.Iceberg.stageAvroAppend]] — full orders schema,
    * date column included via the avro `date` logical type).
    */
  private[graft] def icebergOrdersAvro(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_avro_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_custkey") % 2 === 0), Seq.empty)
      graft.sources.Iceberg.stageAvroAppend(s, p,
        ord.filter(col("o_custkey") % 2 =!= 0))
      ()
    }

  /** The RENAMED parquet+id-ORC Iceberg table — the
    * `iceberg_orcid_rename` fixture: evens as parquet
    * ([[graft.sources.Iceberg.stageAppend]] — files carry
    * `parquet.field.id`s), odds as `iceberg.id`-stamped ORC
    * ([[graft.sources.Iceberg.stageOrcIdAppend]]), then
    * `o_totalprice` RENAMED to `price` — both arms' pre-rename files
    * must resolve the new name by field id.
    */
  private[graft] def icebergOrdersOrcIdRenamed(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_orcid_s1",
      Seq(s"$d/orders.parquet")) { p =>
      // the date/timestamp column is dropped: the driver-side id-ORC
      // fixture writer covers the types manifest stats prune on, and
      // timestamp physical encodings differ per dataset vintage
      val ord = t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_custkey") % 2 === 0), Seq.empty)
      graft.sources.Iceberg.stageOrcIdAppend(s, p,
        ord.filter(col("o_custkey") % 2 =!= 0))
      graft.sources.Iceberg.stageRenameColumn(s, p,
        Map("o_totalprice" -> "price"))
      ()
    }

  /** The CATALOG WAREHOUSE — the `catalog_sql_read` /
    * `catalog_multi_table_txn` fixture: one staged warehouse holding
    * (a) name registrations over the shared Delta/Iceberg orders
    * fixtures (`db.orders`, `db.orders_ice`, pinned at head) and (b)
    * two fresh tables written through ONE catalog transaction —
    * `tx.a` (Delta: evens, then the odds appended IN the transaction =
    * all orders) and `tx.b` (Iceberg: a seed subset, then OVERWRITTEN
    * in the transaction to custkey%3 != 0).
    */
  private[graft] def catalogWarehouse(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "graft_catalog_s3",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      graft.sources.GraftCatalog.register(s, p, "db.orders",
        "graft-deltalake", deltaLakeOrders(s, d))
      graft.sources.GraftCatalog.register(s, p, "db.orders_ice",
        "graft-iceberg", icebergOrders(s, d))
      graft.sources.DeltaLake.write(s,
        new java.io.File(p, "tx_a").getAbsolutePath,
        ord.filter(col("o_custkey") % 2 === 0))
      graft.sources.Iceberg.write(s,
        new java.io.File(p, "tx_b").getAbsolutePath,
        ord.filter(col("o_custkey") % 5 === 0))
      // registered RELATIVE: the staged warehouse is renamed into its
      // content-keyed slot after this callback, and relative pins move
      // with it
      graft.sources.GraftCatalog.register(s, p, "tx.a",
        "graft-deltalake", "tx_a")
      graft.sources.GraftCatalog.register(s, p, "tx.b",
        "graft-iceberg", "tx_b")
      graft.sources.GraftCatalog.transaction(s, p) { tx =>
        tx.write("tx.a", ord.filter(col("o_custkey") % 2 =!= 0))
        tx.write("tx.b", ord.filter(col("o_custkey") % 3 =!= 0),
          mode = "overwrite")
      }
      ()
    }

  /** PER-PROCESS warehouse for the INSERT-bridge query
    * (`catalog_insert_sql`): the query overwrites its target each run,
    * so the target must not live in the cross-process shared staging
    * slot (stageOnce slots are immutable after staging by contract).
    * Seeded once per JVM per sfDir.
    */
  private val insertWarehouses =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def catalogInsertWarehouse(s: SparkSession,
      d: String): String =
    insertWarehouses.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_inswh_").toFile
      dir.deleteOnExit()
      val p = dir.getAbsolutePath
      graft.sources.DeltaLake.write(s,
        new java.io.File(p, "ins_t").getAbsolutePath,
        t(s, d, "orders").filter(col("o_custkey") % 9 === 0))
      graft.sources.GraftCatalog.register(s, p, "ins.t",
        "graft-deltalake", "ins_t")
      p
    })

  /** PER-PROCESS warehouse for the SQL row-level DML queries
    * (`catalog_delete_sql` / `catalog_update_sql` /
    * `catalog_merge_sql`): three independent targets — `dml.del`
    * (Delta, full orders), `dml.upd` (Iceberg, full orders), `dml.mrg`
    * (Delta, the 4-column orders projection the merge upserts). Each
    * query mutates only its own table, so the three stay
    * order-independent; like the INSERT warehouse, the mutating
    * targets live outside the immutable cross-process staging slots.
    */
  private val dmlWarehouses =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def catalogDmlWarehouse(s: SparkSession,
      d: String): String =
    dmlWarehouses.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_dmlwh_").toFile
      dir.deleteOnExit()
      val p = dir.getAbsolutePath
      val ord = t(s, d, "orders")
      graft.sources.DeltaLake.write(s,
        new java.io.File(p, "dml_del").getAbsolutePath, ord)
      graft.sources.Iceberg.write(s,
        new java.io.File(p, "dml_upd").getAbsolutePath, ord)
      graft.sources.DeltaLake.write(s,
        new java.io.File(p, "dml_mrg").getAbsolutePath,
        ord.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")))
      graft.sources.Iceberg.write(s,
        new java.io.File(p, "dml_mrg2").getAbsolutePath,
        ord.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")))
      graft.sources.GraftCatalog.register(s, p, "dml.del",
        "graft-deltalake", "dml_del")
      graft.sources.GraftCatalog.register(s, p, "dml.upd",
        "graft-iceberg", "dml_upd")
      graft.sources.GraftCatalog.register(s, p, "dml.mrg",
        "graft-deltalake", "dml_mrg")
      graft.sources.GraftCatalog.register(s, p, "dml.mrg2",
        "graft-iceberg", "dml_mrg2")
      p
    })

  /** The PUBLIC-DELETE'd Delta table — the `deltalake_delete_dml`
    * fixture: written by the public writer, then two
    * [[DeltaLake.delete]] commits (the second grows the first's DVs).
    */
  private[graft] def deltaLakeOrdersPubDeleted(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_pubdel_s1",
      Seq(s"$d/orders.parquet")) { p =>
      graft.sources.DeltaLake.write(s, p, t(s, d, "orders"),
        partitionBy = Seq("o_orderpriority"))
      graft.sources.DeltaLake.delete(s, p,
        col("o_custkey") % 7 === 0 &&
          col("o_orderpriority") === "5-LOW")
      graft.sources.DeltaLake.delete(s, p, col("o_custkey") % 11 === 3)
      ()
    }

  /** The PUBLIC-UPDATE'd Delta table — the `deltalake_update_dml`
    * fixture: one partition's matching rows get +750 on the old price.
    */
  private[graft] def deltaLakeOrdersPubUpdated(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_pubupd_s1",
      Seq(s"$d/orders.parquet")) { p =>
      graft.sources.DeltaLake.write(s, p, t(s, d, "orders"),
        partitionBy = Seq("o_orderpriority"))
      graft.sources.DeltaLake.update(s, p,
        col("o_custkey") % 6 === 1 &&
          col("o_orderpriority") === "2-HIGH",
        Map("o_totalprice" -> (col("o_totalprice") + 750)))
      ()
    }

  /** The PUBLIC-MERGE'd Delta table — the `deltalake_merge_dml`
    * fixture: a projected orders target upserted with bumped-price
    * matches (orderkey % 10 = 3) and negated-key inserts
    * (orderkey % 10 = 7).
    */
  private[graft] def deltaLakeOrdersPubMerged(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_pubmrg_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val tgt = t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      graft.sources.DeltaLake.write(s, p, tgt)
      val upd = tgt.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
      val ins = tgt.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_orderkey", -col("o_orderkey"))
      graft.sources.DeltaLake.merge(s, p, upd.unionByName(ins),
        Seq("o_orderkey"))
      ()
    }

  /** The PUBLIC-WRITER-built Iceberg table — the `iceberg_write`
    * fixture: create + append + overwrite through [[Iceberg.write]].
    */
  private[graft] def icebergOrdersWritten(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_pubw_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      graft.sources.Iceberg.write(s, p,
        ord.filter(col("o_custkey") % 2 === 0),
        partitionBy = Seq("o_orderpriority"))
      graft.sources.Iceberg.write(s, p,
        ord.filter(col("o_custkey") % 2 =!= 0))
      graft.sources.Iceberg.write(s, p,
        ord.filter(col("o_custkey") % 3 =!= 0), mode = "overwrite")
      ()
    }

  /** The PUBLIC-DELETE'd Iceberg table — the `iceberg_delete_dml`
    * fixture: public write, then two [[Iceberg.delete]] commits (the
    * second grows the first's deletion vectors).
    */
  private[graft] def icebergOrdersPubDeleted(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_pubdel_s1",
      Seq(s"$d/orders.parquet")) { p =>
      graft.sources.Iceberg.write(s, p, t(s, d, "orders"),
        partitionBy = Seq("o_orderpriority"))
      graft.sources.Iceberg.delete(s, p,
        col("o_custkey") % 7 === 0 &&
          col("o_orderpriority") === "5-LOW")
      graft.sources.Iceberg.delete(s, p, col("o_custkey") % 11 === 3)
      ()
    }

  /** The PUBLIC-UPDATE'd Iceberg table — the `iceberg_update_dml`
    * fixture: public write, a public DV delete, then a copy-on-write
    * update over the DV'd table (the rewrite materializes the DVs).
    */
  private[graft] def icebergOrdersPubUpdated(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_pubupd_s1",
      Seq(s"$d/orders.parquet")) { p =>
      graft.sources.Iceberg.write(s, p, t(s, d, "orders"),
        partitionBy = Seq("o_orderpriority"))
      graft.sources.Iceberg.delete(s, p, col("o_custkey") % 9 === 4)
      graft.sources.Iceberg.update(s, p,
        col("o_custkey") % 6 === 1 &&
          col("o_orderpriority") === "2-HIGH",
        Map("o_totalprice" -> (col("o_totalprice") + 750)))
      ()
    }

  /** The PUBLIC-MERGE'd Iceberg table — the `iceberg_merge_dml`
    * fixture: same shape as [[deltaLakeOrdersPubMerged]] on the
    * second format.
    */
  private[graft] def icebergOrdersPubMerged(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_pubmrg_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val tgt = t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      graft.sources.Iceberg.write(s, p, tgt)
      val upd = tgt.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
      val ins = tgt.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_orderkey", -col("o_orderkey"))
      graft.sources.Iceberg.merge(s, p, upd.unionByName(ins),
        Seq("o_orderkey"))
      ()
    }

  /** The CDF-DML Delta table — the `deltalake_cdf_dml` fixture: a
    * CDF-enabled table (created through the public writer's table
    * properties) whose public delete + update commits wrote change
    * files.
    */
  private[graft] def deltaLakeOrdersCdfDml(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_cdfdml_s1",
      Seq(s"$d/orders.parquet")) { p =>
      graft.sources.DeltaLake.write(s, p, t(s, d, "orders"),
        partitionBy = Seq("o_orderpriority"),
        properties = Map("delta.enableChangeDataFeed" -> "true"))
      graft.sources.DeltaLake.delete(s, p,
        col("o_custkey") % 7 === 0 &&
          col("o_orderpriority") === "5-LOW")
      graft.sources.DeltaLake.update(s, p,
        col("o_custkey") % 6 === 1 &&
          col("o_orderpriority") === "2-HIGH",
        Map("o_totalprice" -> (col("o_totalprice") + 750)))
      ()
    }

  /** The Z-ORDERED Delta table — the `deltalake_zorder` fixture: full
    * orders written by the public writer, then OPTIMIZE ZORDER on
    * (o_custkey, o_totalprice) into ~8 Z-range files per partition.
    */
  private[graft] def deltaLakeOrdersZordered(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_zord_s1",
      Seq(s"$d/orders.parquet")) { p =>
      graft.sources.DeltaLake.write(s, p, t(s, d, "orders"),
        partitionBy = Seq("o_orderpriority"))
      val bytes = graft.sources.Staging.parquetBytes(p,
        exclude = Set("_delta_log"))
      graft.sources.DeltaLake.compact(s, p,
        targetFileBytes = math.max(1L, bytes / 8),
        zorderBy = Seq("o_custkey", "o_totalprice"))
      ()
    }

  /** The RESTORED Delta table — the `deltalake_restore` fixture:
    * public write, a DV delete of a quarter of the customers, then
    * RESTORE to version 0 (content = the original orders).
    */
  private[graft] def deltaLakeOrdersRestored(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_rest_s1",
      Seq(s"$d/orders.parquet")) { p =>
      graft.sources.DeltaLake.write(s, p, t(s, d, "orders"),
        partitionBy = Seq("o_orderpriority"))
      graft.sources.DeltaLake.delete(s, p, col("o_custkey") % 4 === 0)
      graft.sources.DeltaLake.restore(s, p, 0L)
      ()
    }

  /** The ROLLED-BACK Iceberg table — the `iceberg_rollback` fixture:
    * two public appends, a DV delete, then rollback to the
    * pre-delete snapshot.
    */
  private[graft] def icebergOrdersRolledBack(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_rb_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      graft.sources.Iceberg.write(s, p,
        ord.filter(col("o_custkey") % 2 === 0))
      val s2 = graft.sources.Iceberg.write(s, p,
        ord.filter(col("o_custkey") % 2 =!= 0))
      graft.sources.Iceberg.delete(s, p, col("o_custkey") % 3 === 0)
      graft.sources.Iceberg.rollback(s, p, s2)
      ()
    }

  /** The Z-ORDERED Iceberg table — the `iceberg_zorder` fixture: the
    * second format's twin of [[deltaLakeOrdersZordered]].
    */
  private[graft] def icebergOrdersZordered(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_zord_s1",
      Seq(s"$d/orders.parquet")) { p =>
      graft.sources.Iceberg.write(s, p, t(s, d, "orders"),
        partitionBy = Seq("o_orderpriority"))
      val bytes = graft.sources.Staging.parquetBytes(s"$p/data")
      graft.sources.Iceberg.rewriteDataFiles(s, p,
        targetFileBytes = math.max(1L, bytes / 8),
        zorderBy = Seq("o_custkey", "o_totalprice"))
      ()
    }

  /** The COMPACTED Delta table — the `deltalake_compact` fixture:
    * four fragment commits partitioned by priority, a DV delete of
    * every 9th customer, then the public OPTIMIZE (fragments merge,
    * DV materializes).
    */
  private[graft] def deltaLakeOrdersCompacted(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_cmp_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      (0 until 4).foreach { k =>
        graft.sources.DeltaLake.stageCommit(s, p,
          ord.filter(col("o_orderkey") % 4 === k),
          Seq("o_orderpriority"), k.toLong)
      }
      graft.sources.DeltaLake.stageDvDeleteCommit(s, p,
        col("o_custkey") % 9 === 0, 4L)
      graft.sources.DeltaLake.compact(s, p)
      ()
    }

  /** The REWRITTEN Iceberg table — the `iceberg_rewrite` fixture:
    * four fragment appends, a v3 DV delete of every 9th customer,
    * then the public rewrite_data_files.
    */
  private[graft] def icebergOrdersRewritten(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_rw_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      (0 until 4).foreach { k =>
        graft.sources.Iceberg.stageAppend(s, p,
          ord.filter(col("o_orderkey") % 4 === k), Seq.empty)
      }
      graft.sources.Iceberg.stageDv(s, p, col("o_custkey") % 9 === 0)
      graft.sources.Iceberg.rewriteDataFiles(s, p)
      ()
    }

  /** The VACUUMED Delta table — the `deltalake_vacuum` fixture: two
    * appends, a COW delete (superseded files left on disk by the
    * rewrite), then VACUUM down to the current version.
    */
  private[graft] def deltaLakeOrdersVacuumed(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_vac_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val cut = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") < cut), Seq("o_orderpriority"), 0L)
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") >= cut), Seq("o_orderpriority"), 1L)
      graft.sources.DeltaLake.stageDeleteCommit(s, p,
        col("o_custkey") % 7 === 0 &&
          col("o_orderpriority") === "5-LOW", 2L)
      graft.sources.DeltaLake.vacuum(s, p, retainVersions = 1)
      ()
    }

  /** The EXPIRED Iceberg table — the `iceberg_expire` fixture: two
    * appends, a COW delete, then expire down to the current snapshot.
    */
  private[graft] def icebergOrdersExpired(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_exp_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") < c1), Seq.empty)
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq.empty)
      graft.sources.Iceberg.stageDelete(s, p,
        col("o_custkey") % 7 === 0 &&
          col("o_orderpriority") === "5-LOW")
      graft.sources.Iceberg.expireSnapshots(s, p, keepLast = 1)
      ()
    }

  /** The SHALLOW CLONE of [[deltaLakeOrders]] — the
    * `deltalake_shallow_clone` fixture: a zero-copy log referencing
    * the source's files absolutely, staged in its own fingerprinted
    * slot (the source path is content-addressed, so both re-stage
    * together whenever the inputs change).
    */
  private[graft] def deltaLakeOrdersCloned(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_clone_s1",
      Seq(s"$d/orders.parquet")) { p =>
      graft.sources.DeltaLake.stageShallowClone(s, p,
        deltaLakeOrders(s, d))
    }

  /** The staged table with a REAL row-level DELETE at version 2 (the
    * lakehouse rewrite shape: hit files removed, survivors re-added, all
    * `dataChange=true`) — the `delta_deltalake_delete` fixture. The
    * delete predicate is deterministic so the DuckDB oracle recomputes
    * the final membership from first principles.
    */
  private[graft] def deltaLakeOrdersDeleted(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_del_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"), 0L)
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"), 1L)
      graft.sources.DeltaLake.stageDeleteCommit(s, p,
        col("o_custkey") % 7 === 0 &&
          col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"), 2L)
    }

  /** The staged Delta table with a VARIANT column — the
    * `deltalake_variant` fixture: `v` holds a JSON document assembled
    * from each order's key/custkey/priority (parse_json → the binary
    * variant encoding on disk), committed under the table-features
    * protocol (minReaderVersion 3 + variantType). Two commits, the
    * usual 90/10 split.
    */
  private[graft] def deltaLakeOrdersVariant(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_var_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val doc = ord.select(col("o_orderkey"),
        org.apache.spark.sql.functions.parse_json(concat(
          lit("""{"cust":"""), col("o_custkey"),
          lit(""","priority":""""), col("o_orderpriority"),
          lit(""""}"""))).as("v"))
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.DeltaLake.stageCommit(s, p,
        doc.filter(col("o_orderkey") < c1), Seq.empty, 0L)
      graft.sources.DeltaLake.stageCommit(s, p,
        doc.filter(col("o_orderkey") >= c1), Seq.empty, 1L)
    }

  /** The staged table with an OPTIMIZE (compaction) at version 2 — the
    * `delta_deltalake_optimize` fixture: 90% base split over four
    * files, the 10% tail appended, then every live file rewritten into
    * one with `dataChange=false` on all actions (the exact shape
    * OPTIMIZE/Z-ORDER writers commit). Unpartitioned (the fixture
    * compactor's documented scope).
    */
  private[graft] def deltaLakeOrdersOptimized(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_opt_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") < c1).repartition(4), Seq.empty, 0L)
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq.empty, 1L)
      graft.sources.DeltaLake.stageCompactCommit(s, p, 2L)
    }

  /** The three-commit staged table for `delta_deltalake_skipping`:
    * commit 0 = customers with `o_custkey % 4 != 3` over the WHOLE key
    * range (so a key-range base view is non-empty), commits 1/2 = the
    * remaining customers below / at-or-above the 95% key threshold (so
    * the threshold filter stats-skips commit 1 entirely).
    */
  private[graft] def deltaLakeOrders3c(s: SparkSession, d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_3c_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c2 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 19L / 20L
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_custkey") % 4 =!= 3), Seq("o_orderpriority"), 0L)
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_custkey") % 4 === 3 && col("o_orderkey") < c2),
        Seq("o_orderpriority"), 1L)
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_custkey") % 4 === 3 && col("o_orderkey") >= c2),
        Seq("o_orderpriority"), 2L)
    }

  /** The staged two-snapshot Iceberg table the `iceberg_*` queries read:
    * same deterministic 90/10 key split as [[deltaLakeOrders]],
    * partitioned by `o_orderpriority`; snapshot ids are the 1-based
    * ordinals (1 = base, 2 = appended tail).
    */
  private[graft] def icebergOrders(s: SparkSession, d: String): String =
    // slot name versioned: _s3 slots carry parquet field ids
    graft.sources.Staging.stageOnce(d, "iceberg_orders_s3",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val cut = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") < cut), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") >= cut), Seq("o_orderpriority"))
      ()
    }

  /** The staged table with a mid-history COLUMN RENAME: snapshot 1 holds
    * the 90% base under the ORIGINAL `o_totalprice` name, then a
    * metadata-only rename to `price`, then the 10% tail appended under
    * the NEW name — one table whose data files disagree on the physical
    * column name, resolvable only by field id. The `iceberg_rename`
    * fixture.
    */
  private[graft] def icebergOrdersRenamed(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_ren_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val cut = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") < cut), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageRenameColumn(s, p,
        Map("o_totalprice" -> "price"))
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") >= cut)
          .withColumnRenamed("o_totalprice", "price"),
        Seq("o_orderpriority"))
      ()
    }

  /** The staged table with a row-level UPDATE at version 2 (hit files
    * rewritten with SET applied to matching rows) — the
    * `delta_deltalake_update` fixture.
    */
  private[graft] def deltaLakeOrdersUpdated(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_upd_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"), 0L)
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"), 1L)
      graft.sources.DeltaLake.stageUpdateCommit(s, p,
        col("o_custkey") % 6 === 0 &&
          col("o_orderpriority") === "4-NOT SPECIFIED",
        Map("o_totalprice" -> (col("o_totalprice") + 1000)), 2L)
    }

  /** The staged table with TWO deletion-vector commits — the
    * `deltalake_dv_scan` / `delta_deltalake_dv` fixture: the usual
    * two-commit 90/10 split, then a sidecar-DV delete at version 2 and
    * an inline-DV delete at version 3 (the second supersedes the
    * first's bitmaps on shared files by union). Deterministic
    * predicates so the DuckDB oracle recomputes final membership from
    * first principles.
    */
  private[graft] def deltaLakeOrdersDv(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_dv_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"), 0L)
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"), 1L)
      graft.sources.DeltaLake.stageDvDeleteCommit(s, p,
        col("o_custkey") % 9 === 0 &&
          col("o_orderpriority").isin("2-HIGH", "4-NOT SPECIFIED"), 2L)
      graft.sources.DeltaLake.stageDvDeleteCommit(s, p,
        col("o_custkey") % 9 === 4 && col("o_orderpriority") === "2-HIGH",
        3L, inline = true)
    }

  /** The staged table with a MERGE at version 2 (rewrite pairs for
    * matched rows + new-file adds in ONE commit) — the
    * `delta_deltalake_merge` fixture: matched = every 8th customer's
    * urgent orders (+500 price), inserted = key-remapped copies of
    * every 97th customer's rows. Both derivations deterministic for the
    * first-principles oracle.
    */
  private[graft] def deltaLakeOrdersMerged(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_mrg_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val maxKey = ord.agg(max(col("o_orderkey"))).head().getLong(0)
      val c1 = maxKey * 9L / 10L
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"), 0L)
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"), 1L)
      graft.sources.DeltaLake.stageMergeCommit(s, p,
        col("o_custkey") % 8 === 0 &&
          col("o_orderpriority") === "1-URGENT",
        Map("o_totalprice" -> (col("o_totalprice") + 500)),
        ord.filter(col("o_custkey") % 97 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + maxKey * 10L)
          .select(ord.columns.map(col): _*), 2L)
    }

  /** The staged table readable ONLY through a V2 CHECKPOINT — the
    * `deltalake_v2_checkpoint` fixture: the usual two-commit 90/10
    * split, a 3-sidecar v2 checkpoint at version 1, and the subsumed
    * JSON commits deleted.
    */
  private[graft] def deltaLakeOrdersV2Ckpt(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_v2c_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"), 0L)
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"), 1L)
      graft.sources.DeltaLake.stageCheckpointV2(s, p, 1L, sidecars = 3)
      Seq(0L, 1L).foreach { v =>
        new java.io.File(s"$p/_delta_log", f"$v%020d.json").delete()
      }
    }

  /** The staged table with a CHANGE-DATA-FEED UPDATE at version 2 (the
    * rewrite pair PLUS `cdc` actions naming pre/post-image change
    * files) — the `delta_deltalake_cdf` fixture.
    */
  private[graft] def deltaLakeOrdersCdf(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_cdf_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"), 0L)
      graft.sources.DeltaLake.stageCommit(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"), 1L)
      graft.sources.DeltaLake.stageUpdateCommit(s, p,
        col("o_custkey") % 9 === 2 &&
          col("o_orderpriority") === "3-MEDIUM",
        Map("o_totalprice" -> (col("o_totalprice") + 250)), 2L,
        cdf = true)
    }

  /** The COLUMN-MAPPED staged table with a mid-history RENAME — the
    * `deltalake_column_mapping` fixture: physical names `c_1…c_6`,
    * partitioned by priority (physical dirs `c_6=…`), the usual 90/10
    * append split, then `o_totalprice → o_price` at version 2
    * (metaData-only).
    */
  private[graft] def deltaLakeOrdersMapped(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_map_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val mapping = ord.columns.zipWithIndex
        .map { case (c, i) => c -> s"c_${i + 1}" }.toMap
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.DeltaLake.stageMappedCommit(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"), 0L,
        mapping)
      graft.sources.DeltaLake.stageMappedCommit(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"), 1L,
        mapping)
      graft.sources.DeltaLake.stageRenameCommit(s, p,
        Map("o_totalprice" -> "o_price"), 2L)
    }

  /** The ID-MODE column-mapped staged table — the `deltalake_id_mapping`
    * fixture: physical names `c_1…c_9` in the metadata, but the DATA
    * columns' on-disk parquet names deliberately DIFFER (`x_<n>`), the
    * non-Spark-writer shape the protocol allows in mode `id`; parquet
    * field ids carry the real identity. The usual 90/10 append split,
    * partitioned by priority.
    */
  private[graft] def deltaLakeOrdersIdMapped(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "deltalake_orders_idmap_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val mapping = ord.columns.zipWithIndex
        .map { case (c, i) => c -> s"c_${i + 1}" }.toMap
      val disk = ord.columns.zipWithIndex
        .filterNot(_._1 == "o_orderpriority")
        .map { case (c, i) => c -> s"x_${i + 1}" }.toMap
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.DeltaLake.stageMappedCommit(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"), 0L,
        mapping, mode = "id", diskNames = disk)
      graft.sources.DeltaLake.stageMappedCommit(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"), 1L,
        mapping, mode = "id", diskNames = disk)
    }

  /** The `days(ts)` HIDDEN-partitioned Iceberg events table — the
    * `iceberg_days_partition` fixture: two appends (90/10 on event_id),
    * each writing one file per day of the 30-day window; `ts` is
    * normalized to a real TIMESTAMP via the encoding-adaptive helper
    * before staging.
    */
  private[graft] def icebergEventsDays(s: SparkSession, d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_events_days_s2",
      Seq(s"$d/events.parquet")) { p =>
      val ev = t(s, d, "events")
      val tsed = ev.withColumn("ts", Tables.tsMicros(ev))
      graft.sources.Iceberg.stageAppend(s, p,
        tsed.filter(col("event_id") % 10 =!= 0).coalesce(1),
        Seq("days(ts)"))
      graft.sources.Iceberg.stageAppend(s, p,
        tsed.filter(col("event_id") % 10 === 0).coalesce(1),
        Seq("days(ts)"))
      ()
    }

  /** The spec-EVOLVED Iceberg events table — the
    * `iceberg_spec_evolution` fixture: the pre-Jan-16 era appended
    * UNPARTITIONED (spec 0, one file), then the rest under `days(ts)`
    * (spec 1 — becomes the default; one file per day).
    */
  private[graft] def icebergEventsSpecEvolved(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_events_specevo_s1",
      Seq(s"$d/events.parquet")) { p =>
      val ev = t(s, d, "events")
      val tsed = ev.withColumn("ts", Tables.tsMicros(ev))
      val pivot = lit(java.time.LocalDateTime.of(2024, 1, 16, 0, 0))
      graft.sources.Iceberg.stageAppend(s, p,
        tsed.filter(col("ts") < pivot).coalesce(1), Seq.empty)
      graft.sources.Iceberg.stageAppend(s, p,
        tsed.filter(col("ts") >= pivot).coalesce(1), Seq("days(ts)"))
      ()
    }

  /** The Iceberg table with an EQUALITY DELETE then an UPSERT-style
    * re-insert — the `iceberg_eq_delete` fixture: two appends (seq
    * 1/2), an equality delete on every 13th customer's key (seq 3),
    * then a re-insert of the even-keyed half of those orders at +100
    * price (seq 4, surviving the delete by sequence order).
    */
  private[graft] def icebergOrdersEqDeleted(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_eq_s2",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageEqDelete(s, p,
        ord.filter(col("o_custkey") % 13 === 0)
          .select("o_custkey").distinct())
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_custkey") % 13 === 0 &&
            col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 100),
        Seq("o_orderpriority"))
      ()
    }

  /** The Iceberg table with TWO MERGE-ON-READ positional-delete
    * snapshots — the `iceberg_mor_scan` fixture: the usual two-append
    * 90/10 split, then accumulating delete files at snapshots 3 and 4.
    * Deterministic predicates for the first-principles oracle.
    */
  private[graft] def icebergOrdersMor(s: SparkSession, d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_mor_s2",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageMorDelete(s, p,
        col("o_custkey") % 11 === 0 &&
          col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      graft.sources.Iceberg.stageMorDelete(s, p,
        col("o_custkey") % 11 === 7 && col("o_orderpriority") === "5-LOW")
      ()
    }

  /** The FORMAT-VERSION 3 Iceberg table whose row-level deletes are
    * DELETION VECTORS in Puffin files — the `iceberg_dv_scan` /
    * `delta_iceberg_dv` fixture: the usual two-append 90/10 split,
    * then a DV snapshot at 3 and a second at 4 that REWRITES the
    * touched files' vectors (each new DV carries its file's complete
    * dead set; the prior blob is removed in the same commit).
    * Deterministic predicates for the first-principles oracle.
    */
  private[graft] def icebergOrdersDv(s: SparkSession, d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_dv_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageDv(s, p,
        col("o_custkey") % 11 === 0 &&
          col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      graft.sources.Iceberg.stageDv(s, p,
        col("o_custkey") % 11 === 7 && col("o_orderpriority") === "5-LOW")
      ()
    }

  /** The TAGGED Iceberg table — the `iceberg_tag_read` fixture: both
    * orders halves appended, a tag pinned at the complete snapshot 2,
    * then a third append (duplicate price-bumped rows) and a COW
    * delete touching every era — the tag must keep reading exactly
    * the original orders through both later commits.
    */
  private[graft] def icebergOrdersTagged(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_tag_s2",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") < c1), Seq.empty)
      val s2 = graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq.empty)
      graft.sources.Iceberg.stageRef(p, "audit-v1", s2)
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_custkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 999),
        Seq.empty)
      // hits rows in the tagged eras AND the later append — the tag
      // must be immune to all of it
      graft.sources.Iceberg.stageDelete(s, p,
        col("o_custkey") % 7 === 0)
      ()
    }

  /** The MIGRATED Iceberg table — the `iceberg_name_mapping` fixture:
    * the 90% split lands as ID-LESS data files under historic Hive
    * column names with `schema.name-mapping.default` registered (the
    * `migrate`/`add_files` shape), the 10% tail as a modern
    * id-stamped append — two eras, one table.
    */
  private[graft] def icebergOrdersMigrated(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_nm_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.Iceberg.stageIdlessAppend(s, p,
        ord.filter(col("o_orderkey") < c1),
        diskNames = ord.columns.map(c =>
          c -> s"hive_${c.stripPrefix("o_")}").toMap)
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq.empty)
      ()
    }

  /** The MoR table whose maintenance window holds a DELETE-FILE
    * COMPACTION and a new delete — the `delta_iceberg_compact`
    * fixture: the usual two-append 90/10 split, accumulating delete
    * files at snapshots 3 and 4, the compaction at 5 (both files
    * merged into one — [[graft.sources.Iceberg.stageCompactDeletes]]),
    * and a THIRD delete at 6. Deterministic predicates for the
    * first-principles oracle.
    */
  private[graft] def icebergOrdersMorCompacted(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_cmp_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageMorDelete(s, p,
        col("o_custkey") % 11 === 0 &&
          col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      graft.sources.Iceberg.stageMorDelete(s, p,
        col("o_custkey") % 11 === 7 && col("o_orderpriority") === "5-LOW")
      graft.sources.Iceberg.stageCompactDeletes(s, p)
      graft.sources.Iceberg.stageMorDelete(s, p,
        col("o_custkey") % 11 === 3 &&
          col("o_orderpriority") === "3-MEDIUM")
      ()
    }

  /** The MoR table whose maintenance window UNDELETES — the
    * `delta_iceberg_undelete` fixture: two appends, delete files at
    * snapshots 3 and 4, then snapshot 5 REMOVES the second delete file
    * without replacement ([[graft.sources.Iceberg.stageUndelete]]), so
    * its rows come back to life.
    */
  private[graft] def icebergOrdersUndeleted(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_und_s1",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageMorDelete(s, p,
        col("o_custkey") % 11 === 0 &&
          col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      graft.sources.Iceberg.stageMorDelete(s, p,
        col("o_custkey") % 11 === 7 && col("o_orderpriority") === "5-LOW")
      graft.sources.Iceberg.stageUndelete(s, p)
      ()
    }

  /** The Iceberg table with a COPY-ON-WRITE DELETE at snapshot 3 — the
    * `delta_iceberg_delete` fixture (deterministic predicate for the
    * first-principles oracle).
    */
  private[graft] def icebergOrdersDeleted(s: SparkSession,
      d: String): String =
    graft.sources.Staging.stageOnce(d, "iceberg_orders_del_s2",
      Seq(s"$d/orders.parquet")) { p =>
      val ord = t(s, d, "orders")
      val c1 = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") < c1), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageAppend(s, p,
        ord.filter(col("o_orderkey") >= c1), Seq("o_orderpriority"))
      graft.sources.Iceberg.stageDelete(s, p,
        col("o_custkey") % 5 === 0 &&
          col("o_orderpriority").isin("2-HIGH", "5-LOW"))
      ()
    }

  def byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
}
