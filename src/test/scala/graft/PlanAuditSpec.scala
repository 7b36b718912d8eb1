package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic
import org.scalatest.funsuite.AnyFunSuite

/** Pins the perf-critical physical-plan shapes (the `.explain` audits the
  * builder brief asks for, as assertions): pushdown reaching parquet,
  * broadcast join selection, no CodegenFallback in similarity hot paths,
  * single-scan star joins. A regression here is a scale bug even when
  * results stay correct.
  */
class PlanAuditSpec extends AnyFunSuite with SparkFixture {

  // AQE's query-stage wrappers hide scan nodes from collectLeaves;
  // audits that read scan metrics run with it off (same final plan
  // semantics, statically planned)
  private def withoutAqe[A](body: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan.toString
  }

  test("delta_scan: range delta predicate is pushed to the parquet scan") {
    val p = planOf("delta_scan")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"range pushdown missing:\n$p")
  }

  test("delta_union: delta predicate pushed in every union arm") {
    val p = planOf("delta_union")
    val pushes = "GreaterThanOrEqual\\(o_orderdate".r.findAllIn(p).size
    assert(pushes >= 2, s"expected pushdown in both arms, got $pushes:\n$p")
  }

  test("delta_join: 3-arm union of broadcast joins") {
    val p = planOf("delta_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3,
      s"expected 3 broadcast arms:\n$p")
    assert(p.contains("Union"), s"union missing:\n$p")
  }

  test("delta_agg_join: broadcast keyed lookups, δ pruning, no product") {
    // the signed merge rung's scale properties: the affected-key view
    // lookup and the δ-keys restriction plan as BROADCAST semi joins (the
    // delta-group set is small by design), every δ arm's range predicate
    // reaches the parquet scan, and nothing degenerates to a product
    val p = planOf("delta_agg_join")
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p).nonEmpty,
      s"affected-key lookup must broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"delta pruning missing from the orders scans:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"product join leaked into the signed agg plan:\n$p")
  }

  test("delta_static_dim: one pruned fact scan, empty dim arms pruned away") {
    // δ(fact ⋈ static dim) must reduce to δfact ⋈ dim: the dim's empty
    // delta arm (and the δ×δ arm) are pruned by PropagateEmptyRelation,
    // leaving exactly ONE parquet scan carrying the range predicate
    val p = planOf("delta_static_dim")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one fact scan (empty arms pruned):\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"delta pruning missing from the fact scan:\n$p")
    assert(!p.contains("Union"),
      s"the 3-arm union must collapse to the single surviving arm:\n$p")
  }

  test("delta_decontaminate: two corpus scans only, empty bench-δ arms pruned") {
    // the maintained gate's scale property: the bench shingle set is a
    // materialized static leaf (empty delta), so δ(train ⋈ bench) keeps
    // exactly TWO parquet scans — the base view's and the δ arm's — and
    // the base×δbench / δ×δ arms prune away; nothing degenerates to a
    // product and the corpus is never re-shingled in the cycle
    val p = planOf("delta_decontaminate")
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"expected exactly two corpus scans (base view + delta arm):\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"product join leaked into the maintained gate:\n$p")
  }

  test("dedup_passage: digest-keyed passes, no product join") {
    // passage dedup must stay two linear corpus passes joined by digest
    // equality — any product join here is corpus-quadratic at scale
    val p = planOf("dedup_passage")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"product join leaked into passage dedup:\n$p")
  }

  test("delta_two_level: weighted partial, broadcast lookups, no product") {
    // the two-level rung composes the agg-join signed frames under ONE
    // weighted re-aggregation: the affected-group view probe must
    // broadcast, the orders δ arms must carry the range predicate at the
    // scans, and no term may degenerate to a product
    val p = planOf("delta_two_level")
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p).nonEmpty,
      s"affected-group lookup must broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"delta pruning missing from the orders scans:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"product join leaked into the two-level plan:\n$p")
  }

  test("delta_ann_topk: maintenance arm scores only the pruned δ corpus") {
    // the monoid-merge design: the δ-side brute scorer's corpus scan must
    // carry the registered delta predicate (vec_id % 10 = 0 is not a
    // parquet-pushable filter shape, but the Filter sits directly on the
    // scan), and the stored-view side scans the base partition — no arm
    // scores base × base and δ × base together (that would be a full
    // re-rank, not maintenance)
    val p = planOf("delta_ann_topk")
    assert(p.contains("vec_dot_scaled"), s"quantized scorer missing:\n$p")
    assert("% 10\\)".r.findAllIn(p).nonEmpty,
      s"delta split predicate missing from the maintenance arm:\n$p")
  }

  test("multi_join: star join broadcasts all three dims, scans fact once") {
    val p = planOf("multi_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3,
      s"expected 3 broadcast dim joins:\n$p")
    assert("lineitem".r.findAllIn(p).size == 1,
      s"fact table must be scanned exactly once:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("similarity paths contain no CodegenFallback lambdas") {
    for (q <- Seq("similarity_topk", "ann_lsh", "neardup_embedding")) {
      val p = planOf(q)
      assert(!p.contains("zip_with") && !p.contains("aggregate(lambda"),
        s"$q fell back to interpreted HOFs:\n$p")
      assert(p.contains("vec_dot"), s"$q lost the native kernel:\n$p")
    }
  }

  test("PQ family: native encode kernel + no interpreted HOFs or UDFs " +
      "(r17)") {
    for (q <- Seq("ann_pq", "ann_ivfpq", "delta_pq_topk")) {
      val p = planOf(q)
      // encoding = per-subspace vec_near_cells_scaled; scoring = the
      // scaled native dot — both codegen'd Catalyst expressions
      assert(p.contains("vec_near_cells_scaled"),
        s"$q lost the native PQ encode kernel:\n$p")
      assert(p.contains("vec_dot_scaled"),
        s"$q lost the native ADC kernel:\n$p")
      assert(!p.contains("zip_with") && !p.contains("aggregate(lambda"),
        s"$q fell back to interpreted HOFs:\n$p")
      assert(!p.toLowerCase.contains("batchevalpython") &&
        !p.contains("UDF("), s"$q contains a UDF:\n$p")
    }
  }

  test("ann_ivf: codegen'd quantizer kernel, no MLlib prediction UDF") {
    val p = planOf("ann_ivf")
    assert(p.contains("vec_near_cells_scaled"),
      s"native IVF kernel missing:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("UDF("),
      s"ann_ivf regressed to a prediction UDF:\n$p")
  }

  test("dedup_minhash: shingling is shuffle-free up to the signature agg") {
    // trigram generation must stay partition-local (WordShingles + explode):
    // no token-level Window, and the ONLY hash exchange in the whole query
    // is the per-document signature aggregation
    val p = planOf("dedup_minhash")
    assert(!p.contains("Window"), s"token-level window shuffle came back:\n$p")
    assert(p.contains("word_shingles"), s"native shingle kernel missing:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly the signature-agg exchange:\n$p")
  }

  test("base-snapshot arm still reaches parquet pushdown with the null arm") {
    // base arm = NOT(pred) OR ISNULL(pred): the optimizer must simplify the
    // IsNull-of-comparison and push Or(LessThan, IsNull) to the scan —
    // otherwise every mixed δ-join arm full-scans the base table at 100 TB
    val df = graft.ivm.Ivm.baseOf(
      graft.engine.Tables(spark, sfDir, "orders").select("o_orderkey", "o_orderdate"))
    val p = df.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan.toString
    assert(p.contains("LessThan(o_orderdate") && p.contains("IsNull(o_orderdate"),
      s"base-arm pushdown missing:\n$p")
  }

  test("events_asof: merge-form as-of join shuffles exactly once by key") {
    // the carry-forward window is the ONLY hash exchange — the as-of match
    // must never become a per-row range probe or an interval cross join
    val p = planOf("events_asof")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected the single by-key exchange:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"as-of join degenerated to a product:\n$p")
  }

  test("no declared query degenerates to an unintended product join") {
    // global scale-safety net: the ONLY plans allowed to contain a
    // cartesian/nested-loop product are the declared cross joins and the
    // deliberately-broadcast brute-force similarity baseline
    val expectedProducts = Set(
      "cross_join", "delta_cross_join",     // declared cross joins
      "similarity_topk",                    // broadcast query side × corpus, by design
      "delta_ann_topk",                     // broadcast query side × pruned δ corpus
      "ann_pq",                             // broadcast query side × decoded corpus (ADC)
      "delta_pq_topk",                      // broadcast query side × base/δ decoded corpus
      "scalar_subquery")                    // broadcast 1-row aggregate
    for (name <- SparkEntry.queries.keys.toSeq.sorted
         if !expectedProducts.contains(name)) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name contains a product join:\n$p")
    }
  }

  test("delta_keyscoped: affected keys broadcast, delta filter pushed") {
    // audited pre-checkpoint (the declared query pins correctness; this
    // pins the SCALE shape): both window recomputes must semi-join against
    // a BROADCAST affected-key set, and the key set's scan must push the
    // delta range to parquet — that pruning is what makes the rung cheap
    import org.apache.spark.sql.functions.{col, sum => fsum}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val q = (df: org.apache.spark.sql.DataFrame) => {
      val w = Window.partitionBy("user_id").orderBy("value", "event_id")
      df.select(col("user_id"), col("event_id"),
        fsum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("running"))
    }
    val ev = graft.engine.Tables(spark, sfDir, "events")
      .select("user_id", "event_id", "ts", "value")
    val sd = graft.ivm.Ivm.deltaKeyScoped(q, ev, Seq("user_id"))
    val p = sd.inserts.asInstanceOf[classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    // an AQE plan string prints current + initial plan, so count >= 2
    assert("BroadcastHashJoin .*LeftSemi".r.findAllIn(p).size >= 2,
      s"expected both restrictions as broadcast semi joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"restriction must not shuffle the corpus side:\n$p")
    assert(p.contains("GreaterThanOrEqual(ts,"),
      s"delta range must reach the affected-key scan's PushedFilters:\n$p")
  }

  test("range_join: bin-bucketed interval join stays an equi-key join") {
    // the BETWEEN theta join has no equality key and would plan as a
    // nested-loop product; binning must restore a hash-joinable key
    val p = planOf("range_join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"interval join lost its equi-key form:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"interval join degenerated to a product:\n$p")
  }

  test("keywords: vocabulary df table broadcasts, no corpus-side SMJ") {
    val p = planOf("keywords")
    assert(p.contains("BroadcastHashJoin"), s"df join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$p")
  }

  test("projection: scan reads only the projected columns") {
    val p = planOf("projection")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"),
      s"column pruning failed:\n$p")
  }

  test("filter: predicates are pushed to the lineitem scan") {
    // PushedFilters prints truncated; DataFilters carries the full list
    val p = planOf("filter")
    assert(p.contains("GreaterThanOrEqual(l_quantity,30.0)") &&
      p.contains("= R)"),
      s"filter pushdown missing:\n$p")
  }

  test("sort_limit plans as TakeOrderedAndProject (no full sort)") {
    val p = planOf("sort_limit")
    assert(p.contains("TakeOrderedAndProject"), s"top-k plan missing:\n$p")
  }

  test("embedding_centroids: vector sum is partially aggregated map-side") {
    // the exchange must carry |labels| dim-sized long buffers, not corpus
    // rows: a partial vec_sum_scaled below the shuffle is the whole point
    // of the TypedImperativeAggregate (vs posexplode's dim× amplification)
    val p = planOf("embedding_centroids")
    assert(p.contains("partial_vec_sum_scaled"),
      s"map-side partial aggregation missing:\n$p")
    // explain prints parents first: the posexplode Generate must sit ABOVE
    // (print before) the aggregate, i.e. explode the |labels|-row result,
    // never the corpus
    assert(p.indexOf("Generate") < p.indexOf("partial_vec_sum_scaled"),
      s"explode must run on the aggregated result, not the corpus:\n$p")
  }

  test("delta_survivors: stored view remaps via broadcast, never shuffled") {
    // the cycle's final remap joins the (corpus-sized) stored label frame
    // against the (|new edges|-sized) micro-CC labels: every join in the
    // plan must build a broadcast side — a SortMergeJoin here would
    // shuffle the whole survivor view once per maintenance cycle
    val p = planOf("delta_survivors")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast remap:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"stored view shuffled in the remap path:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"product join leaked into the survivor remap:\n$p")
  }

  test("pii_scrub: one scan, codegen'd regex projection, sort-only shuffle") {
    // the scrub is a single projection over a single corpus scan; the only
    // exchanges are the deliberate Par.spread round-robin (fan the
    // regex-heavy rows over cores when the input has few files) and the
    // declared query's total-order range sort — a HASH exchange (join or
    // aggregate shuffle) or a fallback out of codegen would break the
    // embarrassingly parallel shape that makes redaction free at 100 TB
    val p = planOf("pii_scrub")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one events scan:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected keyed shuffle in a pure projection:\n$p")
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1,
      s"more than the final total-order sort:\n$p")
    assert(!p.contains("CodegenFallback"),
      s"regex projection fell out of codegen:\n$p")
  }

  test("join_salted: salt spreads the fact side, result plan stays keyed") {
    // the salted join must remain a hash equi-join on (key, salt) — no
    // product — and the replicated small side must come from ONE part scan
    val p = planOf("join_salted")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"salting degenerated to a product join:\n$p")
    assert("part.parquet".r.findAllIn(p).size <= 1,
      s"small side must be scanned once and replicated by explode:\n$p")
  }

  test("delta_lsh_candidates: no arm re-joins base x base") {
    // the incremental candidate plan is the 3-arm algebraic expansion —
    // every band join has a DELTA side; the corpus-quadratic base×base
    // join must appear in no arm (and no LeftAnti fallback to the generic
    // δ∖base distinct interception, which would recompute it)
    val p = planOf("delta_lsh_candidates")
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(p).size
    assert(joins == 3,
      s"expected exactly the 3 delta-involving band-join arms, got $joins:\n$p")
    assert(!p.contains("LeftAnti"),
      s"generic distinct interception (base recompute) came back:\n$p")
    // every arm reads the pinned signature view; none re-runs the shingle
    // kernel (dedup_minhash audits the kernel's own plan)
    assert(p.contains("Scan ExistingRDD") && !p.contains("word_shingles"),
      s"band-join arms must read the pinned signature view:\n$p")
  }

  test("events_orc: the filter reaches the ORC scan as a pushed filter") {
    // the point of the ORC source row (§2N N4): unlike CSV/JSON, the
    // columnar reader takes predicates to stripe/row-group stats — the
    // value filter must appear as a pushed filter on the scan, not as a
    // post-scan Filter only
    val p = planOf("events_orc")
    assert(p.contains("Scan orc"), s"expected an ORC scan:\n$p")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(value".r
      .findFirstIn(p).nonEmpty,
      s"value filter must be pushed to the ORC reader:\n$p")
  }

  test("deltalake: partition predicate prunes log groups before any file opens") {
    // r9 shape: the snapshot is ONE FileSourceScanExec over the
    // log-backed FileIndex, and a partition predicate reaches it as a
    // PartitionFilters entry (not a per-group constant fold) — on the
    // real staged table, not just the fixture
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.functions.col
    val dir = graft.engine.Queries.deltaLakeOrders(spark, sfDir)
    val df = graft.sources.DeltaLake.snapshot(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    val p = df.asInstanceOf[classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one scan over the log-backed index:\n$p")
    assert("PartitionFilters: \\[[^\\]]*o_orderpriority".r
      .findFirstIn(p).nonEmpty,
      s"partition predicate must reach the scan as a PartitionFilters entry:\n$p")
  }

  test("deltalake: plan stays one scan at high partition cardinality, runtime-pruned") {
    // the r8 per-partition-group union grew a scan arm per partition —
    // plan-linear in partition cardinality. The log-backed FileIndex
    // must plan ONE scan for a 60-partition table and actually open
    // only the matching partition's files (numFiles metric after run).
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dl_manyparts").toFile
    dir.deleteOnExit()
    val df = spark.range(0L, 600L).toDF("id")
      .withColumn("p", (col("id") % 60).cast("long"))
      .repartition(col("p"))
    graft.sources.DeltaLake.stageCommit(spark, dir.getAbsolutePath, df,
      Seq("p"), 0L)
    val snap = graft.sources.DeltaLake
      .snapshot(spark, dir.getAbsolutePath)
    assert(snap.inputFiles.length >= 60, "fixture: one file per partition")
    val q = snap.filter(col("p") === 7L)
    val qe = q.asInstanceOf[classic.Dataset[_]].queryExecution
    val p = qe.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"one scan regardless of partition count:\n$p")
    assert(q.collect().map(_.getLong(0)).toSet ==
      (0L until 600L).filter(_ % 60 == 7).toSet)
    // runtime file pruning: only the p=7 partition's files were opened
    val scan = qe.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles >= 1 && numFiles <= 2,
      s"expected ~1 of 60 partition files planned, got $numFiles")
  }

  test("deltalake_skipping: stats drop the pre-cut files from the plan") {
    // the declared query's range predicate must plan ONLY the commit-1
    // (appended-tail) files: every commit-0 file's max key sits below
    // the cut. inputFiles is the planned file set.
    import org.apache.spark.sql.functions.{col, max}
    val dir = graft.engine.Queries.deltaLakeOrders(spark, sfDir)
    val cut = graft.engine.Tables(spark, sfDir, "orders")
      .agg(max(col("o_orderkey"))).head().getLong(0) * 9L / 10L
    val all = graft.sources.DeltaLake.snapshot(spark, dir)
      .inputFiles.length
    val kept = graft.sources.DeltaLake
      .snapshotWhere(spark, dir, col("o_orderkey") >= cut)
      .inputFiles.length
    assert(kept < all,
      s"stats skipping planned $kept of $all files — nothing was skipped")
  }

  test("delta_deltalake_skipping: version cut and stats skipping compose " +
      "on the δ arm's single scan") {
    // the r9 composition query's δ partial must plan ONE scan carrying
    // BOTH log-level predicates — the version cut (a _metadata.file_name
    // complement, pruning commit-0 files) and the view's key-range
    // filter (stats-skipping the commit-1 files) — so only commit-2
    // files are actually opened (numFiles metric after execution).
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val dir = graft.engine.Queries.deltaLakeOrders3c(spark, sfDir)
    val c2 = graft.engine.Tables(spark, sfDir, "orders")
      .agg(max(col("o_orderkey"))).head().getLong(0) * 19L / 20L
    graft.ivm.DeltaLakeSnapshots.track(spark, "dl3c_audit", dir,
      at = Some(0L))
    graft.ivm.DeltaLakeSnapshots.view(spark, "dl3c_audit")
    val q = spark.table("dl3c_audit")
      .filter(col("o_orderkey") >= c2)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
    // AQE off for the audit: its query-stage wrappers hide the scan
    // node from collectLeaves (plan semantics are unchanged)
    val partial = withoutAqe {
      val f = graft.ivm.IvmAgg.deltaPartial(q).partial
      f.collect()
      f
    }
    val qe = partial.asInstanceOf[classic.Dataset[_]].queryExecution
    val p = qe.executedPlan.toString
    val scans = qe.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"δ arm must be one scan over the log-backed index:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderkey"),
      s"key-range predicate must reach the δ arm's scan as a pushed filter:\n$p")
    assert(p.contains("file_name"),
      s"version-cut predicate must reach the δ arm's scan:\n$p")
    val scan = scans.head
    val numFiles = scan.metrics("numFiles").value
    val dl = graft.sources.DeltaLake
    val f01 = dl.snapshot(spark, dir, Some(1L)).inputFiles.toSet
    val all = dl.snapshot(spark, dir, Some(2L)).inputFiles.toSet
    val f2 = all -- f01
    assert(f2.nonEmpty, "fixture: commit 2 must add files")
    assert(numFiles >= 1 && numFiles <= f2.size,
      s"δ arm must open only commit-2 files: numFiles=$numFiles, " +
        s"|commit2|=${f2.size}, |live|=${all.size}")
  }

  test("delta_iceberg: the version-cut predicate prunes pre-cut files at " +
      "the index (shared file-constant pruning)") {
    // the file_name NOT IN cut is evaluated per file inside LakeScan for
    // EVERY log-backed format: the Iceberg δ arm must open only the
    // post-cut snapshot's files
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.functions.col
    val dir = graft.engine.Queries.icebergOrders(spark, sfDir)
    graft.ivm.IcebergSnapshots.track(spark, "ice_audit", dir, at = Some(1L))
    graft.ivm.IcebergSnapshots.view(spark, "ice_audit")
    val q = spark.table("ice_audit")
      .select(col("o_orderkey"), col("o_custkey"))
    val d = withoutAqe {
      val f = graft.ivm.Ivm.delta(q)
      f.collect()
      f
    }
    val qe = d.asInstanceOf[classic.Dataset[_]].queryExecution
    val scan = qe.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    val numFiles = scan.metrics("numFiles").value
    val s1 = graft.sources.Iceberg.liveFileNames(spark, dir, 1L).size
    val s2 = graft.sources.Iceberg.liveFileNames(spark, dir, 2L).size
    assert(s2 > s1, "fixture: snapshot 2 must add files")
    assert(numFiles == (s2 - s1).toLong,
      s"δ arm must open only snapshot-2 files: numFiles=$numFiles, " +
        s"|snap1|=$s1, |snap2|=$s2")
  }

  test("join_bucketed: co-located merge join, no exchange under the join") {
    // the layout demonstration: both scans read the staged bucketed
    // tables (Bucketed: true) and the merge join consumes them with NO
    // shuffle — the only exchanges in the whole plan are the post-join
    // aggregate's and the final sort's. A third exchange means the
    // bucket metadata was lost (e.g. the session read raw parquet
    // instead of the registered table) and the fact side re-shuffles on
    // every join at scale.
    val p = planOf("join_bucketed")
    assert(p.contains("SortMergeJoin"), s"merge join missing:\n$p")
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      s"both sides must scan as bucketed tables:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"expected only the aggregate + sort exchanges:\n$p")
  }

  test("deltalake_dv_scan: one scan, codegen'd DV anti-filter, no join") {
    val p = planOf("deltalake_dv_scan")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"a DV snapshot must stay ONE scan:\n$p")
    assert(p.contains("DvKeep") || p.contains("dvLookup") ||
      !p.contains("Join"),
      s"DV application must be a filter, not a join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"no join may appear in a DV snapshot read:\n$p")
  }

  test("iceberg_mor_scan: positional deletes apply as BROADCAST anti-join") {
    val p = planOf("iceberg_mor_scan")
    assert(p.contains("LeftAnti"),
      s"MoR subtraction must be an anti-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"the delete side must broadcast (it is metadata-sized):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the data side must never shuffle for the MoR subtract:\n$p")
  }

  test("iceberg_eq_delete: sequence-scoped anti-join, broadcast only") {
    val p = planOf("iceberg_eq_delete")
    assert(p.contains("LeftAnti"), s"equality subtract is an anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"equality deletes are metadata-sized — no data shuffle:\n$p")
  }

  test("deltalake_column_mapping: logical filter prunes physical partitions") {
    import org.apache.spark.sql.functions.col
    // a filter on the LOGICAL partition column must reach the scan as a
    // physical-name PartitionFilters entry through the alias projection
    val dir = graft.engine.Queries.deltaLakeOrdersMapped(spark, sfDir)
    val q = graft.sources.DeltaLake.snapshot(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    val plan = q.asInstanceOf[classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*c_".r.findFirstIn(plan).nonEmpty,
      s"logical partition filter must prune physical partitions:\n$plan")
    assert(q.collect().nonEmpty)
  }

  test("registered reader + catalog reads: filters PUSH through the " +
      "analyzer splice to the parquet scan (r13 — the splice's alias " +
      "Project must collapse, never fence pushdown)") {
    import org.apache.spark.sql.functions.col
    // reader API: a data filter must land in PushedFilters
    val dir = graft.engine.Queries.deltaLakeOrders(spark, sfDir)
    val viaReader = spark.read.format("graft-deltalake").load(dir)
      .filter(col("o_orderkey") > 100L).select("o_orderkey")
    val p1 = viaReader.asInstanceOf[classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(o_orderkey"
      .r.findFirstIn(p1).nonEmpty,
      s"reader-API filter did not reach the scan:\n$p1")
    assert(!p1.contains("Scan ExistingRDD"),
      s"reader API fell back to the V1 row scan:\n$p1")
    // catalog read: same pin through the V2 splice
    val wh = graft.engine.Queries.catalogWarehouse(spark, sfDir)
    spark.conf.set("spark.sql.catalog.gcat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val viaCatalog = spark.sql(
      "SELECT o_orderkey FROM gcat.db.orders WHERE o_orderkey > 100")
    val p2 = viaCatalog.asInstanceOf[classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(o_orderkey"
      .r.findFirstIn(p2).nonEmpty,
      s"catalog filter did not reach the scan:\n$p2")
    assert(viaReader.count() == viaCatalog.count())
  }
}
