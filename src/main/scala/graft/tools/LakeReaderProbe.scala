package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe for the lakehouse readers (dev tool, NOT part of the
  * declared surface) — the r9 regression harness for the log-backed
  * single-scan snapshot: stages a ~100-partition / ~1k-file Delta table
  * and a range-clustered unpartitioned one from sf orders, then
  * measures (a) log-fold + plan time vs file count (the r8
  * per-partition-union plan grew linearly in partition cardinality —
  * this pins the fix stays O(1)-ish), (b) partition-pruning
  * effectiveness (files planned / files live for a one-partition
  * predicate), (c) stats-skipping effectiveness on a clustered layout
  * (files planned for a 1% key range), and the same fold+plan axis for
  * the Iceberg reader.
  *
  * Usage: runMain graft.tools.LakeReaderProbe [sfDir]
  */
object LakeReaderProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.Tables.init(spark)
    val ord = graft.engine.Tables(spark, dir, "orders")
    val dl = graft.sources.DeltaLake

    def ms(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan.toString

    // ~100 partitions x ~10 writer tasks ≈ 1k files, one commit
    val wide = graft.sources.Staging.stageOnce(dir, "probe_delta_1k",
      Seq(s"$dir/orders.parquet")) { p =>
      dl.stageCommit(spark, p,
        ord.withColumn("pk", (col("o_orderkey") % 100)).repartition(10),
        Seq("pk"), 0L)
    }
    val nFiles = dl.snapshot(spark, wide).inputFiles.length
    val nParts = 100
    val cold = ms(planOf(dl.snapshot(spark, wide)))
    val warm = ms(planOf(dl.snapshot(spark, wide)))
    println(f"delta fold+plan ($nFiles%d files, $nParts%d parts)  " +
      f"cold $cold%7.1f ms   warm $warm%7.1f ms")

    // partition pruning: snapshotWhere prunes by the log's partition
    // values driver-side — planned files for a one-partition predicate
    val pruned = dl.snapshotWhere(spark, wide, col("pk") === 7)
      .inputFiles.length
    println(f"delta partition prune      planned $pruned%4d of $nFiles%d " +
      "files (pk = 7)")

    // stats skipping on a range-clustered unpartitioned layout: 200
    // files with disjoint key ranges, a 1%% key-range predicate
    val clustered = graft.sources.Staging.stageOnce(dir, "probe_delta_rng",
      Seq(s"$dir/orders.parquet")) { p =>
      dl.stageCommit(spark, p,
        ord.repartitionByRange(200, col("o_orderkey")), Seq.empty, 0L)
    }
    val total = dl.snapshot(spark, clustered).inputFiles.length
    val maxKey = ord.agg(max(col("o_orderkey"))).head().getLong(0)
    val lo = maxKey / 2
    val hi = lo + maxKey / 100
    val kept = dl.snapshotWhere(spark, clustered,
      col("o_orderkey") >= lo && col("o_orderkey") < hi)
      .inputFiles.length
    println(f"delta stats skip (1%% key range on clustered layout)  " +
      f"planned $kept%3d of $total%d files")

    // PUBLIC DML locality at table scale: on a fresh 200-file
    // range-clustered table, a 1% key-range DV DELETE must stamp DVs
    // on only the intersecting files (the stats-pruned candidates
    // bound the matching job — at 100 TB the delete's scan is the key
    // range's files, never the table), and a single-key UPDATE must
    // rewrite exactly one file. Fresh temp dir: public DML mutates the
    // table, so a shared staging slot would drift run to run.
    {
      val dml = java.nio.file.Files
        .createTempDirectory("graft_probe_dml").toFile.getAbsolutePath
      dl.write(spark, dml,
        ord.repartitionByRange(200, col("o_orderkey")))
      val dTotal = dl.snapshot(spark, dml).inputFiles.length
      val tDel = ms(dl.delete(spark, dml,
        col("o_orderkey") >= lo && col("o_orderkey") < hi))
      val c1 = java.nio.file.Files.readString(new java.io.File(dml,
        "_delta_log/" + f"${1L}%020d.json").toPath)
      val dvHit = c1.linesIterator.count(_.contains("\"add\""))
      println(f"delta PUBLIC DV delete (1%% key range)  DVs on " +
        f"$dvHit%3d of $dTotal%d files   $tDel%7.1f ms")
      // an EXISTING key OUTSIDE the just-deleted range (TPC-H orderkeys
      // are sparse, and a key in [lo, hi) is now DV-dead)
      val oneKey = ord.filter(col("o_orderkey") >= hi)
        .agg(min(col("o_orderkey"))).head().getLong(0)
      val tUpd = ms(dl.update(spark, dml, col("o_orderkey") === oneKey,
        Map("o_orderstatus" -> lit("P"))))
      val c2 = java.nio.file.Files.readString(new java.io.File(dml,
        "_delta_log/" + f"${2L}%020d.json").toPath)
      val rewrites = c2.linesIterator.count(_.contains("\"remove\""))
      println(f"delta PUBLIC COW update (1 key)  rewrote $rewrites%d of " +
        f"$dTotal%d files   $tUpd%7.1f ms")
      require(dvHit <= kept && rewrites == 1,
        s"public DML lost locality: dvHit=$dvHit (stats-kept $kept), " +
          s"rewrites=$rewrites")
      // GENERAL-FORM MERGE locality (r15): a matched-DELETE takedown
      // with a KEY-ONLY source hitting a ~1% key range must rewrite
      // only the intersecting files — the general writer's semi-join
      // hit set
      val lo2 = maxKey / 4
      val hi2 = lo2 + maxKey / 100
      val keptMrg = dl.snapshotWhere(spark, dml,
        col("o_orderkey") >= lo2 && col("o_orderkey") < hi2)
        .inputFiles.length
      val takedown = ord
        .filter(col("o_orderkey") >= lo2 && col("o_orderkey") < hi2)
        .select("o_orderkey").distinct()
      val tMrg = ms(dl.mergeGeneral(spark, dml, takedown,
        Seq("o_orderkey"),
        matched = Seq(graft.sources.MergeActions.MatchedDelete())))
      val c3 = java.nio.file.Files.readString(new java.io.File(dml,
        "_delta_log/" + f"${3L}%020d.json").toPath)
      val mrgRemoves = c3.linesIterator.count(_.contains("\"remove\""))
      println(f"delta GENERAL MERGE matched-delete (1%% key range, " +
        f"key-only source)  rewrote $mrgRemoves%3d of $dTotal%d files " +
        f"  $tMrg%7.1f ms")
      require(mrgRemoves <= keptMrg && mrgRemoves > 0,
        s"general merge lost locality: rewrote $mrgRemoves, " +
          s"stats-kept $keptMrg")
      // fresh-table probe: clean up (repeat runs would otherwise leak
      // a 200-file table per run)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(new java.io.File(dml))
    }

    // IDENTITY allocation at table scale (r15): the full orders table
    // across 32 write partitions — allocated values must be UNIQUE
    // under block allocation and the high-water mark must bound them
    locally {
      val idDir = java.nio.file.Files
        .createTempDirectory("graft_probe_idn").toFile.getAbsolutePath
      val t0 = System.nanoTime()
      dl.write(spark, idDir, dl.withIdentityColumn(
        ord.repartition(32), "rid", start = 1L, step = 1L))
      val tAlloc = (System.nanoTime() - t0) / 1e6
      val snap = dl.snapshot(spark, idDir)
      val n = snap.count()
      val uniq = snap.select("rid").distinct().count()
      val hw = snap.schema("rid").metadata
        .getLong("delta.identity.highWaterMark")
      val mx = snap.agg(max(col("rid"))).head().getLong(0)
      println(f"delta IDENTITY allocation ($n%d rows, 32 partitions)  " +
        f"unique $uniq%d   high-water $hw%d (= max $mx%d)   " +
        f"$tAlloc%7.1f ms")
      require(uniq == n && hw == mx,
        s"identity allocation broke: unique=$uniq of $n, hw=$hw, max=$mx")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(new java.io.File(idDir))
    }

    // delete-aware maintenance cycle at table scale: a DELETE hitting 2
    // of the 100 partitions lands on the 1k-file table; the group-scoped
    // splice must (a) read only the window's changed files for the
    // signed diff, (b) plan only the touched partitions' files in the
    // recompute arm (the inlined touched-set predicate), and (c) beat a
    // full view recompute in wall-clock
    val delTable = graft.sources.Staging.stageOnce(dir, "probe_delta_cycle",
      Seq(s"$dir/orders.parquet")) { p =>
      dl.stageCommit(spark, p,
        ord.withColumn("pk", (col("o_orderkey") % 100)).repartition(10),
        Seq("pk"), 0L)
      dl.stageDeleteCommit(spark, p,
        col("o_custkey") % 3 === 0 && (col("pk") === 7 || col("pk") === 41),
        1L)
    }
    // DECIMAL sum: a double sum is order-nondeterministic, so the stored
    // view and the recompute would differ in the last bits on UNTOUCHED
    // groups — the same reason every declared money aggregate goes
    // through DECIMAL(18,2)
    val aggOf = (df: org.apache.spark.sql.DataFrame) => df
      .groupBy("pk").agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .as("total"))
    graft.ivm.DeltaLakeSnapshots.track(spark, "probe_cycle", delTable,
      at = Some(0L))
    val stored = aggOf(dl.snapshot(spark, delTable, Some(0L)))
      .localCheckpoint()
    val t0 = System.nanoTime()
    val maintained = graft.ivm.DeltaLakeSnapshots.maintainAgg(spark,
      "probe_cycle", stored, Seq("pk"), aggOf)
    val cycleS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val full = aggOf(dl.snapshot(spark, delTable)).localCheckpoint()
    val fullS = (System.nanoTime() - t1) / 1e9
    if (maintained.orderBy("pk").collect().toSeq !=
        full.orderBy("pk").collect().toSeq) {
      println("cycle-only rows:")
      maintained.exceptAll(full).show(20, truncate = false)
      println("recompute-only rows:")
      full.exceptAll(maintained).show(20, truncate = false)
      throw new IllegalArgumentException("cycle != recompute")
    }
    val armFiles = dl.snapshotWhere(spark, delTable,
      col("pk") === 7 || col("pk") === 41).inputFiles.length
    val liveFiles = dl.snapshot(spark, delTable).inputFiles.length
    println(f"delta delete cycle (2 of 100 partitions touched)  " +
      f"splice $cycleS%5.2f s vs full recompute $fullS%5.2f s; " +
      f"recompute arm $armFiles%d of $liveFiles%d live files")

    // δ-arm PLAN SIZE at the 1k-file table (r10): the version cut must
    // be index-native — one graft_post_cut node carrying the file set
    // as a reference object, NOT an O(files) IN-list of literals (the
    // r9 shape). Pin (a) no IN-list in the analyzed δ-arm plan, (b)
    // plan string size stays file-count-independent, (c) the δ arm
    // still plans ONLY the post-cut files.
    graft.ivm.DeltaLakeSnapshots.track(spark, "probe_cutsize", wide,
      at = Some(0L))
    dl.stageCommit(spark, wide,
      ord.limit(1000).withColumn("pk", (col("o_orderkey") % 100)),
      Seq("pk"), 1L)
    try {
      graft.ivm.DeltaLakeSnapshots.view(spark, "probe_cutsize")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val delta = graft.ivm.Ivm.delta(spark.table("probe_cutsize"))
      val analyzed = delta
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.analyzed.toString
      require(!analyzed.contains(" IN ("),
        "δ-arm plan carries an IN-list — the cut is not index-native")
      require(analyzed.contains("graft_post_cut"),
        "δ-arm plan should carry the graft_post_cut node")
      // execute the dataset's OWN queryExecution (count() would derive
      // a separate plan and leave these metrics at zero)
      val deltaRows = delta.collect().length
      require(deltaRows == 1000, s"δ arm returned $deltaRows rows")
      val deltaFiles = delta
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan.collectLeaves().collectFirst {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.get.metrics("numFiles").value
      val liveNow = dl.snapshot(spark, wide).inputFiles.length
      println(f"delta cut plan size ($nFiles%d pre-cut files)  analyzed " +
        f"plan ${analyzed.length}%d chars; δ arm plans " +
        f"$deltaFiles%d of $liveNow%d live files (post-cut only)")
      require(deltaFiles <= liveNow - nFiles,
        s"δ arm planned $deltaFiles files — pre-cut files leaked in")
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      // the probe APPENDED to the shared staged slot: restore it so the
      // fold+plan rows of a re-run see the original single-commit table
      new java.io.File(wide, "_delta_log/00000000000000000001.json")
        .delete()
      ()
    }

    // deletion vectors at table scale (r10): a DV delete hitting 2 of
    // the 100 partitions on a fresh 1k-file table — the fold must
    // decode only the touched files' bitmaps (driver cost bounded by
    // DV'd files, not table size), and the read applies them as ONE
    // codegen'd anti-filter with no extra scan or join
    val dvTable = graft.sources.Staging.stageOnce(dir, "probe_delta_dv",
      Seq(s"$dir/orders.parquet")) { p =>
      dl.stageCommit(spark, p,
        ord.withColumn("pk", (col("o_orderkey") % 100)).repartition(10),
        Seq("pk"), 0L)
      dl.stageDvDeleteCommit(spark, p,
        col("o_custkey") % 3 === 0 && (col("pk") === 7 || col("pk") === 41),
        1L)
    }
    val dvPlan = ms(planOf(dl.snapshot(spark, dvTable)))
    val t2 = System.nanoTime()
    val dvRows = dl.snapshot(spark, dvTable).count()
    val dvReadS = (System.nanoTime() - t2) / 1e9
    val t3 = System.nanoTime()
    val plainRows = dl.snapshot(spark, wide).count()
    val plainReadS = (System.nanoTime() - t3) / 1e9
    println(f"delta dv read (DVs on 2 of 100 partitions)  fold+plan+" +
      f"decode $dvPlan%7.1f ms; full read $dvReadS%5.2f s " +
      f"($dvRows%d rows) vs plain $plainReadS%5.2f s ($plainRows%d rows)")

    // checkpoint fold at ~100k actions (r10): the fold STREAMS the
    // checkpoint rows (toLocalIterator) instead of collect(), so the
    // transient is one partition of action rows, not a second full
    // copy of the table's file list on the driver
    locally {
      val dir100k = java.nio.file.Files
        .createTempDirectory("graft_probe_ckpt").toString
      graft.sources.DeltaLake.stageSyntheticCheckpoint(spark, dir100k,
        100000, ord.schema)
      val rt = Runtime.getRuntime
      System.gc()
      val before = rt.totalMemory() - rt.freeMemory()
      val t = ms(planOf(dl.snapshot(spark, dir100k)))
      val after = rt.totalMemory() - rt.freeMemory()
      val files100k = dl.snapshot(spark, dir100k).inputFiles.length
      println(f"delta checkpoint fold (100k actions)  fold+plan $t%7.1f " +
        f"ms; $files100k%d files; ~${(after - before).max(0) / 1048576}%d " +
        "MiB driver-heap delta")
      require(files100k == 100000, s"fold lost files: $files100k")
    }

    // Iceberg fold+plan on the staged two-snapshot table (manifest fold
    // instead of JSON-commit fold; same single-scan construction)
    val ice = graft.engine.Queries.icebergOrders(spark, dir)
    val iFiles = graft.sources.Iceberg.snapshot(spark, ice)
      .inputFiles.length
    val iCold = ms(planOf(graft.sources.Iceberg.snapshot(spark, ice)))
    val iWarm = ms(planOf(graft.sources.Iceberg.snapshot(spark, ice)))
    println(f"iceberg fold+plan ($iFiles%d files)  cold $iCold%7.1f ms   " +
      f"warm $iWarm%7.1f ms")

    // Iceberg fold+plan AT TABLE SCALE (r13 verdict: pin the
    // per-resolve fold cost the way the delta 1k-file row does — a
    // streaming consumer pays one fold per micro-batch, so this is the
    // per-batch floor). ~100 partitions x ~10 writer tasks ≈ 1k files,
    // one snapshot; the r13 per-file format partitioning runs inside
    // this fold, so a regression there shows up here first.
    locally {
      val iWide = graft.sources.Staging.stageOnce(dir, "probe_ice_1k",
        Seq(s"$dir/orders.parquet")) { p =>
        graft.sources.Iceberg.stageAppend(spark, p,
          ord.withColumn("pk", (col("o_orderkey") % 100)).repartition(10),
          Seq("pk"))
        ()
      }
      val n = graft.sources.Iceberg.snapshot(spark, iWide)
        .inputFiles.length
      val c = ms(planOf(graft.sources.Iceberg.snapshot(spark, iWide)))
      val w = ms(planOf(graft.sources.Iceberg.snapshot(spark, iWide)))
      println(f"iceberg fold+plan ($n%d files, 100 parts)  " +
        f"cold $c%7.1f ms   warm $w%7.1f ms")
    }

    // MoR signed window at table scale (r11): a positional delete
    // hitting a ~1% key range of a 100-file range-clustered table —
    // the retract arm must plan only the files the delete rows NAME
    // (driver-side distinct over the churn-bounded delete files), not
    // the surviving snapshot
    locally {
      val maxKey = ord.agg(org.apache.spark.sql.functions
        .max(col("o_orderkey"))).head().getLong(0)
      val morDir = graft.sources.Staging.stageOnce(dir, "probe_ice_mor",
        Seq(s"$dir/orders.parquet")) { p =>
        graft.sources.Iceberg.stageAppend(spark, p,
          ord.repartitionByRange(100, col("o_orderkey")), Seq.empty)
        graft.sources.Iceberg.stageMorDelete(spark, p,
          col("o_orderkey") <= maxKey / 100)
        ()
      }
      val sids = graft.sources.Iceberg.snapshotIds(morDir)
      val t = System.nanoTime()
      val ch = graft.sources.Iceberg.changes(spark, morDir, sids.head,
        Some(sids.last))
      val retractFiles = ch.retracts.inputFiles
        .count(f => !new java.io.File(f).getName.startsWith("delete-"))
      val nRetract = ch.retracts.count()
      val windowS = (System.nanoTime() - t) / 1e9
      println(f"iceberg MoR signed window (1%% key-range delete)  " +
        f"retract arm plans $retractFiles%d of 100 data files; " +
        f"$nRetract%d rows retracted in $windowS%5.2f s")
      require(retractFiles <= 3,
        s"retract arm planned $retractFiles files — not delete-named-only")
    }

    // equality-delete signed window at table scale (r11): one customer
    // key equality-deleted on the same 100-file range-clustered table —
    // the row-identity diff arm must scan only the files whose manifest
    // bounds intersect the delete value, twice (cut-state vs end-state),
    // never the surviving snapshot
    locally {
      val eqDir = graft.sources.Staging.stageOnce(dir, "probe_ice_eq",
        Seq(s"$dir/orders.parquet")) { p =>
        graft.sources.Iceberg.stageAppend(spark, p,
          ord.repartitionByRange(100, col("o_orderkey")), Seq.empty)
        graft.sources.Iceberg.stageEqDelete(spark, p,
          ord.orderBy(col("o_custkey")).limit(1)
            .select("o_custkey").distinct())
        ()
      }
      val sids = graft.sources.Iceberg.snapshotIds(eqDir)
      val t = System.nanoTime()
      val ch = graft.sources.Iceberg.changes(spark, eqDir, sids.head,
        Some(sids.last))
      val retractFiles = ch.retracts.inputFiles
        .map(f => new java.io.File(f).getName)
        .count(n => !n.startsWith("eqdelete")).toLong
      val nRetract = ch.retracts.count()
      val windowS = (System.nanoTime() - t) / 1e9
      println(f"iceberg EQ-delete signed window (1 customer key)  " +
        f"diff arm plans $retractFiles%d data-file scans of 100 files; " +
        f"$nRetract%d rows retracted in $windowS%5.2f s")
      // data-dependent: files whose custkey bounds contain the deleted
      // key (the table is orderkey-clustered); the invariant is "far
      // below the 100-file snapshot", not an exact count
      require(retractFiles <= 40,
        s"diff arm planned $retractFiles scans — bounds pruning inactive")
    }

    // v3 deletion vectors at table scale (r11): DVs on 2 of 100
    // range-clustered files — driver-side bitmap resolution is
    // metadata-sized (measured below), the snapshot stays ONE scan
    // with the codegen'd anti-filter (no delete-file scan, no join),
    // and the signed DV window's diff arm plans only the files the
    // manifests REFERENCE
    locally {
      val dvDir = graft.sources.Staging.stageOnce(dir, "probe_ice_dv",
        Seq(s"$dir/orders.parquet")) { p =>
        graft.sources.Iceberg.stageAppend(spark, p,
          ord.repartitionByRange(100, col("o_orderkey")), Seq.empty)
        val k = ord.agg(max(col("o_orderkey"))).head().getLong(0) / 100
        graft.sources.Iceberg.stageDv(spark, p,
          col("o_orderkey") <= k && col("o_orderkey") % 3 === 0)
        ()
      }
      val t0 = System.nanoTime()
      val snap = graft.sources.Iceberg.snapshot(spark, dvDir)
      val planMs = (System.nanoTime() - t0) / 1e6
      val scanFiles = snap.inputFiles.length
      val sids = graft.sources.Iceberg.snapshotIds(dvDir)
      val t1 = System.nanoTime()
      val ch = graft.sources.Iceberg.changes(spark, dvDir, sids.head,
        Some(sids.last))
      val retractFiles = ch.retracts.inputFiles.length.toLong
      val nRetract = ch.retracts.count()
      val windowS = (System.nanoTime() - t1) / 1e9
      println(f"iceberg v3 DV (DVs on ~1 of $scanFiles%d files)  " +
        f"resolve+plan $planMs%7.1f ms; signed window plans " +
        f"$retractFiles%d files, $nRetract%d rows retracted in " +
        f"$windowS%5.2f s")
      require(retractFiles <= 3,
        s"DV diff arm planned $retractFiles files — not referenced-only")
    }

    // name-mapping footer probe at table scale (r11): 100 ID-LESS
    // files — the one-time driver-side footer read per file (the
    // migrated-table planning cost), then the memoized re-plan
    locally {
      val nmDir = graft.sources.Staging.stageOnce(dir, "probe_ice_nm",
        Seq(s"$dir/orders.parquet")) { p =>
        graft.sources.Iceberg.stageIdlessAppend(spark, p,
          ord.repartitionByRange(100, col("o_orderkey")),
          diskNames = ord.columns.map(c => c -> s"h_$c").toMap)
        ()
      }
      val coldMs = ms(planOf(
        graft.sources.Iceberg.snapshot(spark, nmDir)))
      val warmMs = ms(planOf(
        graft.sources.Iceberg.snapshot(spark, nmDir)))
      val n = graft.sources.Iceberg.snapshot(spark, nmDir)
        .inputFiles.length
      println(f"iceberg name mapping ($n%d id-less files)  " +
        f"footer-probe+plan cold $coldMs%7.1f ms   warm (memoized) " +
        f"$warmMs%7.1f ms")
    }

    // Z-ORDER effectiveness at table scale (r11/r12 verdicts): 200
    // round-robin files each spanning the FULL domain of both columns
    // (nothing prunes), then OPTIMIZE ZORDER(o_orderkey, o_custkey) —
    // a narrow band on EITHER column must plan a small fraction of the
    // clustered layout. This gives clustering quality the same
    // regression row fold/prune/skip have.
    locally {
      val zDir = java.nio.file.Files
        .createTempDirectory("graft_probe_zorder").toFile.getAbsolutePath
      dl.write(spark, zDir, ord.repartition(200))
      val maxK = ord.agg(max(col("o_orderkey"))).head().getLong(0)
      val maxC = ord.agg(max(col("o_custkey"))).head().getLong(0)
      def band(c: String, mid: Long, width: Long): Int =
        dl.snapshotWhere(spark, zDir,
          col(c) >= mid && col(c) < mid + width).inputFiles.length
      val preTotal = dl.snapshot(spark, zDir).inputFiles.length
      val preK = band("o_orderkey", maxK / 2, maxK / 100)
      val preC = band("o_custkey", maxC / 2, maxC / 100)
      def dataBytes(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten
            .filterNot(_.getName.startsWith("_")).map(dataBytes).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      val bytes = dataBytes(new java.io.File(zDir))
      val tZ = ms(dl.compact(spark, zDir,
        targetFileBytes = math.max(1L, bytes / 200),
        zorderBy = Seq("o_orderkey", "o_custkey")))
      val postTotal = dl.snapshot(spark, zDir).inputFiles.length
      val postK = band("o_orderkey", maxK / 2, maxK / 100)
      val postC = band("o_custkey", maxC / 2, maxC / 100)
      println(f"delta zorder (2 cols, 1%% bands)  pre: $preK%d/$preC%d " +
        f"of $preTotal%d files planned (key/cust)   post: " +
        f"$postK%d/$postC%d of $postTotal%d   rewrite $tZ%7.1f ms")
      require(preK >= preTotal * 9 / 10 && preC >= preTotal * 9 / 10,
        s"pre-zorder bands should plan ~everything: $preK/$preC " +
          s"of $preTotal")
      require(postK <= postTotal / 3 && postC <= postTotal / 3,
        s"z-order clustering ineffective: $postK/$postC of $postTotal " +
          "files for 1% bands")
      def rmz(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmz))
        f.delete(); ()
      }
      rmz(new java.io.File(zDir))
    }

    // ORC footer name-check at table scale (r12 verdict's `weak`):
    // ~1k ORC files — first-contact resolution pays one parallel
    // footer read per file (measured, no longer unknown), every later
    // cold resolution trusts the persisted validation marker
    // (O(new files)), and the in-JVM memo covers warm re-plans
    locally {
      val orcDir = graft.sources.Staging.stageOnce(dir, "probe_ice_orc1k",
        Seq(s"$dir/orders.parquet")) { p =>
        graft.sources.Iceberg.stageOrcAppend(spark, p,
          ord.repartition(1000))
        // drop the staging-time marker/memo so the probe's first
        // resolution below is a true first contact
        new java.io.File(p, "metadata/graft-orc-validated.json").delete()
        ()
      }
      new java.io.File(orcDir, "metadata/graft-orc-validated.json")
        .delete()
      graft.sources.Iceberg.clearOrcFooterCacheForTest()
      val p0 = graft.sources.Iceberg.orcFooterProbes.get()
      val first = ms(planOf(graft.sources.Iceberg.snapshot(spark, orcDir)))
      val firstProbes = graft.sources.Iceberg.orcFooterProbes.get() - p0
      graft.sources.Iceberg.clearOrcFooterCacheForTest()
      val p1 = graft.sources.Iceberg.orcFooterProbes.get()
      val markerCold = ms(planOf(
        graft.sources.Iceberg.snapshot(spark, orcDir)))
      val markerProbes = graft.sources.Iceberg.orcFooterProbes.get() - p1
      val warm = ms(planOf(graft.sources.Iceberg.snapshot(spark, orcDir)))
      println(f"iceberg ORC name-check ($firstProbes%d footer probes)  " +
        f"first contact $first%7.1f ms   marker-cold $markerCold%7.1f ms " +
        f"($markerProbes%d probes)   warm $warm%7.1f ms")
      require(firstProbes >= 1000 && markerProbes == 0,
        s"marker did not bound the cold probe: first=$firstProbes, " +
          s"marker-cold=$markerProbes")
    }

    spark.stop()
  }
}
