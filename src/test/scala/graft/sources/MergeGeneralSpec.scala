package graft.sources

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.sources.MergeActions._

/** GENERAL-FORM MERGE ([[DeltaLake.mergeGeneral]] /
  * [[Iceberg.mergeGeneral]] and the SQL bridge): conditional matched
  * UPDATE/DELETE in first-match order, conditional inserts,
  * NOT MATCHED BY SOURCE actions, CDF emission per outcome, hit-file
  * locality, and the refusal envelope (unreachable actions, partial
  * INSERT lists, partition-column SET, out-of-scope columns).
  */
class MergeGeneralSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_mrgen_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  // target: ids 1..10, v = id*10; source: ids 4..13, sv = id*100,
  // flag = id % 2 (so conditions split matched ids 4..10 into
  // odd/even arms and insert ids 11..13 conditionally)
  private def target = (1L to 10L).map(i => (i, i * 10.0))
    .toDF("id", "v").coalesce(1)
  private def source = (4L to 13L)
    .map(i => (i, i * 100.0, i % 2)).toDF("id", "sv", "flag")
    .coalesce(1)

  /** Expected content of the shared scenario:
    *   WHEN MATCHED AND flag=1 THEN UPDATE SET v = sv + v
    *   WHEN MATCHED THEN DELETE
    *   WHEN NOT MATCHED AND flag=0 THEN INSERT (id, v) = (id, sv)
    *   WHEN NOT MATCHED BY SOURCE AND id <= 2 THEN UPDATE SET v = 0
    * matched odd (5,7,9) → v = id*100 + id*10; matched even
    * (4,6,8,10) → deleted; not-matched even sources (12) → inserted
    * with v = 1200; unmatched targets 1,2 → v = 0; 3 untouched.
    */
  private val expected: Set[(Long, Double)] =
    Set((1L, 0.0), (2L, 0.0), (3L, 30.0),
      (5L, 550.0), (7L, 770.0), (9L, 990.0), (12L, 1200.0))

  private def run(doMerge: String => Long,
      read: String => org.apache.spark.sql.DataFrame,
      name: String): Unit = {
    val dir = freshDir(name)
    doMerge(dir)
    val got = read(dir).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == expected)
  }

  private val scenarioMatched = Seq(
    MatchedUpdate(Some(src("flag") === 1),
      Some(Map("v" -> (src("sv") + col("v"))))),
    MatchedDelete())
  private val scenarioInserts = Seq(
    NotMatchedInsert(Some(col("flag") === 0),
      Some(Map("id" -> col("id"), "v" -> col("sv")))))
  private val scenarioBySource = Seq(
    BySourceUpdate(Some(col("id") <= 2), Map("v" -> lit(0.0))))

  /** The canonical upsert (`UPDATE SET *` + `INSERT *`) run three ways
    * over each input — the library `merge`, SQL `MERGE INTO` through a
    * catalog, and `mergeGeneral` with the star actions — must leave
    * equal table contents, or refuse alike (duplicate non-null keys).
    * Inputs: NULL source keys (they insert), `insertNotMatched = false`,
    * a zero-hit insert-only source, and a partitioned table.
    */
  private def canonicalUpserts(format: String,
      write: (String, org.apache.spark.sql.DataFrame, Seq[String]) => Unit,
      merge: (String, org.apache.spark.sql.DataFrame, Seq[String],
        Boolean) => Long,
      general: (String, org.apache.spark.sql.DataFrame, Seq[String],
        Seq[NotMatchedInsert]) => Long,
      read: String => org.apache.spark.sql.DataFrame): Unit = {
    val wh = freshDir(s"canon_${format.takeRight(7)}")
    // one catalog per format: a session caches a catalog plugin on first
    // use, so a later warehouse setting would not reach it
    val cat = s"mcan_${format.takeRight(7).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val nullKeys = Seq((Some(5L), 500.0), (None, 1.0), (None, 2.0),
      (Some(42L), 4200.0)).toDF("id", "v")
    val parted = (1L to 10L).map(i => (i, i % 2, i * 10.0))
      .toDF("id", "pk", "v").coalesce(1)
    val cases = Seq(
      ("nullkeys", target, Seq.empty[String], nullKeys, true),
      ("noinsert", target, Seq.empty[String], nullKeys, false),
      ("insertonly", target, Seq.empty[String],
        Seq((100L, 1.0), (101L, 2.0)).toDF("id", "v"), true),
      ("parted", parted, Seq("pk"), Seq((3L, 1L, 30.5), (4L, 0L, 40.5),
        (11L, 1L, 110.0)).toDF("id", "pk", "v"), true),
      ("dupkeys", target, Seq.empty[String],
        Seq((5L, 1.0), (5L, 2.0)).toDF("id", "v"), true))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    cases.foreach { case (name, tgt, partBy, src, insert) =>
      val keys = "id" +: partBy
      def fresh(route: String): String = {
        val dir = new java.io.File(wh, s"${name}_$route").getAbsolutePath
        write(dir, tgt, partBy)
        dir
      }
      val routes: Seq[(String, String => Unit)] = Seq(
        "merge" -> (dir => { merge(dir, src, keys, insert); () }),
        "general" -> (dir => { general(dir, src, keys,
          if (insert) Seq(NotMatchedInsert()) else Nil); () }),
        "sql" -> (dir => {
          GraftCatalog.register(spark, wh, s"db.${name}_sql", format,
            s"${name}_sql")
          src.createOrReplaceTempView(s"canon_src_$name")
          spark.sql(s"MERGE INTO $cat.db.${name}_sql t USING " +
            s"canon_src_$name s ON " +
            keys.map(k => s"t.$k = s.$k").mkString(" AND ") +
            " WHEN MATCHED THEN UPDATE SET *" +
            (if (insert) " WHEN NOT MATCHED THEN INSERT *" else ""))
          ()
        }))
      if (name == "dupkeys") routes.foreach { case (route, run) =>
        val dir = fresh(route)
        val e = intercept[Exception](run(dir))
        assert(Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null)
          .exists(x => String.valueOf(x.getMessage).contains("duplicate")),
          s"$format $name via $route: $e")
      } else {
        val got = routes.map { case (route, run) =>
          val dir = fresh(route)
          run(dir)
          route -> rows(read(dir))
        }
        got.tail.foreach { case (route, r) =>
          assert(r == got.head._2,
            s"$format $name: $route differs from merge")
        }
      }
    }
  }

  test("delta mergeGeneral: conditional matched update + matched " +
      "delete + conditional insert + by-source update, first-match " +
      "order") {
    run(dir => {
      DeltaLake.write(spark, dir, target)
      DeltaLake.mergeGeneral(spark, dir, source, Seq("id"),
        scenarioMatched, scenarioInserts, scenarioBySource)
    }, dir => DeltaLake.snapshot(spark, dir), "delta")
    canonicalUpserts("graft-deltalake",
      (dir, df, p) => { DeltaLake.write(spark, dir, df, partitionBy = p); () },
      (dir, src, keys, ins) => DeltaLake.merge(spark, dir, src, keys, ins),
      (dir, src, keys, ins) => DeltaLake.mergeGeneral(spark, dir, src,
        keys, Seq(MatchedUpdate()), ins),
      dir => DeltaLake.snapshot(spark, dir))
  }

  test("iceberg mergeGeneral: the same scenario, same content") {
    run(dir => {
      Iceberg.write(spark, dir, target)
      Iceberg.mergeGeneral(spark, dir, source, Seq("id"),
        scenarioMatched, scenarioInserts, scenarioBySource)
    }, dir => Iceberg.snapshot(spark, dir), "ice")
    canonicalUpserts("graft-iceberg",
      (dir, df, p) => { Iceberg.write(spark, dir, df, partitionBy = p); () },
      (dir, src, keys, ins) => Iceberg.merge(spark, dir, src, keys, ins),
      (dir, src, keys, ins) => Iceberg.mergeGeneral(spark, dir, src,
        keys, Seq(MatchedUpdate()), ins),
      dir => Iceberg.snapshot(spark, dir))
  }

  test("first-match ordering: an earlier narrow action wins over a " +
      "later broad one") {
    val dir = freshDir("order")
    DeltaLake.write(spark, dir, target)
    // both actions match id >= 4; the first (id = 5 → delete) must
    // take 5, the second updates the rest
    DeltaLake.mergeGeneral(spark, dir, source, Seq("id"),
      matched = Seq(
        MatchedDelete(Some(col("id") === 5)),
        MatchedUpdate(None, Some(Map("v" -> lit(-1.0))))))
    val got = DeltaLake.snapshot(spark, dir).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val exp = (1L to 10L).filterNot(_ == 5L).map { i =>
      (i, if (i >= 4) -1.0 else i * 10.0)
    }.toSet
    assert(got == exp)
  }

  test("matched-delete-only merge with a key-only source (takedown " +
      "list shape): no full-column source required") {
    val dir = freshDir("takedown")
    DeltaLake.write(spark, dir, target)
    val keysOnly = Seq(2L, 4L, 6L).toDF("id")
    assert(DeltaLake.mergeGeneral(spark, dir, keysOnly, Seq("id"),
      matched = Seq(MatchedDelete())) >= 0)
    assert(DeltaLake.snapshot(spark, dir).select("id").as[Long]
      .collect().toSet == Set(1L, 3L, 5L, 7L, 8L, 9L, 10L))
  }

  test("CDF: outcomes emit update pre/post images, deletes, and " +
      "inserts") {
    val dir = freshDir("cdf")
    DeltaLake.write(spark, dir, target,
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLake.mergeGeneral(spark, dir, source, Seq("id"),
      scenarioMatched, scenarioInserts, scenarioBySource)
    val ch = DeltaLake.changeFeed(spark, dir, 0L, None)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byType = ch.groupBy(_._2).map { case (t, rs) =>
      t -> rs.map(_._1).toSet
    }
    assert(byType("delete") == Set(4L, 6L, 8L, 10L))
    assert(byType("insert") == Set(12L))
    // updates: matched odd ids + by-source 1,2
    assert(byType("update_preimage") == Set(1L, 2L, 5L, 7L, 9L))
    assert(byType("update_postimage") == Set(1L, 2L, 5L, 7L, 9L))
  }

  test("hit-file locality: a conditioned BY SOURCE action rewrites " +
      "only the files holding satisfying rows") {
    val dir = freshDir("local")
    // 5 single-row files; source matches nothing; by-source cond
    // hits only id=2 → exactly one remove in the commit
    DeltaLake.write(spark, dir,
      (1L to 5L).map(i => (i, i * 10.0)).toDF("id", "v")
        .repartition(5, col("id")))
    val nFiles = DeltaLake.snapshot(spark, dir).inputFiles.length
    assert(nFiles >= 2, s"need a multi-file table, got $nFiles")
    DeltaLake.mergeGeneral(spark, dir,
      Seq((99L, 0.0, 0L)).toDF("id", "sv", "flag"), Seq("id"),
      notMatchedBySource =
        Seq(BySourceUpdate(Some(col("id") === 2), Map("v" -> lit(0.0)))))
    val c1 = java.nio.file.Files.readString(new java.io.File(dir,
      "_delta_log/" + f"${1L}%020d.json").toPath)
    val removes = c1.linesIterator.count(_.contains("\"remove\""))
    assert(removes == 1, s"expected 1 rewritten file, got $removes")
    assert(DeltaLake.snapshot(spark, dir).filter(col("id") === 2)
      .select("v").as[Double].head() == 0.0)
  }

  test("refusals: unreachable action, partial INSERT list, partition " +
      "column SET, duplicate source keys with matched actions") {
    val dir = freshDir("refuse")
    DeltaLake.write(spark, dir, target)
    intercept[IllegalArgumentException] {
      DeltaLake.mergeGeneral(spark, dir, source, Seq("id"),
        matched = Seq(MatchedDelete(None),
          MatchedUpdate(None, Some(Map("v" -> lit(0.0))))))
    }
    intercept[IllegalArgumentException] {
      DeltaLake.mergeGeneral(spark, dir, source, Seq("id"),
        notMatched = Seq(NotMatchedInsert(None,
          Some(Map("id" -> col("id")))))) // misses v
    }
    intercept[IllegalArgumentException] {
      DeltaLake.mergeGeneral(spark, dir, source, Seq("id"),
        matched = Seq(MatchedUpdate(None, Some(Map("zzz" -> lit(1))))))
    }
    intercept[IllegalArgumentException] {
      DeltaLake.mergeGeneral(spark, dir,
        source.unionByName(source.limit(1)), Seq("id"),
        matched = Seq(MatchedDelete()))
    }
    // partition-column SET refused (partitioned table, pk in keys)
    val pdir = freshDir("refusep")
    DeltaLake.write(spark, pdir,
      (1L to 6L).map(i => (i, i % 2, i * 1.0)).toDF("id", "pk", "v"),
      partitionBy = Seq("pk"))
    intercept[IllegalArgumentException] {
      DeltaLake.mergeGeneral(spark, pdir,
        (1L to 3L).map(i => (i, i % 2)).toDF("id", "pk"),
        Seq("id", "pk"),
        matched = Seq(MatchedUpdate(None, Some(Map("pk" -> lit(9))))))
    }
  }

  test("SQL bridge: the general form routes through the catalog " +
      "(conditional matched update, matched delete, by-source " +
      "delete)") {
    val wh = freshDir("sqlwh")
    DeltaLake.write(spark, new java.io.File(wh, "t").getAbsolutePath,
      target)
    GraftCatalog.register(spark, wh, "db.t", "graft-deltalake", "t")
    spark.conf.set("spark.sql.catalog.mgen",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mgen.warehouse", wh)
    source.createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO mgen.db.t t
        |USING mrg_src s
        |ON t.id = s.id
        |WHEN MATCHED AND s.flag = 1 THEN UPDATE SET v = s.sv + t.v
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND s.flag = 0 THEN INSERT (id, v)
        |  VALUES (s.id, s.sv)
        |WHEN NOT MATCHED BY SOURCE AND t.id <= 2 THEN UPDATE
        |  SET v = 0.0""".stripMargin)
    val got = spark.sql("SELECT id, v FROM mgen.db.t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == expected)
  }

  test("EXTRA ON conjuncts refine the match: key-equal pairs failing " +
      "the extra are NOT MATCHED on both sides (insert + by-source)") {
    val dir = freshDir("extra")
    DeltaLake.write(spark, dir, target) // ids 1..10, v = id*10
    // ON t.id = s.id AND s.flag = 1: matched = odd source ids 5,7,9;
    // evens 4,6,8,10 key-match but fail the extra → their source rows
    // INSERT (dup ids by SQL semantics) and their target rows fall to
    // the BY SOURCE scope; 11..13 have no key match
    DeltaLake.mergeGeneral(spark, dir,
      source.withColumn("v", col("sv")), Seq("id"),
      matched = Seq(MatchedUpdate(None, Some(Map("v" -> src("sv"))))),
      notMatched = Seq(NotMatchedInsert(Some(col("flag") === 0), None)),
      notMatchedBySource =
        Seq(BySourceUpdate(Some(col("id") === 1), Map("v" -> lit(0.0)))),
      matchExtra = Some(src("flag") === 1))
    val got = DeltaLake.snapshot(spark, dir).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    val exp = (
      // targets: 1 by-source-updated; 2,3,4,6,8,10 untouched
      // (4..10 evens are NOT matched under the extra); 5,7,9 updated
      Seq((1L, 0.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (6L, 60.0),
        (8L, 80.0), (10L, 100.0),
        (5L, 500.0), (7L, 700.0), (9L, 900.0)) ++
      // inserts: flag=0 not-matched source rows — key-equal evens
      // 4,6,8,10 (extra failed) and 12
      Seq(4L, 6L, 8L, 10L, 12L).map(i => (i, i * 100.0))
    ).sorted
    assert(got == exp)
  }

  test("SQL bridge: ON with an extra conjunct routes to the general " +
      "writer; a pure theta ON still refuses") {
    val wh = freshDir("sqlextra")
    DeltaLake.write(spark, new java.io.File(wh, "t").getAbsolutePath,
      target)
    GraftCatalog.register(spark, wh, "db.t", "graft-deltalake", "t")
    spark.conf.set("spark.sql.catalog.mext",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mext.warehouse", wh)
    source.createOrReplaceTempView("mrg_xsrc")
    spark.sql(
      """MERGE INTO mext.db.t t
        |USING mrg_xsrc s
        |ON t.id = s.id AND s.flag = 1 AND t.v < 800
        |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin)
    val got = spark.sql("SELECT id, v FROM mext.db.t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    // matched under BOTH extras: odd ids 5,7 (9 fails t.v < 800? v=90
    // — 90 < 800 matches; 9 -> 900) — odds 5,7,9 all have v < 800
    val exp = (1L to 10L).map(i =>
      (i, if (i >= 4 && i % 2 == 1) i * 100.0 else i * 10.0)).toSet
    assert(got == exp)
    val e = intercept[UnsupportedOperationException] {
      spark.sql(
        """MERGE INTO mext.db.t t
          |USING mrg_xsrc s
          |ON t.id < s.id
          |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin)
    }
    assert(e.getMessage.contains("key equality"), e.getMessage)
  }

  test("SQL bridge: conditional matched UPDATE on a PARTITIONED " +
      "target — the analyzer's identity fill-ins on the partition " +
      "column are tolerated (no-move no-ops)") {
    val wh = freshDir("sqlpart")
    val tdir = new java.io.File(wh, "t").getAbsolutePath
    DeltaLake.write(spark, tdir,
      (1L to 8L).map(i => (i, i % 2, i * 10.0)).toDF("id", "pk", "v"),
      partitionBy = Seq("pk"))
    GraftCatalog.register(spark, wh, "db.t", "graft-deltalake", "t")
    spark.conf.set("spark.sql.catalog.mpart",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mpart.warehouse", wh)
    (4L to 10L).map(i => (i, i % 2, i * 100.0))
      .toDF("id", "pk", "sv").createOrReplaceTempView("mrg_psrc")
    spark.sql(
      """MERGE INTO mpart.db.t t
        |USING mrg_psrc s
        |ON t.id = s.id AND t.pk = s.pk
        |WHEN MATCHED AND s.sv > 500 THEN UPDATE SET v = s.sv
        |WHEN MATCHED THEN UPDATE SET v = -1.0""".stripMargin)
    val got = spark.sql("SELECT id, v FROM mpart.db.t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val exp = (1L to 8L).map { i =>
      (i, if (i < 4) i * 10.0 else if (i * 100.0 > 500) i * 100.0
      else -1.0)
    }.toSet
    assert(got == exp)
  }

  test("by-source-only merge tolerates duplicate source keys: " +
      "matched rows survive exactly once (no left-join fan-out)") {
    // legal SQL: only a matched UPDATE/DELETE with an ambiguous
    // source is the cardinality violation — a by-source-only merge
    // needs just the match bit, and duplicate keys must not write
    // matched rows twice
    val dupSrc = Seq(4L, 4L, 5L, 6L, 6L).toDF("id").coalesce(1)
    val dir = freshDir("dupbs")
    DeltaLake.write(spark, dir, target)
    DeltaLake.mergeGeneral(spark, dir, dupSrc, Seq("id"),
      notMatchedBySource = Seq(BySourceDelete()))
    assert(DeltaLake.snapshot(spark, dir).select("id").as[Long]
      .collect().sorted.toSeq == Seq(4L, 5L, 6L))
    val dir2 = freshDir("dupbs_ice")
    Iceberg.write(spark, dir2, target)
    Iceberg.mergeGeneral(spark, dir2, dupSrc, Seq("id"),
      notMatchedBySource = Seq(BySourceDelete()))
    assert(Iceberg.snapshot(spark, dir2).select("id").as[Long]
      .collect().sorted.toSeq == Seq(4L, 5L, 6L))
  }

  test("theta-only ON behind the explicit opt-in: range-match " +
      "update on both formats vs a first-principles oracle; default " +
      "refuses; ambiguous theta refuses") {
    // source: disjoint ranges [lo, hi] with a new value — a classic
    // banding takedown/repricing shape with no key equality
    val ranges = Seq((2L, 4L, -1.0), (7L, 8L, -2.0))
      .toDF("lo", "hi", "nv").coalesce(1)
    val theta = col("id") >= src("lo") && col("id") <= src("hi")
    val expected = (1L to 10L).map { i =>
      (i, if (i >= 2 && i <= 4) -1.0 else if (i >= 7 && i <= 8) -2.0
      else i * 10.0)
    }.toSet
    val dir = freshDir("theta")
    DeltaLake.write(spark, dir, target)
    // default: refused
    val e = intercept[IllegalArgumentException] {
      DeltaLake.mergeGeneral(spark, dir, ranges, Seq.empty,
        matched = Seq(MatchedUpdate(None,
          Some(Map("v" -> src("nv"))))), matchExtra = Some(theta))
    }
    assert(e.getMessage.contains("thetaFullScan"), e.getMessage)
    // opted in: full-table rewrite with the documented semantics
    DeltaLake.mergeGeneral(spark, dir, ranges, Seq.empty,
      matched = Seq(MatchedUpdate(None,
        Some(Map("v" -> src("nv"))))), matchExtra = Some(theta),
      thetaFullScan = true)
    assert(DeltaLake.snapshot(spark, dir).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet == expected)
    val dir2 = freshDir("theta_ice")
    Iceberg.write(spark, dir2, target)
    Iceberg.mergeGeneral(spark, dir2, ranges, Seq.empty,
      matched = Seq(MatchedUpdate(None,
        Some(Map("v" -> src("nv"))))), matchExtra = Some(theta),
      thetaFullScan = true)
    assert(Iceberg.snapshot(spark, dir2).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet == expected)
    // OVERLAPPING ranges: a target row matches two source rows — the
    // cardinality check refuses before anything lands
    val overlap = Seq((2L, 5L, -1.0), (4L, 8L, -2.0))
      .toDF("lo", "hi", "nv").coalesce(1)
    val e2 = intercept[IllegalArgumentException] {
      DeltaLake.mergeGeneral(spark, dir, overlap, Seq.empty,
        matched = Seq(MatchedUpdate(None,
          Some(Map("v" -> src("nv"))))), matchExtra = Some(theta),
        thetaFullScan = true)
    }
    assert(e2.getMessage.contains("more than one source row"),
      e2.getMessage)
    // SQL route: conf-gated opt-in
    val wh = freshDir("theta_sql")
    DeltaLake.write(spark, new java.io.File(wh, "t").getAbsolutePath,
      target)
    GraftCatalog.register(spark, wh, "db.t", "graft-deltalake", "t")
    spark.conf.set("spark.sql.catalog.mth",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mth.warehouse", wh)
    ranges.createOrReplaceTempView("theta_src")
    val sqlText =
      """MERGE INTO mth.db.t t USING theta_src s
        |ON t.id >= s.lo AND t.id <= s.hi
        |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin
    intercept[Exception] { spark.sql(sqlText) }
    spark.conf.set("spark.graft.merge.allowThetaFullScan", "true")
    try {
      spark.sql(sqlText)
      assert(spark.sql("SELECT id, v FROM mth.db.t").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet == expected)
    } finally spark.conf
      .unset("spark.graft.merge.allowThetaFullScan")
  }

  test("SQL bridge: WHEN NOT MATCHED BY SOURCE referencing a source " +
      "column refuses (out of scope)") {
    val wh = freshDir("sqlscope")
    DeltaLake.write(spark, new java.io.File(wh, "t").getAbsolutePath,
      target)
    GraftCatalog.register(spark, wh, "db.t", "graft-deltalake", "t")
    spark.conf.set("spark.sql.catalog.mscope",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mscope.warehouse", wh)
    source.createOrReplaceTempView("mrg_src2")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO mscope.db.t t
          |USING mrg_src2 s
          |ON t.id = s.id
          |WHEN NOT MATCHED BY SOURCE AND s.flag = 1 THEN DELETE
          |""".stripMargin)
    }
    assert(e.getMessage != null)
  }
}
