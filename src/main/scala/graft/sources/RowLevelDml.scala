package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.StructType

import graft.sources.MergeActions._

/** Row-level DML planning shared by the copy-on-write writers of
  * [[DeltaLake]] and [[Iceberg]]: UPDATE's SET list, the hit-file probe,
  * DELETE's per-file row bitmaps, and the planning of a general-form
  * MERGE (its checks, the cast source, the cardinality rule, the hit
  * files, the insert rows and the joined hit frame). Each format reads
  * its table through a [[RowLevelDml.Table]] and keeps what differs:
  * candidate pruning, the commit, the delete encoding, and Delta's row
  * contracts (identity allocation, generated columns, CHECK constraints,
  * the change data feed), applied over the frames planned here.
  */
private[sources] object RowLevelDml {

  /** One version of a table as the planning reads it; `F` is the
    * format's live-file entry.
    */
  trait Table[F] {
    def schema: StructType
    def partitionColumns: Seq[String]
    def files: Seq[F]

    /** The live rows of `files`, plus `_metadata` when `withMeta`. */
    def scan(files: Seq[F], withMeta: Boolean = false): DataFrame

    /** `f`'s absolute local path. */
    def localPath(f: F): String
  }

  /** `_metadata.file_path` back to the local absolute path. The column
    * is the `PartitionedFile`'s URL-encoded URI rendering — scheme
    * optional (`file:/…`, `file:///…`, or bare) and special characters
    * escaped (a partition dir with a space renders `%20`) — so parse it
    * as a URI and take the decoded path.
    */
  private def metaPathToLocal(p: String): String = {
    val u = java.net.URI.create(p)
    Option(u.getPath).filter(_.nonEmpty).getOrElse(p)
  }

  /** UPDATE's SET list resolved against `t`. Keys resolve
    * case-insensitively like SQL (unknown names pass through to the
    * data-column refusal); two keys naming one column are refused, never
    * last-wins. Self-assignments (`SET p = p`) to partition or
    * `identity` columns are no-move no-ops and dropped — the SQL bridge
    * lowers all-self statements wholesale and the analyzer aligns
    * fill-ins for every column — and an all-self list becomes one
    * data-column self-assignment, since the statement must still rewrite
    * the matched rows. Any other value on an identity column (writer
    * allocated, immutable) or a partition column (a row move between
    * partitions, not a rewrite) is refused.
    */
  def updateSet(who: String, t: Table[_], rawSet: Map[String, Column],
      identity: Set[String] = Set.empty): Map[String, Column] = {
    val fields = t.schema.fieldNames.toSeq
    val canonical = rawSet.toSeq.map { case (k, v) =>
      (fields.find(_.equalsIgnoreCase(k)).getOrElse(k), k, v)
    }
    canonical.groupBy(_._1).foreach { case (c, ks) =>
      require(ks.length == 1, s"$who: duplicate SET target '$c' " +
        s"(raw keys ${ks.map(_._2).mkString(", ")})")
    }
    val set = canonical.map { case (c, _, v) => c -> v }.toMap
    require(set.nonEmpty, s"$who: empty SET")
    val dataCols = fields.filterNot(t.partitionColumns.contains)
    val noOps = set.filter { case (c, e) =>
      (identity(c) || t.partitionColumns.contains(c)) &&
        e.toString == col(c).toString
    }
    val rest = set -- noOps.keys
    val effective =
      if (rest.nonEmpty || noOps.isEmpty) rest
      else {
        val carrier = dataCols.find(c => !identity(c)).getOrElse(
          throw new IllegalArgumentException(s"$who: no non-identity " +
            "data column to carry the self-assignment rewrite"))
        Map(carrier -> col(carrier))
      }
    require(effective.keySet.intersect(identity).isEmpty,
      s"$who: SET touches identity column(s) " +
        s"${effective.keySet.intersect(identity).mkString(", ")} — " +
        "identity values are writer-allocated and immutable")
    require(effective.keySet.subsetOf(dataCols.toSet),
      s"$who: SET columns ${effective.keySet} must be data columns " +
        "(updating a partition column is a move, not a rewrite) — data " +
        s"columns: $dataCols")
    effective
  }

  /** Column `c` after UPDATE's `set`: the assigned value on rows where
    * `predicate` holds, else the old value — every value reads the OLD
    * row, and a NULL predicate leaves the row untouched. The cast target
    * is nullable: a nested `withField` rebuild yields nullable members,
    * which cannot cast to a stored non-nullable struct (the reader
    * forces nullability anyway, [[LakeScan.asNullable]]).
    */
  def setValue(t: Table[_], predicate: Column, set: Map[String, Column])(
      c: String): Column = set.get(c) match {
    case Some(e) =>
      when(predicate, e.cast(LakeScan.asNullable(t.schema(c).dataType)))
        .otherwise(col(c))
    case None => col(c)
  }

  /** The files among `candidates` holding a row of any of `probes`
    * (frames over `t.scan(_, withMeta = true)`): one distributed job per
    * probe, whose driver result is file paths only.
    */
  def hitFiles[F](t: Table[F], candidates: Seq[F],
      probes: DataFrame*): Seq[F] = {
    val paths = probes.flatMap(_.select(col("_metadata.file_path"))
      .distinct().as[String](Encoders.STRING).collect()
      .map(metaPathToLocal)).toSet
    candidates.filter(f => paths.contains(t.localPath(f)))
  }

  /** The files among `candidates` holding a row matching `predicate`. */
  def matchingFiles[F](t: Table[F], candidates: Seq[F],
      predicate: Column): Seq[F] =
    if (candidates.isEmpty) Seq.empty
    else hitFiles(t, candidates,
      t.scan(candidates, withMeta = true).filter(predicate))

  /** DELETE's rows: per file among `candidates` holding a row matching
    * `predicate`, the bitmap of those rows' indexes, in file-path order.
    * ONE distributed job through the format's normal read (existing
    * deletes apply, so a dead row cannot match again); the bitmaps are
    * built on the executors and only roaring-compressed bytes reach the
    * driver, never raw row indexes.
    */
  def deletedRows[F](t: Table[F], candidates: Seq[F],
      predicate: Column): Seq[(F, DeletionVectors.Bitmap64)] = {
    val scan = t.scan(candidates, withMeta = true)
    val spark = scan.sparkSession
    import spark.implicits._
    val perFile: Array[(String, Array[Byte])] = scan.filter(predicate)
      .select(col("_metadata.file_path"), col("_metadata.row_index"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (p, it) =>
        val bm = new DeletionVectors.Bitmap64
        it.foreach(r => bm.add(r._2))
        (p, bm.serialize())
      }.collect()
    val byPath = candidates.map(f => t.localPath(f) -> f).toMap
    perFile.sortBy(_._1).toSeq.map { case (p, bytes) =>
      val local = metaPathToLocal(p)
      byPath.getOrElse(local, throw new IllegalStateException(
        s"delete scan surfaced a file the snapshot does not list: $local")) ->
        DeletionVectors.deserialize(bytes)
    }
  }

  /** A general-form MERGE planned over one table version: the hit files
    * (matched ∪ by-source affected), the cast and cached source, and the
    * rows to insert in the table's schema.
    */
  final class MergePlan[F] private[RowLevelDml] (t: Table[F],
      keys: Seq[String], matched: Seq[Matched],
      notMatched: Seq[NotMatchedInsert], bySource: Seq[BySource],
      matchExtra: Option[Column], identity: Set[String],
      src: DataFrame, sRenAll: DataFrame, pairCond: Column,
      val hits: Seq[F], val insertRows: DataFrame) {

    /** Whether any source row inserts; probed once. */
    lazy val inserts: Boolean = notMatched.nonEmpty && !insertRows.isEmpty

    /** The hit files' rows: the target columns by name, every source
      * column as `__s_<name>`, and `__m` (non-null = the row matched).
      */
    def joined: DataFrame = {
      val tgt = t.scan(hits)
      if (matched.isEmpty)
        // by-source actions see only the target row, so only the match
        // bit is needed — a semi/anti pair computes it without the left
        // join, which would write target rows twice when the source
        // carries duplicate keys (legal here: only a matched action with
        // an ambiguous source is the cardinality violation)
        tgt.join(sRenAll, pairCond, "left_semi").withColumn("__m", lit(true))
          .unionByName(tgt.join(sRenAll, pairCond, "left_anti")
            .withColumn("__m", lit(null).cast("boolean")))
      else if (keys.isEmpty)
        // theta: the pair condition IS the join condition (cardinality
        // pre-checked, so the left join cannot fan out)
        tgt.join(sRenAll.withColumn("__m", lit(true)), pairCond, "left")
      else tgt.join(src.select(keys.map(col) ++
          src.columns.map(c => col(c).as(s"$SrcPrefix$c")) :+
          lit(true).as("__m"): _*), keys, "left")
        // a key-equal pair failing the extra condition is NOT matched
        // (it falls to the by-source scope)
        .withColumn("__m", when(col("__m").isNotNull &&
          matchExtra.getOrElse(lit(true)), lit(true)))
    }

    /** [[joined]] with each row's outcome and new values
      * ([[MergeActions.resolveRows]]); identity columns keep the
      * target's value under `UPDATE SET *`.
      */
    def resolved: DataFrame = resolveRows(t.schema, keys, joined, matched,
      bySource, pinned = identity)

    /** The table's columns from `resolved`'s `__v_` values. */
    val newCols: Seq[Column] =
      t.schema.fieldNames.toIndexedSeq.map(f => col(s"__v_$f").as(f))

    /** The rows `resolved` keeps, in the table's columns. */
    def rewritten(resolved: DataFrame): DataFrame =
      resolved.filter(!(col("__outcome") <=> "delete")).select(newCols: _*)
  }

  /** Plan a general-form MERGE ([[MergeActions]]) of `source` into `t`
    * and hand it to `commit`; -1 when it would change nothing. The ON
    * condition is key equality on `keys` plus `matchExtra`; a pure theta
    * ON (no keys) is accepted only behind `thetaFullScan`. `identity`
    * columns are writer-allocated and immutable, `defaults` are the
    * columns' insert defaults; either may be missing from the source.
    *
    * Scale shape: the matched probe and the by-source anti-join are
    * ordinary Catalyst joins column-pruned to the keys (+condition
    * columns); the hit files are those holding a matched row or a
    * target-only row some by-source action applies to (an unconditioned
    * one legitimately touches every file without a match), and only
    * they are rewritten. Duplicate non-null source keys are refused when
    * matched actions exist (the SQL cardinality violation); NULL keys
    * match nothing, so those rows fall to the insert actions.
    */
  def merge[F](who: String, t: Table[F], source: DataFrame,
      keys: Seq[String], matched: Seq[Matched],
      notMatched: Seq[NotMatchedInsert], bySource: Seq[BySource],
      matchExtra: Option[Column], thetaFullScan: Boolean,
      identity: Set[String] = Set.empty,
      defaults: Map[String, Column] = Map.empty)(
      commit: MergePlan[F] => Long): Long = {
    val schema = t.schema
    // a THETA-ONLY ON has no hit-file locality: the probe, the
    // cardinality check and the rewrite all scan the full table, so it
    // takes an explicit opt-in
    require(keys.nonEmpty || (thetaFullScan && matchExtra.isDefined),
      s"$who: empty key list — a pure theta ON has no file locality; " +
        "pass thetaFullScan = true (with the theta condition as " +
        "matchExtra) to accept the full-table rewrite")
    require(keys.forall(schema.fieldNames.contains),
      s"$who: keys $keys must be table columns")
    validate(who, schema, keys, t.partitionColumns, matched, notMatched,
      bySource, autoCols = identity ++ defaults.keySet)
    (matched.collect { case MatchedUpdate(_, Some(s)) => s } ++
      bySource.collect { case BySourceUpdate(_, s) => s })
      .foreach(_.keys.foreach(c => require(!identity(c),
        s"$who: identity column '$c' is immutable — UPDATE SET may not " +
          "assign it")))
    require(t.partitionColumns.forall(keys.contains),
      s"$who: partition columns (${t.partitionColumns.mkString(",")}) " +
        "must be merge keys — a non-key partition column would let a " +
        "match move rows across partitions")
    val srcCols = source.schema.fieldNames.toIndexedSeq
    require(keys.forall(srcCols.contains),
      s"$who: the source must carry the key columns $keys — source: " +
        s"$srcCols")
    val starNeeds = matched.exists {
      case MatchedUpdate(_, None) => true
      case _ => false
    } || notMatched.exists(_.values.isEmpty)
    require(!starNeeds || schema.fieldNames
        .filterNot(c => identity(c) || defaults.contains(c))
        .forall(srcCols.contains),
      s"$who: UPDATE SET * / INSERT * need the source to carry every " +
        s"table column — table: ${schema.fieldNames.toSeq}, source: " +
        s"$srcCols")
    // source columns the table knows cast to the table's types (nullable
    // targets, see [[setValue]]); source-only columns (condition inputs)
    // pass through
    val src = source.select(srcCols.map { c =>
      schema.find(_.name == c)
        .map(f => col(c).cast(LakeScan.asNullable(f.dataType)).as(c))
        .getOrElse(col(c))
    }: _*).cache()
    try {
      if (matched.nonEmpty && keys.nonEmpty) {
        val keyPred = keys.map(k => col(k).isNotNull).reduce(_ && _)
        require(src.filter(keyPred).groupBy(keys.map(col): _*).count()
            .filter(col("count") > 1).isEmpty,
          s"$who: duplicate keys in the source — an ambiguous match is " +
            "nondeterministic (the SQL cardinality violation)")
      }
      // every probe pairs the plain-target frame with an all-renamed
      // source frame, so ONE lowering of the ON condition serves all
      val sRenAll = src.select(
        srcCols.map(c => col(c).as(s"$SrcPrefix$c")): _*)
      val pairCond = (keys.map(k => col(k) === col(s"$SrcPrefix$k")) :+
        matchExtra.getOrElse(lit(true))).reduce(_ && _)
      if (matched.nonEmpty && keys.isEmpty) {
        // theta cardinality: each target row matches at most ONE source
        // row — the pair count against the matched-row count (two full
        // joins: the documented cost of theta mode)
        val all = t.scan(t.files)
        require(all.join(sRenAll, pairCond).count() ==
            all.join(sRenAll, pairCond, "left_semi").count(),
          s"$who: a target row matches more than one source row under " +
            "the theta condition — an ambiguous match is " +
            "nondeterministic (the SQL cardinality violation)")
      }
      val target = t.scan(t.files, withMeta = true)
      val matchedProbe =
        if (matched.isEmpty) None
        else Some(target.join(sRenAll, pairCond, "left_semi"))
      val bySourceProbe =
        if (bySource.isEmpty) None
        else Some(target.join(sRenAll, pairCond, "left_anti")
          .filter(bySource.map(_.cond.getOrElse(lit(true))).reduce(_ || _)))
      val hits = hitFiles(t, t.files,
        (matchedProbe ++ bySourceProbe).toSeq: _*)
      // NOT MATCHED: no target row satisfies the full pair condition
      // (a NULL key never equals one; a key-equal pair failing the extra
      // condition does not match either)
      val insertRows =
        if (notMatched.isEmpty) src.sparkSession.createDataFrame(
          src.sparkSession.sparkContext.emptyRDD[Row], schema)
        else resolveInserts(schema,
          sRenAll.join(t.scan(t.files), pairCond, "left_anti")
            .select(srcCols.map(c => col(s"$SrcPrefix$c").as(c)): _*),
          notMatched, defaults)
      val plan = new MergePlan(t, keys, matched, notMatched, bySource,
        matchExtra, identity, src, sRenAll, pairCond, hits, insertRows)
      if (hits.isEmpty && !plan.inserts) -1L else commit(plan)
    } finally { src.unpersist(); () }
  }
}
