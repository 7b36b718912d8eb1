package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Native APACHE ICEBERG table reader — the second lakehouse format
  * behind the same seam as [[DeltaLake]], implemented directly against
  * the open Iceberg table spec (iceberg.apache.org/spec): a table is a
  * directory of data files plus `metadata/` holding versioned
  * `*.metadata.json` files; each SNAPSHOT points at an Avro
  * manifest-list, each manifest lists data files with per-file partition
  * values. The r8 "jar-blocked" rationale was wrong (the r8 verdict's
  * own finding): manifests need only the Avro CODEC
  * (`avro-1.12.1.jar`, on the Spark classpath), not the `spark-avro`
  * DataFrame source — the fold is driver-side, exactly how production
  * Iceberg clients resolve snapshots.
  *
  * Scale shape — same as Delta, via [[LakeScan]]: the manifest fold
  * yields the live-file list with partition values, so a snapshot is ONE
  * parquet scan over a log-backed [[LogFileIndex]] (no object-store
  * listing; partition predicates prune value groups at `listFiles`;
  * plan size O(1) in partition cardinality). Time travel
  * (`snapshotId = Some(id)`) resolves a historical snapshot from the
  * metadata's snapshot log; [[appended]] is the snapshot-to-snapshot
  * live-file diff — the commit-log delta for incremental maintenance.
  *
  * Supported: format-version 1/2 metadata, all spec partition
  * transforms (identity + hidden `days`/`hours`/`month`/`year`/
  * `bucket[N]`/`truncate[W]` with bounds-derived pruning —
  * [[IcebergTransforms]]), MERGE-ON-READ positional deletes (content=1
  * delete manifests of `(file_path, pos)` rows, subtracted as a
  * broadcast anti-join on the scan's own file/row metadata — see
  * [[scanOf]]) including SIGNED WINDOWS across them ([[changes]]),
  * equality deletes (content=2, null-safe value anti-joins with
  * sequence-number scoping), and column RENAMES (the read schema
  * carries the spec's field ids as `parquet.field.id` metadata and the
  * scan matches parquet columns BY ID, so pre-rename files read
  * correctly under post-rename names; current reads resolve the current
  * schema, time travel each snapshot's own). Signed windows also net
  * in-window equality deletes and DELETE-FILE REMOVALS (compaction /
  * undelete) via the row-identity diff arm of [[changes]]. Fail-fast
  * (never silently wrong): unsupported types, schema drift inside a
  * signed window, and data files carrying no field ids at all (they
  * need the spec's name-mapping).
  */
object Iceberg {

  private val M = new ObjectMapper()

  /** Per-RELATION reader options forcing parquet FIELD-ID column
    * resolution: Iceberg read schemas carry each field's spec id as
    * `parquet.field.id` metadata ([[structFromIceberg]]), and under
    * this flag the parquet reader matches file columns BY ID — what
    * makes renamed columns read correctly from pre-rename files.
    * Passed on every data-file read (scan relations and the COW
    * rewrites' direct reads) instead of `spark.conf.set`: relation
    * options win over the session conf in the scan's Hadoop
    * configuration, so the flag never leaks into unrelated parquet
    * reads whose schemas happen to carry field-id metadata.
    */
  private[sources] val FieldIdReadOpts: Map[String, String] =
    Map("spark.sql.parquet.fieldId.read.enabled" -> "true")

  // size comes from the MANIFEST (file_size_in_bytes is required by
  // the spec): the scan never stats the filesystem per file.
  // `seq` is the DATA SEQUENCE NUMBER (v2 row-level-delete scoping:
  // an equality delete applies only to data files with STRICTLY
  // smaller seq); `content` 0 = data, 1 = positional deletes, 2 =
  // equality deletes (then `equalityIds` names the spec field ids the
  // delete rows match on). A FORMAT-VERSION 3 deletion vector is a
  // content=1 entry whose `path` is a PUFFIN file and whose `dvRef`
  // carries the blob location + referenced data file ([[Puffin]]).
  final case class IceFile(path: String,
      partitionValues: Map[String, String],
      stats: Option[String] = None, size: Option[Long] = None,
      content: Int = 0, seq: Long = 0L, equalityIds: Seq[Int] = Seq.empty,
      dvRef: Option[Puffin.DvRef] = None,
      format: String = "PARQUET") {
    /** Identity of one DELETE-FILE instance for window diffs: a plain
      * delete file is its path, but several DV blobs share one Puffin
      * path — a DV's identity is (path, blob offset). A REWRITTEN DV
      * (same data file, more deletes) is therefore a remove+add pair,
      * which is exactly how the signed diff must see it.
      */
    def delId: String =
      dvRef.map(r => s"$path@${r.offset}").getOrElse(path)
  }

  final case class SnapshotMeta(snapshotId: Long, schema: StructType,
      partitionColumns: Seq[String], files: Seq[IceFile],
      deleteFiles: Seq[IceFile] = Seq.empty,
      transforms: Seq[IcebergTransforms.Field] = Seq.empty,
      fieldIdToName: Map[Int, String] = Map.empty,
      allTransforms: Seq[IcebergTransforms.Field] = Seq.empty,
      nameMapping: Map[Int, Seq[String]] = Map.empty,
      schemaCount: Int = 1) {
    /** The spec in the writer's string syntax (DML fixtures re-commit
      * a table's existing spec verbatim). Always the DEFAULT spec —
      * never the union (`allTransforms`), which exists only for
      * pruning.
      */
    def specStrings: Seq[String] =
      transforms.map(IcebergTransforms.specString)

    /** Transform fields across EVERY spec (deduped by field name,
      * conflicting definitions dropped) — the PRUNING surface under
      * spec evolution: a pre-evolution file can still prune on the
      * fields its own spec carried even when the default spec dropped
      * them. Falls back to the default spec's fields.
      */
    def pruneTransforms: Seq[IcebergTransforms.Field] =
      if (allTransforms.isEmpty) transforms else allTransforms
  }

  // ---- metadata resolution ----------------------------------------------

  private def metadataDir(path: String) = new java.io.File(path, "metadata")

  /** Version ordinal of a metadata file name — BOTH public layouts:
    * the Hadoop-table `v<N>.metadata.json` and the catalog layout
    * `<NNNNN>-<uuid>.metadata.json` (written by catalog-managed tables;
    * the catalog tracks the current pointer, the number orders the
    * history). Unrecognized names return None.
    */
  private def metadataVersionOf(name: String): Option[Long] =
    if (name.matches("v\\d+\\.metadata\\.json"))
      Some(name.stripPrefix("v").stripSuffix(".metadata.json").toLong)
    else if (name.matches("\\d+-[0-9a-fA-F-]{36}\\.metadata\\.json"))
      Some(name.takeWhile(_.isDigit).toLong)
    else None

  /** The latest table metadata file (highest version ordinal across
    * both naming layouts; `version-hint.text` is a hint only — the
    * enumeration is authoritative, same philosophy as Delta's
    * `_last_checkpoint`).
    */
  private def latestMetadataFile(path: String): java.io.File = {
    val dir = metadataDir(path)
    val files = Option(dir.listFiles()).toSeq.flatten
      .flatMap(f => metadataVersionOf(f.getName).map(v => (v, f)))
    require(files.nonEmpty, s"not an Iceberg table (no metadata/*.metadata.json): $path")
    files.maxBy(_._1)._2
  }

  private def readMetadata(path: String): JsonNode =
    M.readTree(java.nio.file.Files.readString(latestMetadataFile(path).toPath))

  /** Resolve a NAMED REF — a branch or tag from the metadata's `refs`
    * map (spec "Snapshot References": tags pin a snapshot for
    * retention/audit, branches are independent lineages; `main` is
    * the implicit branch `current-snapshot-id` tracks). Reads treat
    * both kinds identically — a ref IS its snapshot id; retention
    * fields are writer-side policy. A missing ref is loud and names
    * what exists.
    */
  def snapshotIdForRef(path: String, ref: String): Long = {
    val md = readMetadata(path)
    val refs = Option(md.get("refs")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue).toMap).getOrElse(Map.empty)
    refs.get(ref).map(_.get("snapshot-id").asLong).getOrElse {
      if (ref == "main") currentSnapshotId(path)
      else throw new IllegalArgumentException(
        s"Iceberg: no ref '$ref' on $path (available: " +
          s"${(refs.keySet + "main").toSeq.sorted.mkString(", ")})")
    }
  }

  /** Snapshot read of a branch or tag — `VERSION AS OF 'ref-name'`. */
  def snapshotRef(spark: SparkSession, path: String,
      ref: String): DataFrame =
    snapshot(spark, path, Some(snapshotIdForRef(path, ref)))

  /** All named refs → head snapshot id (empty map on a fresh table). */
  private def refHeads(path: String): Map[String, Long] = {
    val md = readMetadata(path)
    Option(md.get("refs")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.get("snapshot-id").asLong)
      .toMap).getOrElse(Map.empty)
  }

  /** The current snapshot id of the table. */
  def currentSnapshotId(path: String): Long = {
    val md = readMetadata(path)
    val id = Option(md.get("current-snapshot-id")).map(_.asLong(-1L))
      .getOrElse(-1L)
    require(id >= 0, s"Iceberg table at $path has no current snapshot")
    id
  }

  /** The snapshot current as of `timestampMs` — `TIMESTAMP AS OF`
    * resolution from the metadata's snapshot log (`timestamp-ms` is
    * required in every format version). Fails if the earliest snapshot
    * is already after the timestamp.
    */
  def snapshotIdAt(path: String, timestampMs: Long): Long = {
    val md = readMetadata(path)
    val at = Option(md.get("snapshots")).toSeq
      .flatMap(_.elements().asScala.toSeq)
      .filter(_.get("timestamp-ms").asLong <= timestampMs)
    require(at.nonEmpty,
      s"no Iceberg snapshot of $path at or before $timestampMs (the " +
        "earliest snapshot is newer) — nothing to time-travel to")
    // ties (fast consecutive commits in one millisecond) break toward
    // the LAST list entry — append order; maxBy would keep the FIRST
    // max and silently read a superseded snapshot
    val best = at.map(_.get("timestamp-ms").asLong).max
    at.filter(_.get("timestamp-ms").asLong == best)
      .last.get("snapshot-id").asLong
  }

  /** `TIMESTAMP AS OF` snapshot — [[snapshotIdAt]] then [[snapshot]]. */
  def snapshotAsOf(spark: SparkSession, path: String,
      timestampMs: Long): DataFrame =
    snapshot(spark, path, Some(snapshotIdAt(path, timestampMs)))

  /** All snapshot ids, oldest first (commit order by sequence/timestamp). */
  def snapshotIds(path: String): Seq[Long] = {
    val md = readMetadata(path)
    // uniform key: timestamp-ms is required in every format version;
    // sequence-number is v2-only, and mixing the two key spaces across
    // a v1->v2 upgrade would interleave the history
    Option(md.get("snapshots")).toSeq
      .flatMap(_.elements().asScala.toSeq)
      .sortBy(_.get("timestamp-ms").asLong)
      .map(_.get("snapshot-id").asLong)
  }

  /** (sequence key, snapshot id) ascending — the STREAMING offset
    * space ([[graft.streaming.IcebergLogSource]]): the snapshot's
    * `sequence-number` when present (v2 — strictly increasing, and
    * STABLE across snapshot expiration, unlike history ordinals),
    * else its required `timestamp-ms`. The `spark` parameter pins the
    * session the caller resolved the table under (unused here — the
    * read is metadata-only — but keeps the signature uniform with the
    * other resolution entry points).
    */
  def snapshotSeqIds(spark: SparkSession, path: String)
      : Seq[(Long, Long)] = {
    val md = readMetadata(path)
    Option(md.get("snapshots")).toSeq
      .flatMap(_.elements().asScala.toSeq)
      .map(s => (Option(s.get("sequence-number")).map(_.asLong)
        .getOrElse(s.get("timestamp-ms").asLong),
        s.get("snapshot-id").asLong))
      .sortBy(_._1)
  }

  // ---- the manifest fold -------------------------------------------------

  /** Resolve a snapshot: schema (current table schema — Iceberg reads
    * resolve against it; pre-evolution files surface added columns as
    * null through the parquet reader's missing-column semantics),
    * identity partition columns, and the live data files with their
    * partition values.
    */
  def resolve(spark: SparkSession, path: String,
      snapshotId: Option[Long] = None): SnapshotMeta = {
    val md = readMetadata(path)
    // v1/v2 plus v3's deletion vectors are implemented; a FUTURE
    // format version may change row-visibility semantics this reader
    // doesn't know — reading it anyway could be silently wrong
    val formatVersion = Option(md.get("format-version")).map(_.asInt)
      .getOrElse(1)
    require(formatVersion >= 1 && formatVersion <= 3,
      s"Iceberg: format-version $formatVersion at $path is newer than " +
        "this reader supports (1-3)")
    val wantId = snapshotId.getOrElse(currentSnapshotId(path))
    val snap = Option(md.get("snapshots")).toSeq
      .flatMap(_.elements().asScala.toSeq)
      .find(_.get("snapshot-id").asLong == wantId)
      .getOrElse(throw new IllegalArgumentException(
        s"Iceberg: no snapshot $wantId in $path"))

    // schema selection (Iceberg semantics): a CURRENT read resolves
    // against the table's CURRENT schema (current-schema-id — a rename
    // is a metadata-only update that must be visible immediately, even
    // before the next snapshot); TIME TRAVEL resolves the snapshot's
    // own `schema-id` (v2), so historical reads surface the names of
    // their era. Per-snapshot resolution is also what makes the
    // schema-drift guards in [[changes]]/[[isAppendOnly]] real (r9
    // advice). RENAMES are safe (r11): the read schema carries each
    // field's id as `parquet.field.id` metadata ([[structFromIceberg]])
    // and the scan matches parquet columns BY FIELD ID, so pre-rename
    // files read correctly under post-rename names — the previous
    // fail-fast on detected renames is gone.
    val schemaId = (if (snapshotId.isDefined)
        Option(snap.get("schema-id")).map(_.asInt)
          .orElse(Option(md.get("current-schema-id")).map(_.asInt))
      else Option(md.get("current-schema-id")).map(_.asInt)
        .orElse(Option(snap.get("schema-id")).map(_.asInt)))
    val schemaNode = Option(md.get("schemas")).flatMap { ss =>
      schemaId.flatMap(id =>
        ss.elements().asScala.find(_.get("schema-id").asInt == id))
    }.orElse(Option(md.get("schema")))
      .getOrElse(throw new IllegalStateException(
        s"Iceberg metadata at $path carries no schema (snapshot " +
          s"schema-id $schemaId not in the schemas list)"))
    val schema = structFromIceberg(schemaNode)

    // partition specs, ALL of them keyed by spec-id (v2 keeps a
    // `partition-specs` list + `default-spec-id`; v1 metadata carries a
    // bare `partition-spec` fields array = spec 0 — reading only the v2
    // key would silently treat a v1 table as unpartitioned). The FULL
    // map is what makes PARTITION SPEC EVOLUTION readable: each
    // manifest's partition records decode against the spec the manifest
    // was written under, never the default (r11 — previously fail-fast).
    val defaultSpecId =
      Option(md.get("default-spec-id")).map(_.asInt).getOrElse(0)
    val specNodes: Map[Int, Seq[JsonNode]] =
      Option(md.get("partition-specs")).map { ss =>
        ss.elements().asScala.map(sp => sp.get("spec-id").asInt ->
          sp.get("fields").elements().asScala.toSeq).toMap
      }.orElse(Option(md.get("partition-spec"))
        .map(f => Map(0 -> f.elements().asScala.toSeq)))
        .getOrElse(Map(0 -> Seq.empty))

    // field-id → (name, type) for decoding manifest bounds (the spec
    // keys bounds by field id; top-level primitive fields only)
    val idMap: Map[Int, (String, DataType)] =
      schemaNode.get("fields").elements().asScala.map { f =>
        f.get("id").asInt ->
          (f.get("name").asText, typeFromIceberg(f.get("type")))
      }.toMap

    // spec fields, transform-aware: IDENTITY fields surface as scan
    // partition columns (keyed by the SOURCE column name, resolved via
    // source-id when present); non-identity fields (days/hours/month/
    // year/bucket/truncate) are DERIVED values used for file pruning
    // only — the source column stays in the data files (hidden
    // partitioning). Unknown transforms fail fast in parseTransform.
    def mkTransforms(partFields: Seq[JsonNode])
        : Seq[IcebergTransforms.Field] = partFields.map { f =>
      val tr = IcebergTransforms.parseTransform(f.get("transform").asText)
      val fieldName = f.get("name").asText
      val (srcName, srcType) = Option(f.get("source-id")).map(_.asInt)
        .flatMap(idMap.get)
        .getOrElse((fieldName,
          schema.find(_.name == fieldName).map(_.dataType)
            .getOrElse(NullType)))
      IcebergTransforms.Field(fieldName, srcName, srcType, tr)
    }
    val specs: Map[Int, Seq[IcebergTransforms.Field]] =
      specNodes.map { case (id, fs) => id -> mkTransforms(fs) }
    val transforms = specs.getOrElse(defaultSpecId,
      throw new IllegalStateException(s"Iceberg metadata at $path names " +
        s"default-spec-id $defaultSpecId but the partition-specs list " +
        s"only holds ids ${specNodes.keys.toSeq.sorted.mkString(",")}"))
    val partCols = transforms
      .filter(_.transform == IcebergTransforms.Identity)
      .map(_.sourceName)

    // manifest list → manifests → live data files + live DELETE files.
    // Merge-on-read: a delete manifest (content=1) lists POSITIONAL
    // delete files — parquet of (file_path, pos) rows — and EQUALITY
    // delete files — parquet of the equality columns, deleting every
    // row of an OLDER data file (data sequence number strictly
    // smaller) whose values match. Sequence numbers come from the
    // entry's `sequence_number` when present, else the entry's
    // `snapshot_id` (this fixture writer's ids ARE the sequence
    // ordinals), else 0 — conservative for tables without either.
    val mlPath = resolveRef(path, snap.get("manifest-list").asText)
    val files = mutable.LinkedHashMap.empty[String, IceFile]
    val deletes = mutable.LinkedHashMap.empty[String, IceFile]
    // absent optional fields (v1 files have no `content`) read as null
    def optF(r: GenericRecord, n: String): AnyRef =
      if (r.getSchema.getField(n) != null) r.get(n) else null
    avroRecords(mlPath).foreach { mf =>
      val content = Option(optF(mf, "content")).map(_.toString.toInt)
        .getOrElse(0)
      require(content == 0 || content == 1,
        s"Iceberg: manifest content $content is not supported")
      // PARTITION SPEC EVOLUTION (r11): each manifest's partition
      // records decode against the spec the manifest was WRITTEN under
      // (its `partition_spec_id`), never the default — an older spec
      // has a different partition record shape, and decoding it with
      // the default's field names would surface null partition values
      // and silently wrong pruning. Transform fields a file's spec
      // lacks simply stay absent from its value map (pruning is
      // conservative on absence). The one layout this single-scan
      // reader cannot mix is IDENTITY evolution: identity columns are
      // constant-attached from the log instead of read from data, so
      // every live data manifest must agree on the identity set —
      // loud otherwise.
      val specId = Option(optF(mf, "partition_spec_id"))
        .map(_.toString.toInt).getOrElse(defaultSpecId)
      val mTransforms = specs.getOrElse(specId,
        throw new IllegalStateException(
          s"Iceberg: manifest ${optF(mf, "manifest_path")} names " +
            s"partition spec $specId but the metadata's partition-specs " +
            s"list only holds ids ${specs.keys.toSeq.sorted.mkString(",")}"))
      if (content == 0) {
        val mIdentity = mTransforms
          .filter(_.transform == IcebergTransforms.Identity)
          .map(_.sourceName).toSet
        require(mIdentity == partCols.toSet,
          s"Iceberg: manifest ${optF(mf, "manifest_path")} was written " +
            s"under partition spec $specId whose IDENTITY columns " +
            s"(${mIdentity.toSeq.sorted.mkString(",")}) differ from the " +
            s"default spec's (${partCols.sorted.mkString(",")}) — " +
            "identity-partition evolution changes which columns live in " +
            "the data files and is not supported by this reader " +
            "(transform-only spec evolution is)")
      }
      // the manifest-list entry's sequence number is the DEFAULT a null
      // entry-level number inherits (the spec's inheritance rule for
      // entries added by the manifest's own snapshot)
      val manifestSeq = Option(optF(mf, "sequence_number"))
        .map(_.toString.toLong)
      val mPath = resolveRef(path, mf.get("manifest_path").toString)
      avroRecords(mPath).foreach { entry =>
        val status = entry.get("status").toString.toInt
        val df = entry.get("data_file").asInstanceOf[GenericRecord]
        val fileContent = Option(optF(df, "content"))
          .map(_.toString.toInt).getOrElse(0)
        val fp = df.get("file_path").toString
        val fmt = df.get("file_format").toString
        // PUFFIN is legal ONLY for a v3 deletion-vector entry in a
        // delete manifest; data files stay parquet-only
        val isPuffin = fmt.equalsIgnoreCase("PUFFIN")
        // data files may be PARQUET, ORC, or AVRO (migrated estates —
        // r11 review item #4 and r12 verdict item #6); delete files
        // stay parquet (positional/equality) or Puffin (DVs)
        require(fmt.equalsIgnoreCase("PARQUET") ||
            ((fmt.equalsIgnoreCase("ORC") ||
              fmt.equalsIgnoreCase("AVRO")) && content == 0) ||
            (isPuffin && content == 1),
          s"Iceberg: file format $fmt not supported for $fp")
        val size = Option(optF(df, "file_size_in_bytes"))
          .map(_.toString.toLong)
        // sequence resolution: explicit entry number, else the
        // manifest's inherited default, else the entry's snapshot id
        // (this fixture writer's ids ARE the sequence ordinals; a REAL
        // v2 table always carries one of the first two, and v1 tables
        // — the only ones with neither — cannot hold delete files, so
        // the last fallback never scopes an actual delete)
        val seq = Option(optF(entry, "sequence_number"))
          .map(_.toString.toLong)
          .orElse(manifestSeq)
          .orElse(Option(optF(entry, "snapshot_id"))
            .map(_.toString.toLong))
          .getOrElse(0L)
        if (content == 1) {
          require(fileContent == 1 || fileContent == 2,
            s"Iceberg: file content $fileContent in a delete manifest " +
              "is not supported (1 = positional, 2 = equality)")
          if (isPuffin) {
            // v3 DELETION VECTOR: position deletes (content 1) whose
            // bitmap lives at (content_offset, content_size_in_bytes)
            // in the Puffin file and applies to exactly
            // `referenced_data_file`. All three fields are REQUIRED
            // for a DV entry — a missing one cannot be defaulted
            // without silently mis-applying the vector.
            require(fileContent == 1, s"Iceberg: Puffin delete file " +
              s"$fp with content $fileContent (deletion vectors are " +
              "position deletes)")
            val referenced = Option(optF(df, "referenced_data_file"))
              .map(_.toString).getOrElse(throw new IllegalArgumentException(
                s"Iceberg: deletion vector $fp carries no " +
                  "referenced_data_file — cannot apply"))
            val cOff = Option(optF(df, "content_offset"))
              .map(_.toString.toLong)
              .getOrElse(throw new IllegalArgumentException(
                s"Iceberg: deletion vector $fp carries no content_offset"))
            val cLen = Option(optF(df, "content_size_in_bytes"))
              .map(_.toString.toLong)
              .getOrElse(throw new IllegalArgumentException(
                s"Iceberg: deletion vector $fp carries no " +
                  "content_size_in_bytes"))
            val card = Option(optF(df, "record_count"))
              .map(_.toString.toLong)
            val dv = IceFile(fp, Map.empty, None, size, 1, seq,
              dvRef = Some(Puffin.DvRef(referenced, cOff, cLen, card)))
            if (status == 2) deletes.remove(dv.delId)
            else deletes.put(dv.delId, dv)
          } else {
            val eqIds: Seq[Int] =
              if (fileContent != 2) Seq.empty
              else Option(optF(df, "equality_ids")) match {
                case Some(c: java.util.Collection[_]) =>
                  c.asScala.toSeq.map(_.toString.toInt)
                case _ => throw new IllegalArgumentException(
                  s"Iceberg: equality delete file $fp carries no " +
                    "equality_ids — cannot apply")
              }
            if (status == 2) deletes.remove(fp)
            else deletes.put(fp,
              IceFile(fp, Map.empty, None, size, fileContent, seq, eqIds))
          }
        } else {
          require(fileContent == 0,
            s"Iceberg: file content $fileContent in a data manifest")
          if (status == 2) files.remove(fp) // DELETED entry
          else {
            val pv = Option(df.get("partition"))
              .map(_.asInstanceOf[GenericRecord]) match {
              case Some(p) => mTransforms.map { tf =>
                val key =
                  if (tf.transform == IcebergTransforms.Identity)
                    tf.sourceName
                  else tf.fieldName
                val v = if (p.getSchema.getField(tf.fieldName) != null)
                  Option(p.get(tf.fieldName)).map(_.toString).orNull
                else null
                key -> v
              }.toMap
              case None => Map.empty[String, String]
            }
            // per-file column bounds (spec: map<field-id, binary
            // single-value serialization>) → the shared stats-JSON shape;
            // absent fields (writers may omit bounds) and undecodable
            // entries are simply dropped (conservative)
            val stats = StatsSkip.statsJson(
              decodeBounds(optF(df, "lower_bounds"), idMap),
              decodeBounds(optF(df, "upper_bounds"), idMap))
            files.put(fp, IceFile(fp, pv, stats, size, 0, seq,
              format = fmt.toUpperCase))
          }
        }
      }
    }
    // pruning surface = UNION of every spec's fields, deduped by field
    // name; a field name two specs define DIFFERENTLY is dropped from
    // pruning entirely (conservative — its value's meaning is ambiguous)
    val unionTransforms = specs.values.flatten.toSeq
      .groupBy(_.fieldName).valuesIterator
      .filter(fs => fs.forall(_ == fs.head)).map(_.head).toSeq
    // ID-LESS ORC files resolve by name, which cannot survive schema
    // evolution — but that decision needs FOOTERS (an ORC file with
    // `iceberg.id` attributes resolves by field id, rename-proof), so
    // the guard moved into the scan ([[scanOf]]'s ORC arm); the
    // history size rides SnapshotMeta for it.
    val schemaCount = Option(md.get("schemas"))
      .map(_.elements().asScala.size).getOrElse(1)
    SnapshotMeta(wantId, schema, partCols, files.values.toSeq,
      deletes.values.toSeq, transforms,
      idMap.map { case (id, (name, _)) => id -> name },
      allTransforms = unionTransforms,
      nameMapping = parseNameMapping(md),
      schemaCount = schemaCount)
  }

  /** `schema.name-mapping.default` (spec "Name Mapping Serialization"):
    * field-id → the historical column names its data may appear under
    * in ID-LESS files (tables migrated from Hive/plain parquet carry
    * no `parquet.field.id`s — the mapping is how their columns resolve
    * to schema fields). Entries without a `field-id` are legal (they
    * mark file columns mapped to nothing) and skipped; NESTED mapped
    * fields fail fast — this reader resolves top-level columns only,
    * and silently flattening a nested mapping would mis-bind data.
    */
  private def parseNameMapping(md: JsonNode): Map[Int, Seq[String]] =
    Option(md.get("properties"))
      .flatMap(p => Option(p.get("schema.name-mapping.default")))
      .map(_.asText).map { json =>
        M.readTree(json).elements().asScala.flatMap { e =>
          require(Option(e.get("fields")).forall(f =>
              f.isNull || f.isEmpty),
            "Iceberg: nested name-mapping fields are not supported by " +
              "this reader (top-level column mapping only)")
          Option(e.get("field-id")).filterNot(_.isNull).map(_.asInt)
            .map(_ -> Option(e.get("names")).toSeq
              .flatMap(_.elements().asScala).map(_.asText).toSeq)
        }.toMap
      }.getOrElse(Map.empty)

  /** Snapshot read as of `snapshotId` (default: current) — ONE scan over
    * the log-backed index, same shape as [[DeltaLake.snapshot]].
    */
  def snapshot(spark: SparkSession, path: String,
      snapshotId: Option[Long] = None): DataFrame =
    scanOf(spark, path, resolve(spark, path, snapshotId))

  /** Snapshot with the `_metadata` struct exposed — the incremental-
    * source registration shape (see [[graft.ivm.DeltaLakeSnapshots]]).
    */
  def snapshotWithMeta(spark: SparkSession, path: String,
      snapshotId: Option[Long] = None): DataFrame =
    scanOf(spark, path, resolve(spark, path, snapshotId), withMeta = true)

  /** The rows of files live now (or at `toSnapshotId`) that were NOT
    * live at `afterSnapshotId` — the snapshot-to-snapshot commit delta
    * (append-only tables: exactly the appended rows).
    */
  def appended(spark: SparkSession, path: String, afterSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame = {
    val baseMeta = resolve(spark, path, Some(afterSnapshotId))
    val base = baseMeta.files.map(_.path).toSet
    val end = resolve(spark, path, toSnapshotId)
    // a delete file (or deletion vector) landing in the window is a
    // row-level delete the inserts-only delta cannot express — fail
    // fast (same contract as DeltaLake.appended under a DV window)
    require(baseMeta.deleteFiles.map(_.delId).toSet ==
        end.deleteFiles.map(_.delId).toSet,
      s"Iceberg.appended: snapshots ($afterSnapshotId, ${end.snapshotId}]" +
        s" of $path change the positional-delete file set — the window " +
        "holds row-level deletes; rebase the maintained view")
    scanOf(spark, path,
      end.copy(files = end.files.filterNot(f => base.contains(f.path))))
  }

  /** Signed row-level diff between two snapshots — the DELETE-AWARE
    * source, Iceberg edition (same contract as [[DeltaLake.changes]]):
    * Iceberg snapshots are COMPLETE file sets, so the file-level diff is
    * inserts = rows of files live at the end but not at the cut,
    * retracts = rows of cut-live files no longer live. A copy-on-write
    * DELETE (hit files marked DELETED, survivors rewritten) nets to
    * exactly the deleted rows under the signed algebra; a compaction
    * window degrades to rewrite-sized frames that net to zero — correct,
    * just not delta-sized (the file-set model has no `dataChange` flag
    * to tell them apart). Fail-fast on schema change in the window (the
    * frames would drift from the stored view they patch).
    *
    * MERGE-ON-READ windows (r11): POSITIONAL delete files landing in
    * the window are netted exactly — each new delete file names
    * `(file_path, pos)` rows, so the retract frame gains the rows of
    * SURVIVING data files at those positions that were still live at
    * the cut (cut-time delete files applied first: re-deleting an
    * already-dead position must not over-retract). Frames stay
    * delta-sized: the extra arm scans only the files the new deletes
    * name, semi-joined against the broadcast delete keys. Each frame
    * applies the delete files of ITS OWN side — inserts subtract the
    * END set (a new file born with deletes on it contributes only its
    * live rows), removed-file retracts subtract the CUT set (their
    * state when the view last saw them).
    *
    * DELETE-FILE REMOVALS (r11): a window that REMOVES delete files —
    * delete compaction (`rewrite_position_delete_files` maintenance:
    * old delete files replaced by a merged equivalent) or a semantic
    * UNDELETE (a delete file dropped without replacement) — routes
    * through the same general arm as equality deletes: the row-identity
    * diff of the surviving files under the cut's vs the end's COMPLETE
    * delete sets attributes every direction exactly. Rows dead at the
    * cut but live at the end (an undelete) join the INSERT frame; a
    * pure compaction diffs to zero rows on both sides (the merged file
    * kills the same positions) — delta-sized, no rebase. The touched
    * scan is pruned to files referenced by ANY changed delete file
    * (named by a changed positional delete, or bounds-intersecting a
    * changed equality delete). Removed delete files must still be
    * readable (physical cleanup lags logical removal on real tables;
    * a vacuumed delete file fails loudly at the parquet read).
    */
  def changes(spark: SparkSession, path: String, afterSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DeltaLake.Changes = {
    val cut = resolve(spark, path, Some(afterSnapshotId))
    val end = resolve(spark, path, toSnapshotId)
    require(cut.schema.json == end.schema.json,
      s"Iceberg.changes: snapshots ($afterSnapshotId, ${end.snapshotId}] " +
        "of " + path + " change the schema: a signed diff under an " +
        "evolved schema would drift from the view it patches — rebase " +
        "the maintained view from the current snapshot")
    val cutDelIds = cut.deleteFiles.map(_.delId).toSet
    val endDelIds = end.deleteFiles.map(_.delId).toSet
    val newDeletes =
      end.deleteFiles.filterNot(f => cutDelIds.contains(f.delId))
    val removedDeletes =
      cut.deleteFiles.filterNot(f => endDelIds.contains(f.delId))
    val cutPaths = cut.files.map(_.path).toSet
    val endPaths = end.files.map(_.path).toSet
    var inserts = scanOf(spark, path, end.copy(
      files = end.files.filterNot(f => cutPaths.contains(f.path))))
    // removed files retract at their CUT state: the END delete set may
    // include in-window deletes on them, but those rows were live when
    // the view last saw the file and must retract with it
    val removed = end.copy(
      files = cut.files.filterNot(f => endPaths.contains(f.path)),
      deleteFiles = cut.deleteFiles)
    var retracts = scanOf(spark, path, removed)
    val newPos = newDeletes.filter(f => f.content == 1 && f.dvRef.isEmpty)
    val newEq = newDeletes.filter(_.content == 2)
    // a DV landing (or being rewritten) in the window is a row-level
    // delete whose bitmap the general row-identity arm attributes
    // exactly — the positional fast path reads delete files as
    // parquet, which a Puffin DV is not
    val newDv = newDeletes.filter(_.dvRef.isDefined)
    if (removedDeletes.isEmpty && newEq.isEmpty && newDv.isEmpty &&
        newPos.nonEmpty) {
      // POSITIONAL-ONLY window (fast path): rows of files live on BOTH
      // sides that a new positional delete names — live at the cut
      // (cut deletes applied), now dead. The scan arm is pruned to the
      // files the delete rows NAME — one driver-side distinct over the
      // window's delete files (churn-bounded metadata, the same order
      // as the file list itself) — so the frame plans O(touched
      // files), never the snapshot (production engines get this from
      // the delete manifests' referenced-data-file bounds; the delete
      // files ARE that index here)
      import org.apache.spark.sql.functions.{broadcast, col, regexp_replace}
      val namedPaths = spark.read
        .parquet(newPos.map(f => resolveRef(path, f.path)): _*)
        .select(regexp_replace(col("file_path"), "^file:/+", "/")
          .as("p")).distinct().collect().map(_.getString(0)).toSet
      def stripped(rel: String): String =
        new org.apache.hadoop.fs.Path(resolveRef(path, rel)).toUri
          .toString.replaceFirst("^file:/+", "/")
      val surviving = end.files.filter(f => cutPaths.contains(f.path) &&
        (namedPaths.contains(f.path) || namedPaths.contains(stripped(f.path))))
      val named = posDeleteKeys(spark, path, surviving, newPos)
      val surv = scanOf(spark, path,
        end.copy(files = surviving, deleteFiles = cut.deleteFiles),
        withMeta = true)
      val newlyDead = surv.join(broadcast(named),
        regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
          === col("__mabs") &&
          col("_metadata.row_index") === col("__dpos"), "left_semi")
        .select(end.schema.fieldNames.toIndexedSeq.map(col): _*)
      retracts = retracts.unionByName(newlyDead)
    } else if (newEq.nonEmpty || removedDeletes.nonEmpty ||
        newDv.nonEmpty) {
      // GENERAL arm — EQUALITY deletes landed (the Flink CDC upsert
      // shape; possibly mixed with positional ones) and/or delete
      // files were REMOVED (compaction / undelete): attribution needs
      // the row-identity diff of the surviving files — rows live under
      // the CUT's complete delete set but dead under the END's are the
      // newly-dead rows (retract), rows dead at the cut but live at
      // the end are resurrected (insert — only possible under a
      // removal). This reuses the full delete application (null-safe
      // matching, sequence-number scoping, positional/equality
      // composition) on both sides and never double-counts a row hit
      // by both kinds. Scan pruning: a surviving file is TOUCHED only
      // if a CHANGED (new or removed) positional delete names it or a
      // changed equality delete's values intersect its manifest bounds
      // ([[eqTouched]] — driver-side over the churn-bounded delete
      // rows; conservative on nulls/no-bounds).
      import org.apache.spark.sql.functions.{col, regexp_replace}
      val changedPos = newPos ++
        removedDeletes.filter(f => f.content == 1 && f.dvRef.isEmpty)
      val changedEq = newEq ++ removedDeletes.filter(_.content == 2)
      // a changed (new, rewritten, or removed) DV touches exactly the
      // data file it references — the manifest names it directly, no
      // delete-file read needed for pruning
      val dvNamed: Set[String] =
        (newDv ++ removedDeletes.filter(_.dvRef.isDefined))
          .flatMap(_.dvRef).flatMap { r =>
            val abs = resolveRef(path, r.referenced)
            Seq(r.referenced, abs,
              new org.apache.hadoop.fs.Path(abs).toUri.toString
                .replaceFirst("^file:/+", "/"))
          }.toSet
      val surviving0 = end.files.filter(f => cutPaths.contains(f.path))
      val touched = eqTouched(spark, path, end, surviving0, changedPos,
        changedEq, dvNamed)
      def rowKey(df: DataFrame): DataFrame = df
        .withColumn("__fp", regexp_replace(
          col("_metadata.file_path"), "^file:/+", "/"))
        .withColumn("__ri", col("_metadata.row_index"))
      val atCut = rowKey(scanOf(spark, path,
        end.copy(files = touched, deleteFiles = cut.deleteFiles),
        withMeta = true))
      val atEnd = rowKey(scanOf(spark, path,
        end.copy(files = touched, deleteFiles = end.deleteFiles),
        withMeta = true))
      val newlyDead = atCut.join(atEnd.select("__fp", "__ri"),
          Seq("__fp", "__ri"), "left_anti")
        .select(end.schema.fieldNames.toIndexedSeq.map(col): _*)
      retracts = retracts.unionByName(newlyDead)
      if (removedDeletes.nonEmpty) {
        val newlyAlive = atEnd.join(atCut.select("__fp", "__ri"),
            Seq("__fp", "__ri"), "left_anti")
          .select(end.schema.fieldNames.toIndexedSeq.map(col): _*)
        inserts = inserts.unionByName(newlyAlive)
      }
    }
    DeltaLake.Changes(inserts, retracts)
  }

  /** The surviving data files a window's CHANGED (new or removed)
    * delete files may TOUCH: named by a changed positional delete row,
    * or value-intersecting a changed equality delete row per the
    * manifest bounds (decided driver-side against the churn-bounded
    * delete rows via the shared conservative stats machinery; a null
    * equality value, missing bounds, or an oversized delete set keeps
    * every file).
    */
  private def eqTouched(spark: SparkSession, path: String,
      end: SnapshotMeta, surviving: Seq[IceFile], newPos: Seq[IceFile],
      newEq: Seq[IceFile],
      dvNamed: Set[String] = Set.empty): Seq[IceFile] = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    import org.apache.spark.sql.graft.GraftSql
    val posNamed: Set[String] =
      if (newPos.isEmpty) Set.empty
      else spark.read.parquet(newPos.map(f => resolveRef(path, f.path)): _*)
        .select(regexp_replace(col("file_path"), "^file:/+", "/").as("p"))
        .distinct().collect().map(_.getString(0)).toSet
    def stripped(rel: String): String =
      new org.apache.hadoop.fs.Path(resolveRef(path, rel)).toUri
        .toString.replaceFirst("^file:/+", "/")
    val nameById =
      if (end.fieldIdToName.nonEmpty) end.fieldIdToName
      else fieldIds(end.schema).map(_.swap)
    // one predicate tree per equality delete ROW: AND of col = value;
    // a file may lose rows if ANY row's tree may match its bounds
    val eqPreds: Option[Seq[GraftSql.PredNode]] = {
      val perSet = newEq.groupBy(_.equalityIds).toSeq.map {
        case (ids, dels) =>
          val cols = ids.map(id => nameById.getOrElse(id,
            throw new IllegalArgumentException(
              s"Iceberg: equality delete references unknown field id $id")))
          // LIMIT before collect: the cap must bound DRIVER memory,
          // not just post-hoc reject — an oversized delete file would
          // otherwise OOM the driver before the guard fires
          val rows = spark.read
            .parquet(dels.map(d => resolveRef(path, d.path)): _*)
            .select(cols.map(col): _*).limit(100001).collect()
          if (rows.length > 100000) None // oversized: keep every file
          else Some(rows.toSeq.map { r =>
            val cmps = cols.zipWithIndex.map { case (c, i) =>
              if (r.isNullAt(i)) GraftSql.PredUnknown // null: no bound proof
              else GraftSql.PredCmp(c, r.get(i), "EQ"): GraftSql.PredNode
            }
            cmps.reduce[GraftSql.PredNode](GraftSql.PredAnd(_, _))
          })
      }
      if (perSet.exists(_.isEmpty)) None else Some(perSet.flatten.flatten)
    }
    surviving.filter { f =>
      dvNamed.contains(f.path) || dvNamed.contains(stripped(f.path)) ||
        posNamed.contains(f.path) || posNamed.contains(stripped(f.path)) ||
        (eqPreds match {
          case None => newEq.nonEmpty // can't bound: every file touched
          case Some(preds) => preds.exists(p => StatsSkip.mayMatch(p,
            end.schema, end.partitionColumns, f.partitionValues, f.stats))
        })
    }
  }

  /** The live file NAMES at a snapshot — the cut set for a version-cut
    * incremental predicate (same contract as
    * [[DeltaLake.liveFileNames]]).
    */
  def liveFileNames(spark: SparkSession, path: String,
      snapshotId: Long): Seq[String] =
    resolve(spark, path, Some(snapshotId)).files
      .map(f => new java.io.File(resolveRef(path, f.path)).getName)

  /** Whether `(afterSnapshotId, toSnapshotId]` only ADDED files — every
    * file live at the cut is still live at the end (the append-only
    * guard for the file-set-complement incremental source).
    */
  def isAppendOnly(spark: SparkSession, path: String,
      afterSnapshotId: Long, toSnapshotId: Long): Boolean = {
    val before = resolve(spark, path, Some(afterSnapshotId))
    val after = resolve(spark, path, Some(toSnapshotId))
    val afterPaths = after.files.map(_.path).toSet
    before.files.forall(f => afterPaths.contains(f.path)) &&
      before.schema.json == after.schema.json &&
      before.deleteFiles.map(_.delId).toSet ==
        after.deleteFiles.map(_.delId).toSet
  }

  /** Snapshot restricted by `predicate`, with manifest-bounds DATA
    * SKIPPING — the Iceberg half of the same scale story as
    * [[DeltaLake.snapshotWhere]]: a file whose decoded
    * lower/upper bounds PROVE the predicate false is dropped
    * driver-side; conservative, and the predicate is re-applied as a
    * normal filter.
    */
  def snapshotWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      snapshotId: Option[Long] = None): DataFrame = {
    val sm = resolve(spark, path, snapshotId)
    val pred = org.apache.spark.sql.graft.GraftSql.predicateTree(predicate)
    val active = sm.pruneTransforms
      .filter(_.transform != IcebergTransforms.Identity)
    val kept = sm.files.filter(f => StatsSkip.mayMatch(pred, sm.schema,
      sm.partitionColumns, f.partitionValues, f.stats) &&
      IcebergTransforms.mayMatch(pred, active, f.partitionValues))
    scanOf(spark, path, sm.copy(files = kept)).filter(predicate)
  }


  /** An ORC file's footer facts: its top-level column names and — when
    * the writer stamped the Iceberg spec's `iceberg.id` type
    * attributes — the field-id → physical-name map that makes RENAMES
    * resolvable (the same role `parquet.field.id` plays on the parquet
    * arm and `field-id` props on the Avro arm).
    */
  private[sources] final case class OrcInfo(cols: Seq[String],
      ids: Map[Int, String])

  /** Memoized per JVM (a file's footer never changes; the probe is a
    * ~ms metadata read).
    */
  private val orcInfoCache =
    new java.util.concurrent.ConcurrentHashMap[String, OrcInfo]()
  /** Footer reads actually performed (probe-cost accounting — the
    * marker/memo tests and LakeReaderProbe pin the O(new files) bound
    * through this counter).
    */
  private[graft] val orcFooterProbes =
    new java.util.concurrent.atomic.AtomicLong()
  private[graft] def clearOrcFooterCacheForTest(): Unit =
    orcInfoCache.clear()
  private def orcFileInfo(absPath: String): OrcInfo =
    orcInfoCache.computeIfAbsent(absPath, p => {
      orcFooterProbes.incrementAndGet()
      val reader = org.apache.orc.OrcFile.createReader(
        new org.apache.hadoop.fs.Path(p),
        org.apache.orc.OrcFile.readerOptions(
          new org.apache.hadoop.conf.Configuration()))
      try {
        val schema = reader.getSchema
        val names = schema.getFieldNames.asScala.toSeq
        val kids = schema.getChildren.asScala.toSeq
        val ids = names.zip(kids).flatMap { case (n, t) =>
          Option(t.getAttributeValue("iceberg.id"))
            .flatMap(v => scala.util.Try(v.toInt).toOption)
            .map(_ -> n)
        }.toMap
        OrcInfo(names, ids)
      } finally reader.close()
    })

  /** The ORC name-check marker: a PERSISTED cache of proven
    * (file, schema) footer validations, bounding cold resolution to
    * O(new files) instead of O(all files) (the r12 verdict's scale
    * cliff on migrated estates). Sound because both sides of the fact
    * are immutable — data files never change under a path (spec), and
    * the marker is keyed by a fingerprint of the data column set, so
    * ANY schema change (including the legacy in-place rewrite the
    * probe exists to catch) empties the validated set and forces a
    * full re-probe against the NEW names. A metadata-only skip
    * ("schemas history has one entry") would NOT be sound: the
    * in-place v1-style rewrite leaves exactly that shape behind —
    * IcebergOrcSpec pins that case refusing, marker present or not.
    * Writes are best-effort atomic (temp + same-dir ATOMIC_MOVE); a
    * read-only estate just keeps the per-JVM memo.
    */
  private def orcSchemaFp(dataCols: Set[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(dataCols.toSeq.sorted.mkString(" ")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }

  private def orcMarkerFile(tableDir: String): java.io.File =
    new java.io.File(new java.io.File(tableDir, "metadata"),
      "graft-orc-validated.json")

  /** Marker v2: per-file footer FACTS (columns + field-id map), with
    * distinct infos stored once and referenced by index — a 10⁶-file
    * estate has a handful of distinct shapes, so the marker stays
    * metadata-sized. A v1 (or corrupt) marker parses to empty and the
    * files simply re-probe once.
    */
  private def readOrcMarker(f: java.io.File,
      fp: String): Map[String, OrcInfo] =
    try {
      if (!f.exists()) Map.empty
      else {
        val n = M.readTree(java.nio.file.Files.readString(f.toPath))
        if (!Option(n.get("schema")).map(_.asText).contains(fp) ||
            !Option(n.get("files")).exists(_.isObject)) Map.empty
        else {
          val infos = Option(n.get("infos")).toSeq
            .flatMap(_.elements().asScala).map { i =>
              OrcInfo(
                Option(i.get("cols")).toSeq.flatMap(
                  _.elements().asScala).map(_.asText),
                Option(i.get("ids")).toSeq
                  .flatMap(_.properties().asScala)
                  .map(e => e.getKey.toInt -> e.getValue.asText).toMap)
            }.toIndexedSeq
          n.get("files").properties().asScala.flatMap { e =>
            val idx = e.getValue.asInt(-1)
            if (idx >= 0 && idx < infos.length)
              Some(e.getKey -> infos(idx))
            else None
          }.toMap
        }
      }
    } catch { case _: Exception => Map.empty }

  private def writeOrcMarker(f: java.io.File, fp: String,
      files: Map[String, OrcInfo]): Unit =
    try {
      val root = M.createObjectNode()
      root.put("schema", fp)
      val distinct = files.values.toSeq.distinct
      val idxOf = distinct.zipWithIndex.toMap
      val infos = root.putArray("infos")
      distinct.foreach { i =>
        val o = infos.addObject()
        val cols = o.putArray("cols")
        i.cols.foreach(cols.add)
        val ids = o.putObject("ids")
        i.ids.toSeq.sortBy(_._1).foreach { case (k, v) =>
          ids.put(k.toString, v); ()
        }
      }
      val fn = root.putObject("files")
      files.toSeq.sortBy(_._1).foreach { case (p, i) =>
        fn.put(p, idxOf(i)); ()
      }
      val tmp = java.nio.file.Files.createTempFile(
        f.getParentFile.toPath, ".orc-validated-", ".tmp")
      java.nio.file.Files.writeString(tmp, M.writeValueAsString(root))
      java.nio.file.Files.move(tmp, f.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } catch { case _: Exception => () }

  /** Writer paths that READ data files (DML matching scans, COW
    * rewrites, compaction) drive the parquet row-position machinery —
    * an ORC estate must be refused up front, never half-rewritten.
    */
  private def requireParquetData(cur: SnapshotMeta, tableDir: String,
      op: String): Unit =
    require(cur.files.forall(_.format == "PARQUET"),
      s"Iceberg.$op: $tableDir holds non-parquet data files — " +
        "row-level operations need the parquet row-position surface; " +
        "run Iceberg.convertToParquet(spark, tableDir) first (one " +
        "replace snapshot; mixed reads stay correct mid-migration)")

  private def scanOf(spark: SparkSession, path: String, sm: SnapshotMeta,
      withMeta: Boolean = false): DataFrame = {
    // FIELD-ID column resolution: the read schema's `parquet.field.id`
    // metadata ([[structFromIceberg]]) only takes effect under
    // `spark.sql.parquet.fieldId.read.enabled`, which every data-file
    // read passes PER RELATION ([[FieldIdReadOpts]] — a session-global
    // set would silently change the semantics of unrelated parquet
    // reads whose schemas carry field-id metadata, r11 advice);
    // `ignoreMissing` stays at its false default — a data file
    // carrying NO ids at all fails loudly UNLESS the table carries
    // `schema.name-mapping.default`, in which case it resolves by
    // mapped name on a separate scan arm ([[mappedScan]], r11).
    def toLog(f: IceFile): LogFile = {
      val p = resolveRef(path, f.path)
      // size from the manifest: no per-file stat, and a file expired
      // past a consumer's snapshot fails LOUDLY at read instead of
      // planning as an empty split (silent row loss)
      val size = f.size.getOrElse {
        val jf = new java.io.File(p)
        require(jf.exists(), s"data file listed in the manifest is " +
          s"missing on disk: $p (snapshots expired past this consumer?)")
        jf.length()
      }
      LogFile(p, size, 0L, f.partitionValues, f.stats)
    }
    // ORC data files ride a SEPARATE scan arm (same LogFileIndex
    // machinery, OrcFileFormat relation) unioned with the parquet arm:
    // manifests carry the stats and partition values either way, so
    // pruning and skipping work identically. What ORC cannot serve is
    // the ROW-POSITION surface — Spark's ORC `_metadata` has no
    // row_index — so row-level deletes (positional, equality-scoped,
    // DVs) and position-keyed callers (withMeta) are refused loudly;
    // name mapping probes parquet footers and is refused too. Rename
    // safety is guarded at [[resolve]] (schema history + ORC refused).
    val (orcIce, rest0) = sm.files.partition(_.format == "ORC")
    val (avroIce, parqIce) = rest0.partition(_.format == "AVRO")
    if (orcIce.nonEmpty || avroIce.nonEmpty) {
      val fmts = (if (orcIce.nonEmpty) Seq("ORC") else Seq.empty) ++
        (if (avroIce.nonEmpty) Seq("AVRO") else Seq.empty)
      val what = fmts.mkString("/")
      require(sm.deleteFiles.isEmpty,
        s"Iceberg: $path holds $what data files AND row-level delete " +
          "files — delete application needs row positions, which " +
          s"Spark's $what scans do not surface; compact the deletes " +
          "into the data (rewrite) or read with the engine that " +
          "wrote them")
      require(!withMeta,
        s"Iceberg: $path holds $what data files — the row-position " +
          "surface (_metadata.row_index) is parquet-only, so " +
          "signed/incremental sources cannot ride this table")
      require(sm.nameMapping.isEmpty,
        s"Iceberg: $path holds $what data files AND a name mapping — " +
          "the mapping probe reads parquet footers; non-parquet files " +
          "resolve against the current schema only (ORC by name, " +
          "Avro by field id)")
    }
    val logFiles = parqIce.map(toLog)
    // pushed data filters stats-skip against the decoded manifest
    // bounds inside listFiles (file-constant cut predicates are
    // evaluated in LakeScan for every format); lowering memoized per
    // scan, stats parsed once per file — shared keep (StatsSkip)
    val statsKeep = StatsSkip.memoKeep(sm.schema, sm.partitionColumns)
    val transformKeep = IcebergTransforms.memoKeep(sm.pruneTransforms)
    val keep = (filters: Seq[org.apache.spark.sql.catalyst.expressions
      .Expression], lf: LogFile) =>
      statsKeep(filters, lf) && transformKeep(filters, lf)
    // the ORC arm: plain by-name read of the CURRENT schema (ids in
    // the field metadata are inert for ORC), stats/transform pruning
    // via the shared keep, no field-id options. Before planning, each
    // file's FOOTER columns are checked against the current data
    // columns (memoized ~ms probes, parallel like the name-mapping
    // warm): the resolve()-side guard catches a `schemas` HISTORY, but
    // legacy v1 metadata evolved by rewriting its single `schema`
    // field in place leaves no history — the footer check is what
    // stops a renamed column from silently reading as null by name.
    def orcScan(): DataFrame = {
      val dataCols = sm.schema.fieldNames
        .filterNot(sm.partitionColumns.contains).toSet
      // cold-cost bound: only files NOT in the persisted marker pay a
      // footer read — steady state is O(files added since the last
      // resolution), and any schema change invalidates the marker
      // wholesale (fingerprint mismatch → full re-probe)
      val fp = orcSchemaFp(dataCols)
      val marker = orcMarkerFile(path)
      val known = readOrcMarker(marker, fp)
      val toProbe = orcIce.filterNot(f => known.contains(f.path))
      toProbe.map(f => resolveRef(path, f.path)).asJava
        .parallelStream().forEach(p => { orcFileInfo(p); () })
      val infoOf: Map[String, OrcInfo] = known ++
        toProbe.map(f => f.path -> orcFileInfo(resolveRef(path, f.path)))
      if (toProbe.nonEmpty) writeOrcMarker(marker, fp, infoOf)
      // files carrying the spec's `iceberg.id` attributes resolve by
      // FIELD ID (rename-proof, like the parquet and avro arms);
      // id-less files (Spark-written, migrated Hive) resolve by NAME
      // under the old guards
      val (idFiles, namedFiles) =
        orcIce.partition(f => infoOf(f.path).ids.nonEmpty)
      if (namedFiles.nonEmpty) {
        require(sm.schemaCount <= 1,
          s"Iceberg: $path holds id-less ORC data files AND a schema " +
            "history — ORC columns without iceberg.id attributes " +
            "resolve by NAME only, so evolved schemas cannot be " +
            "served safely; rewrite the ORC files with the current " +
            "schema first")
        namedFiles.foreach { f =>
          val missing = dataCols -- infoOf(f.path).cols.toSet
          require(missing.isEmpty,
            s"Iceberg: ORC file ${f.path} lacks column(s) " +
              s"${missing.toSeq.sorted.mkString(", ")} of the current " +
              "schema — ORC resolves BY NAME, so an evolved/renamed " +
              "column would silently read as null; rewrite the file " +
              "with the current schema")
        }
      }
      val plain = StructType(sm.schema.fields.map(f =>
        f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
      def armOf(files: Seq[IceFile], schema: StructType): DataFrame =
        LakeScan.scan(spark, path, schema, sm.partitionColumns,
          files.map(toLog), keep, withMeta = false, fileFormat = "orc")
      // field-id arm(s): group id-carrying files by their
      // logical→physical RENAME map (almost always one group, usually
      // empty = identity); a renamed group scans under the files'
      // physical names and aliases back — the Delta column-mapping
      // shape. A column whose id is absent from a file predates it
      // and reads as null (spec evolution semantics).
      val idOfLogical: Map[String, Int] = sm.schema.fields.flatMap(f =>
        if (f.metadata.contains("parquet.field.id"))
          Some(f.name -> f.metadata.getLong("parquet.field.id").toInt)
        else None).toMap
      def renameMapOf(f: IceFile): Map[String, String] =
        sm.schema.fields.filter(x => dataCols.contains(x.name))
          .flatMap { field =>
            idOfLogical.get(field.name)
              .flatMap(id => infoOf(f.path).ids.get(id))
              .filter(_ != field.name)
              .map(phys => field.name -> phys)
          }.toMap
      val idArms = idFiles.groupBy(renameMapOf).toSeq
        .sortBy(_._1.toString).map { case (mapping, files) =>
          if (mapping.isEmpty) armOf(files, plain)
          else {
            // COLLISION GUARD (r13 advice): a renamed column's OLD
            // physical name can be reused by a later-added column —
            // legal Iceberg evolution (ids are the identity) — but
            // then the physical schema carries DUPLICATE names and
            // the alias-back select below would mis-bind. ORC resolves
            // by name, so this group cannot be read safely: refuse
            // with the migration hint (the parquet/avro id arms read
            // the same evolution fine).
            val physNames = plain.fields.map(f =>
              mapping.getOrElse(f.name, f.name))
            val dup = physNames.groupBy(_.toLowerCase)
              .filter(_._2.size > 1).keys.toSeq.sorted
            require(dup.isEmpty,
              s"Iceberg: ORC data files of $path resolve column(s) " +
                s"${dup.mkString(", ")} ambiguously — a renamed " +
                "column's old physical name was reused by a later " +
                "column, and ORC resolves by name; rewrite the " +
                "estate with Iceberg.convertToParquet (field-id " +
                "parquet reads this evolution correctly)")
            val physSchema = StructType(plain.fields.map(f =>
              mapping.get(f.name).map(p => f.copy(name = p))
                .getOrElse(f)))
            armOf(files, physSchema).select(
              plain.fieldNames.toIndexedSeq.map(l =>
                org.apache.spark.sql.functions
                  .col(mapping.getOrElse(l, l)).as(l)): _*)
          }
        }
      val arms = (if (namedFiles.nonEmpty)
        Seq(armOf(namedFiles, plain)) else Seq.empty) ++ idArms
      arms.reduce(_ unionByName _)
    }
    // the AVRO arm: FIELD-ID resolution inside the format itself (the
    // read schema keeps its id metadata; GraftAvroFileFormat matches
    // writer-schema `field-id` props, refusing id-less files loudly) —
    // renames are safe WITHOUT the ORC arm's footer probe, and the
    // resolve()-side schema-history guard does not apply. Row-based:
    // pruning comes entirely from manifest stats/partition values at
    // the index (the spec's model for Avro data).
    def avroScan(): DataFrame =
      LakeScan.scan(spark, path, sm.schema, sm.partitionColumns,
        avroIce.map(toLog), keep, withMeta = false, fileFormat = "avro")
    val extraArms: Seq[() => DataFrame] =
      (if (orcIce.nonEmpty) Seq(() => orcScan()) else Seq.empty) ++
        (if (avroIce.nonEmpty) Seq(() => avroScan()) else Seq.empty)
    if (parqIce.isEmpty && extraArms.nonEmpty)
      extraArms.map(_.apply()).reduce(_ unionByName _)
    else if (sm.deleteFiles.isEmpty) {
      val base = mappedScan(spark, path, sm, logFiles, keep, withMeta)
      extraArms.foldLeft(base)((b, arm) => b.unionByName(arm()))
    } else {
      // MERGE-ON-READ: subtract the delete files as BROADCAST
      // ANTI-JOINS — fully distributed, the delete sides are normal
      // scans never collected to the driver; broadcast because a
      // snapshot's delete files are metadata-sized next to its data
      // (drop the hint and the same plans shuffle).
      //   - POSITIONAL (content=1): anti-join on the scan's own
      //     (file_path, row_index) metadata. Path-keyed application is
      //     exact without sequence scoping: a delete row names one
      //     (file, position), and later-added files have new paths.
      //   - EQUALITY (content=2): per equality-id set, anti-join on
      //     the named columns (null-safe — a null delete value matches
      //     null), scoped to data files with STRICTLY SMALLER data
      //     sequence number (the spec's ordering: an equality delete
      //     never touches rows inserted at or after it).
      import org.apache.spark.sql.functions.{broadcast, col, regexp_replace}
      import spark.implicits._
      val scan = mappedScan(spark, path, sm, logFiles, keep,
        withMeta = true)
      def dataKey = regexp_replace(col("_metadata.file_path"),
        "^file:/+", "/")
      def canon(rel: String): String =
        new org.apache.hadoop.fs.Path(resolveRef(path, rel)).toUri.toString
      var kept: DataFrame = scan

      // v3 DELETION VECTORS first: driver-side bitmap reads (each DV is
      // metadata-sized, the same state the fold already holds), applied
      // as ONE codegen'd anti-filter — no delete-file scan, no join.
      val dvFiles = sm.deleteFiles.filter(_.dvRef.isDefined)
      // data files covered by a DV, by canonical absolute path: the
      // spec's reader rule — position delete FILES must NOT apply to a
      // data file that has a DV (the DV already holds all its deletes)
      val dvCovered: Set[String] =
        dvFiles.flatMap(_.dvRef).map(r => resolveRef(path, r.referenced))
          .toSet
      if (dvFiles.nonEmpty) {
        val byReferenced = dvFiles.groupBy(_.dvRef.get.referenced)
        byReferenced.foreach { case (ref, fs) =>
          require(fs.size == 1, s"Iceberg: data file $ref is referenced " +
            s"by ${fs.size} deletion vectors (${fs.map(_.delId)
              .mkString(", ")}) — the spec allows at most one; reading " +
            "both could double-apply or miss deletes")
        }
        val dvByPath: Map[String, DeletionVectors.Bitmap64] =
          dvFiles.map { f =>
            val r = f.dvRef.get
            resolveRef(path, r.referenced) ->
              Puffin.readDv(resolveRef(path, f.path), r.offset, r.length,
                r.cardinality)
          }.toMap
        val g = org.apache.spark.sql.graft.GraftSql
        kept = kept.filter(g.column(DvKeep(
          g.expression(kept.col("_metadata.file_path")),
          g.expression(kept.col("_metadata.row_index")),
          DvLookup(dvByPath))))
      }

      val posDeletes = sm.deleteFiles.filter(f =>
        f.content == 1 && f.dvRef.isEmpty)
      if (posDeletes.nonEmpty) {
        // DV-covered files are excluded from the mapping, which drops
        // their (path, pos) rows at the join — the spec's supersession
        // rule above
        val posTargets = sm.files.filterNot(f =>
          dvCovered.contains(resolveRef(path, f.path)))
        val delAbs = posDeleteKeys(spark, path, posTargets, posDeletes)
        kept = kept.join(broadcast(delAbs),
          dataKey === col("__mabs") &&
            col("_metadata.row_index") === col("__dpos"), "left_anti")
      }

      val eqDeletes = sm.deleteFiles.filter(_.content == 2)
      if (eqDeletes.nonEmpty) {
        // spec field id → column name from the TABLE METADATA's own
        // schema ids (schema evolution assigns ids non-contiguously on
        // real tables — a positional walk would mis-bind); an id
        // outside the schema fails loudly
        val nameById =
          if (sm.fieldIdToName.nonEmpty) sm.fieldIdToName
          else fieldIds(sm.schema).map(_.swap)
        // per-row data sequence number: broadcast (file → seq) joined
        // on the file-path metadata (one small hash join, only on
        // tables that carry equality deletes)
        val seqMap = sm.files.map(f => (canon(f.path), f.seq))
          .toDF("__sfp", "__dseq")
        // LEFT join + loud null check: an inner join would silently
        // DROP every row of a data file whose path rendering failed to
        // match the canonical form — raise instead of losing rows
        kept = kept.join(broadcast(seqMap), dataKey === col("__sfp"),
            "left")
          .withColumn("__dseq", org.apache.spark.sql.functions.when(
            col("__dseq").isNull,
            org.apache.spark.sql.functions.raise_error(
              org.apache.spark.sql.functions.concat(
                org.apache.spark.sql.functions.lit("Iceberg equality " +
                  "deletes: no sequence number resolved for data file "),
                col("_metadata.file_path"))))
            .otherwise(col("__dseq")))
          .drop("__sfp")
        eqDeletes.groupBy(_.equalityIds).foreach { case (ids, dels) =>
          val eqCols = ids.map(id => nameById.getOrElse(id,
            throw new IllegalArgumentException(
              s"Iceberg: equality delete references unknown field id " +
                s"$id (schema: ${sm.schema.fieldNames.mkString(",")})")))
          val delSeq = dels.map(d => (canon(d.path), d.seq))
            .toDF("__dfp2", "__delseq")
          val delRows = spark.read
            .parquet(dels.map(d => resolveRef(path, d.path)): _*)
            .withColumn("__k", regexp_replace(col("_metadata.file_path"),
              "^file:/+", "/"))
            .join(broadcast(delSeq), col("__k") === col("__dfp2"))
            .select(eqCols.map(col) :+ col("__delseq"): _*)
          val cond = eqCols.map(c => kept(c) <=> delRows(c))
            .reduce(_ && _) && kept("__dseq") < delRows("__delseq")
          kept = kept.join(broadcast(delRows), cond, "left_anti")
        }
        kept = kept.drop("__dseq")
      }

      val cols = sm.schema.fieldNames.toIndexedSeq ++
        (if (withMeta) Seq("_metadata") else Seq.empty)
      kept.select(cols.map(col): _*)
    }
  }

  /** Footer probe for NAME-MAPPING resolution: does the file carry
    * parquet field ids, and what are its top-level column names?
    * Driver-side, once per (path, size) for the JVM's life — files are
    * immutable in both formats, and this is the same per-file planning
    * metadata real migrated-table readers cache. Only consulted when
    * the table HAS a name mapping (id-stamped tables never pay it).
    */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long),
      (Boolean, Set[String])]()

  private def parquetColumnInfo(path: String): (Boolean, Set[String]) = {
    val f = new java.io.File(path)
    require(f.exists(), s"data file missing on disk: $path")
    footerCache.computeIfAbsent((path, f.length()), { _ =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val fields = r.getFooter.getFileMetaData.getSchema
          .getFields.asScala
        (fields.exists(_.getId != null), fields.map(_.getName).toSet)
      } finally r.close()
    })
  }

  /** The scan with NAME MAPPING applied (spec "Column Projection"):
    * tables migrated from Hive/plain parquet hold data files WITHOUT
    * `parquet.field.id`s, and `schema.name-mapping.default` is how
    * their columns resolve. Files WITH ids ride the normal field-id
    * scan; ID-LESS files read under their RESOLVED physical names
    * (per field: the first mapped name present in the file — probed
    * from the footer driver-side, cached per file), grouped by
    * resolved name vector into as few extra scans as the history
    * needs (one, for the common single-rename migration), and aliased
    * back to the logical schema before the UNION. A field with no
    * mapped name in a file surfaces NULL — the spec's missing-column
    * semantics, same as schema evolution. Per-file BOUNDS skipping
    * survives on the mapped scans (stats keys re-keyed to the
    * resolved names so pushed filters still lower); transform pruning
    * stays conservative there. Without a mapping the behavior is
    * unchanged: an id-less file fails loudly at the parquet read.
    */
  private def mappedScan(spark: SparkSession, path: String,
      sm: SnapshotMeta, logFiles: Seq[LogFile],
      keep: (Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        LogFile) => Boolean, withMeta: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (sm.nameMapping.isEmpty || logFiles.isEmpty)
      return LakeScan.scan(spark, path, sm.schema, sm.partitionColumns,
        logFiles, keep, withMeta, FieldIdReadOpts)
    // pre-warm the footer cache IN PARALLEL: the probes are
    // independent ~ms metadata reads, and serializing them makes
    // first-plan latency linear in file count (measured 16 ms/file
    // serial → the common pool amortizes it away)
    import scala.jdk.CollectionConverters._
    logFiles.map(_.path).asJava.parallelStream()
      .forEach(p => { parquetColumnInfo(p); () })
    val (withIds, idless) =
      logFiles.partition(lf => parquetColumnInfo(lf.path)._1)
    if (idless.isEmpty)
      return LakeScan.scan(spark, path, sm.schema, sm.partitionColumns,
        logFiles, keep, withMeta, FieldIdReadOpts)
    val dataFields = sm.schema.fields.toSeq
      .filterNot(f => sm.partitionColumns.contains(f.name))
    // the METADATA's real field ids (schema evolution leaves gaps a
    // positional re-derivation would mis-number, silently nulling
    // whole columns on any table this fixture writer didn't produce)
    val nameToId: Map[String, Int] =
      if (sm.fieldIdToName.nonEmpty) sm.fieldIdToName.map(_.swap)
      else fieldIds(sm.schema)
    // per id-less file: each data field's physical name — the first
    // mapped name present in the file. A field with NO mapping entry
    // or no matching file column projects NULL per the spec's
    // column-projection rule, via a name guaranteed absent from the
    // file (falling back to the CURRENT logical name would serve a
    // dropped-and-re-added column's stale data for the new field)
    val groups: Map[Seq[String], Seq[LogFile]] = idless.groupBy { lf =>
      val fileCols = parquetColumnInfo(lf.path)._2
      dataFields.map { f =>
        val fid = nameToId.getOrElse(f.name, -1)
        sm.nameMapping.get(fid)
          .flatMap(_.find(fileCols.contains))
          .getOrElse(s"__graft_absent_$fid")
      }
    }
    val base =
      if (withIds.isEmpty) Seq.empty
      else Seq(LakeScan.scan(spark, path, sm.schema, sm.partitionColumns,
        withIds, keep, withMeta, FieldIdReadOpts))
    val mapped = groups.toSeq.sortBy(_._1.mkString(",")).map {
      case (phys, fs) =>
        require(phys.distinct.size == phys.size,
          s"Iceberg name mapping resolves two columns to one physical " +
            s"name in ${fs.map(_.path).mkString(",")}: " +
            phys.mkString(","))
        val logToPhys = dataFields.map(_.name).zip(phys).toMap
        val renamed = StructType(sm.schema.fields.map { f =>
          if (sm.partitionColumns.contains(f.name)) f
          else StructField(logToPhys(f.name), f.dataType,
            nullable = true) // no id metadata: read BY NAME
        })
        // stats re-keyed to the resolved names so the pushed filters
        // (which reference the renamed attributes) still bounds-skip
        val fsRenamed = fs.map(lf => lf.copy(stats = lf.stats.map { s =>
          val n = M.readTree(s)
          val out = M.createObjectNode()
          Seq("minValues", "maxValues").foreach { k =>
            val src = n.get(k)
            val dst = out.putObject(k)
            if (src != null) src.properties().asScala.foreach { e =>
              dst.set[JsonNode](logToPhys.getOrElse(e.getKey, e.getKey),
                e.getValue)
            }
          }
          M.writeValueAsString(out)
        }))
        val renamedKeep = StatsSkip.memoKeep(renamed,
          sm.partitionColumns)
        val scan = LakeScan.scan(spark, path, renamed,
          sm.partitionColumns, fsRenamed, renamedKeep, withMeta)
        val cols = sm.schema.fieldNames.toIndexedSeq.map(l =>
          if (sm.partitionColumns.contains(l)) col(l)
          else col(logToPhys(l)).as(l)) ++
          (if (withMeta) Seq(col("_metadata")) else Seq.empty)
        scan.select(cols: _*)
    }
    (base ++ mapped).reduce(_.unionByName(_))
  }

  /** Positional delete rows of `dels` resolved against `dataFiles`:
    * one row per (data file, position) pair, keyed by the CANONICAL
    * rendering of the scan's `_metadata.file_path` (`__mabs`) plus the
    * row index (`__dpos`). Delete files may name data files by the
    * manifest-relative string or the canonical absolute form — both
    * keys are registered. Shared by the snapshot subtract (anti-join)
    * and the signed window's newly-deleted-rows arm (semi-join).
    */
  private def posDeleteKeys(spark: SparkSession, path: String,
      dataFiles: Seq[IceFile], dels: Seq[IceFile]): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    import spark.implicits._
    val raw = spark.read
      .parquet(dels.map(f => resolveRef(path, f.path)): _*)
      .select(regexp_replace(col("file_path"), "^file:/+", "/")
        .as("__dpath"), col("pos").as("__dpos"))
    val mapping = dataFiles.flatMap { f =>
      val abs = new org.apache.hadoop.fs.Path(resolveRef(path, f.path))
        .toUri.toString
      Seq(f.path -> abs, abs -> abs)
    }.distinct.toDF("__mrel", "__mabs")
    raw.join(org.apache.spark.sql.functions.broadcast(mapping),
      col("__dpath") === col("__mrel")).select("__mabs", "__dpos")
  }

  /** Decode a manifest `lower_bounds`/`upper_bounds` value (spec: a map
    * of field-id → binary single-value serialization — int/long 4/8-byte
    * little-endian, float/double IEEE little-endian, string UTF-8 bytes)
    * into column-name → rendered value for the shared stats machinery.
    * Avro materializes the logical map either as a real map (string
    * keys) or as an array of {key, value} records; both are handled.
    * Anything undecodable is dropped — skipping stays conservative.
    */
  private def decodeBounds(obj: AnyRef,
      idMap: Map[Int, (String, DataType)]): Map[String, String] = {
    if (obj == null) return Map.empty
    def one(id: Int, v: AnyRef): Option[(String, String)] =
      idMap.get(id).flatMap { case (name, dt) =>
        val buf = v match {
          case b: java.nio.ByteBuffer =>
            Some(b.duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN))
          case b: Array[Byte] => Some(java.nio.ByteBuffer.wrap(b)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN))
          case _ => None
        }
        buf.flatMap { b =>
          try dt match {
            case IntegerType if b.remaining == 4 => Some(name -> b.getInt.toString)
            case LongType if b.remaining == 8 => Some(name -> b.getLong.toString)
            case FloatType if b.remaining == 4 => Some(name -> b.getFloat.toString)
            case DoubleType if b.remaining == 8 => Some(name -> b.getDouble.toString)
            // PRE-WIDEN bounds: a manifest written before a type
            // promotion ([[widenColumns]]) serialized this field at
            // its old width — decode at the stored width so stats
            // skipping keeps pruning the old files
            case LongType if b.remaining == 4 => Some(name -> b.getInt.toString)
            case DoubleType if b.remaining == 4 => Some(name -> b.getFloat.toString)
            case StringType =>
              val arr = new Array[Byte](b.remaining)
              b.get(arr)
              Some(name -> new String(arr, "UTF-8"))
            case _ => None
          } catch { case _: Exception => None }
        }
      }
    obj match {
      case m: java.util.Map[_, _] =>
        m.asScala.toSeq.flatMap { case (k, v) =>
          try one(k.toString.toInt, v.asInstanceOf[AnyRef])
          catch { case _: NumberFormatException => None }
        }.toMap
      case a: java.util.Collection[_] =>
        a.asScala.toSeq.flatMap {
          case r: GenericRecord =>
            try one(r.get("key").toString.toInt, r.get("value"))
            catch { case _: Exception => None }
          case _ => None
        }.toMap
      case _ => Map.empty
    }
  }

  /** Manifest-list/manifest/data paths are absolute URIs or
    * table-relative. Local filesystem only in this environment: a
    * non-file scheme (s3://, hdfs://) fails LOUDLY — joining it under
    * the table dir would plan a nonexistent path away silently.
    */
  private def resolveRef(table: String, p: String): String = {
    val noScheme = p.stripPrefix("file:")
    if (noScheme.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*"))
      throw new UnsupportedOperationException(
        s"Iceberg: non-local URI '$p' is not readable in this environment")
    if (noScheme.startsWith("/")) noScheme
    else new java.io.File(table, noScheme).getAbsolutePath
  }

  private def avroRecords(path: String): Seq[GenericRecord] = {
    val reader = new DataFileReader[GenericRecord](
      new java.io.File(path), new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.toList
    finally reader.close()
  }

  // ---- Iceberg <-> Spark schema -----------------------------------------

  /** Iceberg schema JSON → Spark StructType (the common primitive set +
    * nested structs/lists; fail-fast on the rest).
    */
  private[sources] def structFromIceberg(node: JsonNode): StructType = {
    require(node.get("type").asText == "struct",
      s"expected a struct schema, got ${node.get("type")}")
    StructType(node.get("fields").elements().asScala.map { f =>
      // carry the spec's FIELD ID as `parquet.field.id` metadata: with
      // `spark.sql.parquet.fieldId.read.enabled` the parquet reader
      // matches file columns by id, which is what makes RENAMED columns
      // read correctly from pre-rename files (their physical column
      // names differ; the ids never do). Files lacking ids entirely
      // fail loudly (fieldId.read.ignoreMissing stays false) — never a
      // silent all-null column.
      val dt = typeFromIceberg(f.get("type"))
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      Option(f.get("id")).foreach(id =>
        mb.putLong("parquet.field.id", id.asLong))
      // v3 FIELD DEFAULTS: `initial-default` serves rows predating
      // the column (surfaced as EXISTS_DEFAULT — Spark's parquet
      // reader fills file-missing columns from it), `write-default`
      // fills future writes omitting the column (CURRENT_DEFAULT —
      // the analyzer substitutes omitted INSERT columns and the
      // DEFAULT keyword). Unsupported value types refuse LOUDLY:
      // silently serving null where the table's contract says
      // default would be a wrong result.
      Option(f.get("initial-default")).filterNot(_.isNull).foreach(j =>
        mb.putString("EXISTS_DEFAULT", defaultSqlOf(j, dt,
          f.get("name").asText)))
      Option(f.get("write-default")).filterNot(_.isNull).foreach(j =>
        mb.putString("CURRENT_DEFAULT", defaultSqlOf(j, dt,
          f.get("name").asText)))
      StructField(f.get("name").asText, dt,
        nullable = !f.get("required").asBoolean(false),
        metadata = mb.build())
    }.toSeq)
  }

  /** A v3 single-value JSON default rendered back to the SQL literal
    * text Spark's default-column machinery evaluates.
    */
  private def defaultSqlOf(j: JsonNode, dt: DataType,
      col: String): String = dt match {
    case _: StringType =>
      val s = j.asText
      // quote only PROVABLY inert strings; anything carrying quotes,
      // backslashes, or control characters renders hex-safe instead —
      // Spark's string-literal escaping is parser-FLAG-dependent
      // (escapedStringLiterals), so '\t' in a quoted literal can mean
      // TAB in one session and backslash-t in another; unhex() means
      // the same bytes everywhere
      if (s.forall(c => c >= ' ' && c != '\\' && c != '\''))
        "'" + s + "'"
      else {
        val hex = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .map(b => String.format("%02X", Byte.box(b))).mkString
        s"CAST(unhex('$hex') AS STRING)"
      }
    case _: BooleanType | _: IntegerType | _: LongType |
        _: ShortType | _: ByteType | _: FloatType | _: DoubleType =>
      j.asText
    case _: DecimalType => s"CAST('${j.asText}' AS ${dt.sql})"
    case _: DateType => s"DATE '${j.asText}'"
    case other => throw new UnsupportedOperationException(
      s"Iceberg: column '$col' carries a ${other.simpleString} " +
        "field default this reader does not support — reading " +
        "anyway would silently serve null where the table's " +
        "contract says default")
  }

  private def typeFromIceberg(t: JsonNode): DataType =
    if (t.isTextual) t.asText match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case "string" | "uuid" => StringType
      case "binary" => BinaryType
      case dec if dec.startsWith("decimal(") =>
        val Array(p, s) = dec.stripPrefix("decimal(").stripSuffix(")")
          .split(",").map(_.trim.toInt)
        DecimalType(p, s)
      case other => throw new UnsupportedOperationException(
        s"Iceberg type '$other' is not supported")
    } else t.get("type").asText match {
      case "struct" => structFromIceberg(t)
      case "list" => ArrayType(typeFromIceberg(t.get("element")),
        containsNull = !t.get("element-required").asBoolean(false))
      case other => throw new UnsupportedOperationException(
        s"Iceberg nested type '$other' is not supported")
    }

  /** The top-level field ids [[icebergSchemaJson]] assigns — the same
    * pre-order walk (a nested struct's fields consume ids between two
    * top-level siblings), so manifest bounds and partition-spec
    * source-ids reference the ids actually written.
    */
  private[sources] def fieldIds(schema: StructType): Map[String, Int] = {
    var nextId = 0
    def skipNested(dt: DataType): Unit = dt match {
      case s: StructType => s.fields.foreach { f =>
        nextId += 1; skipNested(f.dataType)
      }
      case _ => ()
    }
    schema.fields.map { f =>
      nextId += 1
      val id = nextId
      skipNested(f.dataType)
      f.name -> id
    }.toMap
  }

  /** Spark StructType → Iceberg schema JSON (fixture writer; field ids
    * assigned in declaration order, stable across snapshots for an
    * append-only fixture).
    */
  private[sources] def icebergSchemaJson(schema: StructType): String = {
    var nextId = 0
    def typeJson(dt: DataType): String = dt match {
      case BooleanType => "\"boolean\""
      case IntegerType => "\"int\""
      case LongType => "\"long\""
      case FloatType => "\"float\""
      case DoubleType => "\"double\""
      case DateType => "\"date\""
      case TimestampNTZType => "\"timestamp\""
      case TimestampType => "\"timestamptz\""
      case StringType => "\"string\""
      case BinaryType => "\"binary\""
      case d: DecimalType => s""""decimal(${d.precision},${d.scale})""""
      case s: StructType => structJson(s)
      case other => throw new UnsupportedOperationException(
        s"cannot write Spark type $other as Iceberg")
    }
    def structJson(s: StructType): String = {
      val fields = s.fields.map { f =>
        nextId += 1
        s"""{"id":$nextId,"name":"${f.name}","required":${!f.nullable},""" +
          s""""type":${typeJson(f.dataType)}}"""
      }
      s"""{"type":"struct","schema-id":0,"fields":[${fields.mkString(",")}]}"""
    }
    structJson(schema)
  }

  // ---- staging writer (fixture machinery, NOT a lakehouse writer) -------

  /** One manifest entry to write: `status` 1 = ADDED, 2 = DELETED;
    * `relPath` is the table-relative data path (the manifest's
    * `file_path`, matched verbatim by the reader's fold); `content` is
    * the FILE content — 0 = data, 1 = positional delete, 2 = equality
    * delete (both delete kinds land in a content=1 DELETE manifest;
    * equality entries carry `equalityIds`). Every new entry records
    * this snapshot's ordinal as its data sequence number.
    */
  private final case class Entry(status: Int, relPath: String,
      sizeBytes: Long, pv: Map[String, String], count: Long,
      perCol: Map[String, (Any, Any)], content: Int = 0,
      equalityIds: Seq[Int] = Seq.empty, format: String = "PARQUET",
      dv: Option[Puffin.DvRef] = None)

  private def priorState(mdDir: java.io.File)
      : (Option[JsonNode], Long) = {
    val prior = Option(mdDir.listFiles()).toSeq.flatten
      .flatMap(f => metadataVersionOf(f.getName).map(v => (v, f)))
      .sortBy(_._1)
    val priorMd = prior.lastOption.map { case (_, f) =>
      M.readTree(java.nio.file.Files.readString(f.toPath))
    }
    val version = prior.lastOption.map(_._1 + 1).getOrElse(1L)
    (priorMd, version)
  }

  private def statColsOf(dataSchema: StructType) =
    dataSchema.fields.filter(_.dataType match {
      case LongType | IntegerType | DoubleType | FloatType | StringType =>
        true
      case _ => false
    }).toSeq


  /** Read `paths` as ONE relation under the id-stamped `dataSchema`
    * with `_metadata` surfaced — the COW rewrites' and stats
    * recompute's data-file read. Field-id matching rides the
    * RELATION's options ([[FieldIdReadOpts]]): a `DataFrameReader`
    * option would be LOWER-CASED by the V1 `DataSource`'s
    * CaseInsensitiveMap on its way into the Hadoop configuration and
    * silently never match the flag, so these reads go through
    * [[LakeScan.scan]], which hands the original-case map straight to
    * the relation.
    */
  private def idRead(spark: SparkSession, dataSchema: StructType,
      paths: Seq[String]): DataFrame = {
    val lfs = paths.map { pth =>
      val f = new java.io.File(pth)
      require(f.exists(), s"data file missing on disk: $pth")
      LogFile(pth, f.length(), 0L, Map.empty, None)
    }
    LakeScan.scan(spark, new java.io.File(paths.head).getParent,
      dataSchema, Seq.empty, lfs, (_, _) => true, withMeta = true,
      options = FieldIdReadOpts)
  }

  /** Per-file (recordCount, per-column (min, max)) for the manifest's
    * bounds — one job grouped by the hidden file name.
    */
  private def fileStatsOf(spark: SparkSession, dataSchema: StructType,
      paths: Seq[String], format: String = "parquet")
      : Map[String, (Long, Map[String, (Any, Any)])] = {
    if (paths.isEmpty) return Map.empty
    // parquet: bounds come from the files' own FOOTERS — no second scan
    // of the just-written data (guide §1.2/§6; see [[FooterStats]]).
    // ORC keeps the aggregate read (its footer stats API differs and the
    // ORC arm serves two fixture paths, not the hot commit path).
    if (format == "parquet")
      return FooterStats.parquetStats(spark, dataSchema, paths)
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val statCols = statColsOf(dataSchema)
    val aggs = count(lit(1)).as("__n") +: statCols.flatMap(f => Seq(
      min(col(f.name)).as(s"__mn_${f.name}"),
      max(col(f.name)).as(s"__mx_${f.name}")))
    val rows =
        // ORC: plain by-name read (no field ids); `_metadata.file_name`
        // is a base metadata field, available for every file source
        spark.read.schema(StructType(dataSchema.fields.map(f =>
          f.copy(metadata = org.apache.spark.sql.types.Metadata.empty))))
          .orc(paths: _*)
    import org.apache.spark.sql.functions.regexp_replace
    rows
      // keyed by the file's ABSOLUTE PATH: two write tasks emit the
      // SAME part-file basename into different partition directories,
      // and a basename key would merge their counts and widen their
      // bounds (wrong manifests, weaker pruning)
      .groupBy(regexp_replace(col("_metadata.file_path"),
        "^file:/+", "/").as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val perCol = statCols.flatMap { f =>
          val (mi, ma) = (r.fieldIndex(s"__mn_${f.name}"),
            r.fieldIndex(s"__mx_${f.name}"))
          if (r.isNullAt(mi) || r.isNullAt(ma)) None
          else Some(f.name -> (r.get(mi), r.get(ma)))
        }.toMap
        r.getString(0) -> (r.getLong(r.fieldIndex("__n")), perCol)
      }.toMap
  }

  /** Write `df` under `data/` (partition dirs preserved), returning the
    * moved files with their partition values — the same move-up layout
    * as [[DeltaLake.stageCommit]].
    */
  /** Stamp each column the table schema covers with its Iceberg field
    * id as `parquet.field.id` metadata, so the written parquet files
    * carry ids (Spark's `fieldId.write.enabled` default) — what a real
    * Iceberg writer always does, and what the field-id read path
    * requires. Columns outside the id map (derived transform ordinals,
    * stripped into directories) pass through unstamped.
    */
  /** Reshape `df` onto `schema`'s fields, stamping each field's
    * `parquet.field.id` metadata at EVERY nesting level: nested ids
    * ride the CAST's target type (field metadata lives inside the
    * StructType), top-level ids ride the alias metadata. Spark's
    * parquet writer emits them all (fieldId.write.enabled), which is
    * what makes by-id reads of nested members sound.
    */
  private def applyIds(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toIndexedSeq.map { f =>
      val target = LakeScan.asNullable(f.dataType)
      val c = if (df.schema(f.name).dataType == target)
        org.apache.spark.sql.functions.col(f.name)
      else org.apache.spark.sql.functions.col(f.name).cast(target)
      c.as(f.name, f.metadata)
    }: _*)

  /** [[applyIds]] under the POSITIONAL pre-order assignment — the ids
    * [[icebergSchemaJson]] mints at table creation (round-tripped so
    * nested levels get theirs too).
    */
  private def withAssignedIds(df: DataFrame): DataFrame =
    applyIds(df, structFromIceberg(
      M.readTree(icebergSchemaJson(df.schema))))

  /** Names/types with metadata and nullability erased — the shape
    * comparator behind [[withTableIds]].
    */
  private def shapeOf(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, shapeOf(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(shapeOf(a.elementType), true)
    case m: MapType => MapType(shapeOf(m.keyType), shapeOf(m.valueType),
      valueContainsNull = true)
    case o => o
  }

  /** The frame type re-decorated with the TABLE type's ids: struct
    * members map BY NAME (a frame may carry a SUBSET — an old-shape
    * append to a nested-evolved table), each present member adopting
    * the table's field metadata. None when the types are not
    * shape-compatible at this node.
    */
  private def idTypeFor(frameDt: DataType,
      tableDt: DataType): Option[DataType] = (frameDt, tableDt) match {
    case (fs: StructType, ts: StructType) =>
      val mapped = fs.fields.map { ff =>
        ts.find(_.name == ff.name).flatMap(tf =>
          idTypeFor(ff.dataType, tf.dataType).map(dt2 =>
            StructField(ff.name, dt2, nullable = true, tf.metadata)))
      }
      if (mapped.forall(_.isDefined)) Some(StructType(mapped.map(_.get)))
      else None
    case (fdt, tdt)
        if LakeScan.asNullable(fdt) == LakeScan.asNullable(tdt) =>
      Some(LakeScan.asNullable(tdt))
    case _ => None
  }

  /** Stamp the TABLE's field ids for the parquet writer, BY NAME per
    * column. A resolved snapshot's schema carries the authoritative
    * ids as `parquet.field.id` metadata at every nesting level
    * ([[structFromIceberg]]); each frame column present in the table
    * adopts its id (nested members via the CAST's target type —
    * subset struct shapes included, so an old-shape append to a
    * nested-evolved table stamps the members it carries). Columns the
    * table does not know (derived partitioning scaffolding) pass
    * through unstamped; frames may be a SUBSET or REORDERING of the
    * table columns (the convert/DML rewrite paths strip or re-append
    * partition columns) — a positional guess here stamped wrong ids.
    */
  private def withTableIds(df: DataFrame, schema: StructType)
      : DataFrame =
    if (!schema.fields.forall(_.metadata.contains("parquet.field.id")))
      withAssignedIds(df)
    else df.select(df.schema.fields.toIndexedSeq.map { ff =>
      val c = org.apache.spark.sql.functions.col(ff.name)
      schema.find(_.name == ff.name) match {
        case Some(tf) =>
          idTypeFor(ff.dataType, tf.dataType) match {
            case Some(t2) =>
              (if (ff.dataType == t2) c else c.cast(t2))
                .as(ff.name, tf.metadata)
            case None => c.as(ff.name, tf.metadata)
          }
        case None => c
      }
    }: _*)

  private def writeDataFiles(root: java.io.File, df: DataFrame,
      partitionBy: Seq[String], tag: String,
      format: String = "parquet")
      : Seq[(java.io.File, Map[String, String])] = {
    val tmp = new java.io.File(root, s"_ice_tmp_$tag")
    // size-targeted file count (guide §6): land ~128 MiB files instead of
    // one tiny file per upstream partition; explicit layouts pass through
    val w0 = WriteSizing.coalesceForWrite(df).write.mode("overwrite")
    val w = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*)
      else w0
    if (format == "orc") w.orc(tmp.getAbsolutePath)
    else w.parquet(tmp.getAbsolutePath)
    val moved = mutable.Buffer.empty[(java.io.File, Map[String, String])]
    def walk(dir: java.io.File, pv: Map[String, String]): Unit =
      Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).foreach { f =>
        if (f.isDirectory && f.getName.contains("=")) {
          val Array(k, v) = f.getName.split("=", 2)
          walk(f, pv + (k -> DeltaLake.percentDecode(v)))
        } else if (f.getName.endsWith(s".$format")) {
          val rel = (pv.map { case (k, v) => s"$k=$v" }.toSeq :+ f.getName)
            .mkString("/")
          val dest = new java.io.File(root, s"data/$rel")
          dest.getParentFile.mkdirs()
          java.nio.file.Files.move(f.toPath, dest.toPath)
          moved += dest -> pv
        }
      }
    walk(tmp, Map.empty)
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete(); ()
    }
    deleteRec(tmp)
    moved.toSeq
  }

  /** Write the Avro manifest for this snapshot's entries, then the new
    * manifest list (prior manifests + this one) and the next metadata
    * json. Returns the snapshot id.
    */
  /** `toBranch`: commit to the named BRANCH ref instead of `main` —
    * the write-audit-publish (WAP) shape. The new snapshot's BASE (the
    * state whose manifests carry forward, the parent link, and what
    * `expectBase` guards against) is the branch's head — or, for a
    * branch being BORN by this commit, the current main head. `main`
    * and `current-snapshot-id` do not move; [[fastForward]] publishes.
    */
  private def commitSnapshot(spark: SparkSession, tableDir: String,
      tableSchema: StructType, partitionBy: Seq[String],
      entries: Seq[Entry], operation: String,
      summaryProps: Map[String, String] = Map.empty,
      exclusive: Boolean = false,
      tableProps: Map[String, String] = Map.empty,
      expectBase: Option[Long] = None,
      toBranch: Option[String] = None): Long = {
    val mdDir = metadataDir(tableDir)
    mdDir.mkdirs()
    val (priorMd, version) = priorState(mdDir)
    require(toBranch.isEmpty || toBranch.contains("main") ||
        priorMd.isDefined,
      s"Iceberg: cannot commit to branch '${toBranch.getOrElse("")}' " +
        s"of $tableDir — the table does not exist yet (create it with " +
        "a main write first)")
    // the snapshot this commit builds ON: the branch head for branch
    // commits (falling back to main's head when the branch is being
    // born), main's head otherwise
    val baseId: Option[Long] = {
      val mainHead = priorMd.flatMap(md =>
        Option(md.get("current-snapshot-id")).map(_.asLong)
          .filter(_ >= 0))
      toBranch.filterNot(_ == "main") match {
        case Some(b) => priorMd.flatMap(md => Option(md.get("refs"))
            .flatMap(r => Option(r.get(b)))
            .map(_.get("snapshot-id").asLong))
          .orElse(mainHead)
        case None => mainHead
      }
    }
    // optimistic-concurrency guard for REWRITE-shaped commits: the
    // caller resolved state at `expectBase` and built file content
    // from it — a commit that landed since makes that content STALE
    // (e.g. a concurrent delete's rows would resurrect from the
    // rewritten file), which the same-version hard-link alone cannot
    // catch because the interloper SHIFTED the version
    expectBase.foreach { base =>
      if (!baseId.contains(base))
        throw new java.util.ConcurrentModificationException(
          s"Iceberg: table at $tableDir advanced from snapshot $base " +
            s"to ${baseId.getOrElse(-1L)} since this rewrite resolved " +
            "its state — the rewritten content is stale; re-run")
    }
    val snapshotId = version // deterministic fixture ids
    priorMd.foreach { md =>
      // compare against the CURRENT schema (current-schema-id), not
      // schemas[0]: after a rename the caller commits under the new
      // names, which are exactly the current schema's
      val curId = Option(md.get("current-schema-id")).map(_.asInt)
        .getOrElse(0)
      val priorSchema = structFromIceberg(
        Option(md.get("schemas")).flatMap(_.elements().asScala
            .find(s => Option(s.get("schema-id")).forall(_.asInt == curId)))
          .getOrElse(md.get("schema")))
      // NULLABILITY- and ID-insensitive: the stored schema history is
      // carried forward verbatim either way, and a frame aligned to
      // the READ schema (all-nullable by the scan contract — e.g. the
      // catalog's V1 INSERT bridge) must not read as evolution; nor
      // may TRUE ids vs a positional re-derivation (after a NESTED
      // add the fresh member id is end-of-id-space, not pre-order).
      // Names and types are the real identity.
      require(shapeOf(priorSchema) ==
        shapeOf(StructType(tableSchema.fields.toIndexedSeq)),
        "iceberg staging: schema evolution is not modeled by this " +
          "fixture writer")
    }
    // `partitionBy` entries use the writer spec-string syntax (plain
    // column = identity, `days(col)`, `bucket(N, col)`, ...); identity
    // SOURCE columns are stripped from data files, transform sources
    // stay (hidden partitioning)
    val spec = partitionBy.map(IcebergTransforms.parseSpec)
    val identitySources = spec
      .filter(_.transform == IcebergTransforms.Identity).map(_.sourceName)
    val statCols = statColsOf(StructType(
      tableSchema.filterNot(f => identitySources.contains(f.name))))

    // manifest (Avro): manifest_entry{status, snapshot_id, data_file{...}}
    val partAvroFields = spec.map(_.fieldName)
      .map(c => s"""{"name":"$c","type":["null","string"],"default":null}""")
      .mkString(",")
    val boundsAvro = (n: String, rec: String) =>
      s"""{"name":"$n","type":["null",{"type":"array","items":
         |{"type":"record","name":"$rec","fields":[
         |{"name":"key","type":"int"},{"name":"value","type":"bytes"}
         |]}}],"default":null}""".stripMargin
    val manifestSchema = new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int"},
         |{"name":"snapshot_id","type":["null","long"],"default":null},
         |{"name":"sequence_number","type":["null","long"],"default":null},
         |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |{"name":"content","type":"int"},
         |{"name":"file_path","type":"string"},
         |{"name":"file_format","type":"string"},
         |{"name":"partition","type":{"type":"record","name":"r102",
         |  "fields":[$partAvroFields]}},
         |{"name":"record_count","type":"long"},
         |{"name":"file_size_in_bytes","type":"long"},
         |{"name":"equality_ids","type":["null",
         |  {"type":"array","items":"int"}],"default":null},
         |${boundsAvro("lower_bounds", "k126")},
         |${boundsAvro("upper_bounds", "k127")},
         |{"name":"referenced_data_file","type":["null","string"],
         |  "default":null},
         |{"name":"content_offset","type":["null","long"],"default":null},
         |{"name":"content_size_in_bytes","type":["null","long"],
         |  "default":null}
         |]}}]}""".stripMargin)
    val dfSchema = manifestSchema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    // single-value serialization (spec Appendix D): ints/longs and IEEE
    // floats little-endian, strings UTF-8 bytes
    def ser(dt: DataType, v: Any): Option[java.nio.ByteBuffer] = {
      val le = java.nio.ByteOrder.LITTLE_ENDIAN
      def fixed(n: Int)(fill: java.nio.ByteBuffer => Unit) = {
        val b = java.nio.ByteBuffer.allocate(n).order(le)
        fill(b); b.flip(); Some(b)
      }
      try dt match {
        case LongType => fixed(8)(_.putLong(v.asInstanceOf[Long]))
        case IntegerType => fixed(4)(_.putInt(v.asInstanceOf[Int]))
        case DoubleType => fixed(8)(_.putDouble(v.asInstanceOf[Double]))
        case FloatType => fixed(4)(_.putFloat(v.asInstanceOf[Float]))
        case StringType =>
          Some(java.nio.ByteBuffer.wrap(v.toString.getBytes("UTF-8")))
        case _ => None
      } catch { case _: Exception => None }
    }
    val boundsArraySchema = dfSchema.getField("lower_bounds").schema()
      .getTypes.get(1)
    // name → field id for manifest bounds keys and spec source-ids:
    // the STORED current schema's true ids when the table exists
    // (after nested evolution the fresh end-of-space ids diverge from
    // a positional re-derivation), positional pre-order at creation
    val ids: Map[String, Int] = priorMd.flatMap { md =>
      val curId = Option(md.get("current-schema-id")).map(_.asInt)
        .getOrElse(0)
      Option(md.get("schemas")).toSeq
        .flatMap(_.elements().asScala)
        .find(s => Option(s.get("schema-id")).forall(_.asInt == curId))
        .map(sn => sn.get("fields").elements().asScala
          .map(f => f.get("name").asText -> f.get("id").asInt).toMap)
    }.getOrElse(fieldIds(tableSchema))
    // PARTITION-SPEC RESOLUTION (r11, spec evolution): render the
    // commit's spec to semantic tuples and match against the prior
    // metadata's spec list — an identical spec REUSES its id (DML
    // re-commits stay stable), a different one appends as id max+1 and
    // becomes the default. Prior specs carry forward verbatim, and
    // each manifest-list entry keeps the id its manifest was written
    // under — which is what makes evolved tables readable.
    val newSpecTuples = spec.map(f => (f.fieldName,
      IcebergTransforms.transformJson(f.transform), ids(f.sourceName)))
    val priorSpecs: Seq[(Int, String, Seq[(String, String, Int)])] =
      priorMd.toSeq.flatMap { md =>
        Option(md.get("partition-specs")).map(_.elements().asScala.toSeq
          .map { sp =>
            (sp.get("spec-id").asInt, M.writeValueAsString(sp),
              sp.get("fields").elements().asScala.toSeq.map(f =>
                (f.get("name").asText, f.get("transform").asText,
                  f.get("source-id").asInt)))
          }).getOrElse(Seq.empty)
      }
    val specId = priorSpecs.find(_._3 == newSpecTuples).map(_._1)
      .getOrElse(priorSpecs.map(_._1).maxOption.map(_ + 1).getOrElse(0))
    def boundsList(perCol: Map[String, (Any, Any)],
        takeMin: Boolean): java.util.List[GenericRecord] = {
      val items = boundsArraySchema.getElementType
      val out = new java.util.ArrayList[GenericRecord]()
      statCols.foreach { f =>
        perCol.get(f.name).foreach { case (mn, mx) =>
          ser(f.dataType, if (takeMin) mn else mx).foreach { buf =>
            val r = new GenericData.Record(items)
            // field ids via the SAME pre-order walk icebergSchemaJson
            // makes — a bare top-level ordinal diverges the moment a
            // nested struct sits between two columns, mis-attributing
            // bounds and silently skipping files that match
            r.put("key", ids(f.name))
            r.put("value", buf)
            out.add(r)
          }
        }
      }
      out
    }
    // one manifest per KIND: a manifest is either a DATA manifest
    // (content 0) or a DELETE manifest (content 1, holding positional
    // AND equality delete-file entries) — the spec does not mix them
    // exclusive (sink) commits name every artifact uniquely per
    // ATTEMPT: the metadata hard-link is the only commit point, and
    // two writers racing to the same version must not truncate each
    // other's manifests/manifest-list while one of them goes on to
    // win (the loser's uniquely-named files become harmless orphans,
    // the same debris a failed real-catalog commit leaves)
    val attempt =
      if (!exclusive) ""
      else "-" + java.util.UUID.randomUUID().toString.take(8)
    val newManifests: Seq[(java.io.File, Int)] =
      entries.groupBy(e => if (e.content == 0) 0 else 1).toSeq
        .sortBy(_._1).map {
        case (content, group) =>
          val manifestFile = new java.io.File(mdDir,
            f"m-$version%05d$attempt%s-c$content.avro")
          val mw = new DataFileWriter[GenericRecord](
            new GenericDatumWriter[GenericRecord](manifestSchema))
          mw.create(manifestSchema, manifestFile)
          group.foreach { en =>
            val part = new GenericData.Record(partSchema)
            en.pv.foreach { case (k, v) => part.put(k, v) }
            val d = new GenericData.Record(dfSchema)
            d.put("content", en.content)
            d.put("file_path", en.relPath)
            d.put("file_format", en.format)
            d.put("partition", part)
            en.dv.foreach { r =>
              d.put("referenced_data_file", r.referenced)
              d.put("content_offset", r.offset)
              d.put("content_size_in_bytes", r.length)
            }
            d.put("record_count", en.count)
            d.put("file_size_in_bytes", en.sizeBytes)
            d.put("lower_bounds", boundsList(en.perCol, takeMin = true))
            d.put("upper_bounds", boundsList(en.perCol, takeMin = false))
            if (en.equalityIds.nonEmpty) {
              val l = new java.util.ArrayList[Integer]()
              en.equalityIds.foreach(i => l.add(Integer.valueOf(i)))
              d.put("equality_ids", l)
            }
            val e = new GenericData.Record(manifestSchema)
            e.put("status", en.status)
            e.put("snapshot_id", snapshotId)
            e.put("sequence_number", snapshotId)
            e.put("data_file", d)
            mw.append(e)
          }
          mw.close()
          (manifestFile, content)
      }

    // manifest list (Avro): prior manifests + the new ones (order
    // matters — the reader's fold applies DELETED entries against the
    // files earlier manifests added; content flags are PRESERVED so a
    // prior delete manifest keeps applying)
    val mlSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin)
    val priorManifests: Seq[(String, Long, Int, Int)] =
      priorMd.toSeq.flatMap { md =>
        // carry forward the BASE snapshot's manifests — the branch
        // head for branch commits, main's head otherwise
        val lastSnap = md.get("snapshots").elements().asScala.toSeq
          .find(s => baseId.contains(s.get("snapshot-id").asLong))
        lastSnap.toSeq.flatMap { s =>
          avroRecords(resolveRef(tableDir, s.get("manifest-list").asText))
            .map(r => (r.get("manifest_path").toString,
              r.get("manifest_length").toString.toLong,
              Option(r.getSchema.getField("content"))
                .map(_ => r.get("content").toString.toInt).getOrElse(0),
              // each manifest keeps the spec it was WRITTEN under
              Option(r.getSchema.getField("partition_spec_id"))
                .map(_ => r.get("partition_spec_id").toString.toInt)
                .getOrElse(0)))
        }
      }
    val mlFile = new java.io.File(mdDir, f"snap-$snapshotId%d$attempt%s.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](mlSchema))
    lw.create(mlSchema, mlFile)
    (priorManifests ++ newManifests.map { case (f, c) =>
        (s"metadata/${f.getName}", f.length(), c, specId) })
      .foreach { case (p, len, content, sid) =>
        val r = new GenericData.Record(mlSchema)
        r.put("manifest_path", p)
        r.put("manifest_length", len)
        r.put("partition_spec_id", sid)
        r.put("content", content)
        r.put("added_snapshot_id", snapshotId)
        lw.append(r)
      }
    lw.close()

    // metadata json: full snapshot history + current pointer
    val specFields = spec.zipWithIndex.map { case (f, i) =>
      // source-id via the same pre-order id walk as the schema JSON
      val sid = ids(f.sourceName)
      val tr = IcebergTransforms.transformJson(f.transform)
      s"""{"name":"${f.fieldName}","transform":"$tr","source-id":$sid,""" +
        s""""field-id":${1000 + i}}"""
    }.mkString(",")
    // the FULL spec history, ordered by id: prior specs verbatim, this
    // commit's spec re-rendered under its (reused or fresh) id
    val specsJson = (priorSpecs.filterNot(_._1 == specId).map(s =>
        (s._1, s._2)) :+
        (specId, s"""{"spec-id":$specId,"fields":[$specFields]}"""))
      .sortBy(_._1).map(_._2).mkString(",")
    val priorSnaps = priorMd.map(_.get("snapshots").elements().asScala
      .map(M.writeValueAsString).mkString(",")).filter(_.nonEmpty)
    // carry the SCHEMA HISTORY forward (a rename appended a schema and
    // moved current-schema-id; regenerating "schemas" from the caller's
    // StructType would erase it) and stamp the new snapshot with the
    // CURRENT schema id, per-snapshot resolution's contract
    val (schemasJson, curSchemaId) = priorMd
      .flatMap(md => Option(md.get("schemas")).map { ss =>
        (ss.elements().asScala.map(M.writeValueAsString).mkString(","),
          Option(md.get("current-schema-id")).map(_.asInt).getOrElse(0))
      })
      .getOrElse((icebergSchemaJson(tableSchema), 0))
    val newSnap =
      s"""{"snapshot-id":$snapshotId,"sequence-number":$version,""" +
        // the parent link is what makes [[fastForward]]'s ancestry
        // walk (and any lineage introspection) possible — emitted for
        // every commit that has a base, per the spec's snapshot shape
        baseId.map(b => s""""parent-snapshot-id":$b,""").getOrElse("") +
        s""""timestamp-ms":${1700000000000L + version},""" +
        s""""manifest-list":"metadata/${mlFile.getName}",""" +
        s""""summary":{${(Seq(s""""operation":"$operation"""") ++
          summaryProps.toSeq.sortBy(_._1).map { case (k, v) =>
            s""""${k}":${M.writeValueAsString(v)}""" })
          .mkString(",")}},""" +
        s""""schema-id":$curSchemaId}"""
    val snapsJson = (priorSnaps.toSeq :+ newSnap).mkString(",")
    // deletion vectors require format-version 3 (the v3 spec gates
    // them); the version is MONOTONIC — once a table is v3, later
    // commits must not stamp it back down
    val formatVersion = math.max(
      priorMd.flatMap(md => Option(md.get("format-version")))
        .map(_.asInt).getOrElse(2),
      if (entries.exists(_.dv.isDefined)) 3 else 2)
    // table properties: the prior metadata's carry FORWARD (dropping
    // them would break e.g. an established name mapping on the next
    // commit), merged under this commit's
    val mergedProps: Map[String, String] =
      priorMd.flatMap(md => Option(md.get("properties"))).toSeq
        .flatMap(_.properties().asScala.map(e =>
          e.getKey -> e.getValue.asText)).toMap ++ tableProps
    val propsJson =
      if (mergedProps.isEmpty) ""
      else s""""properties":{${mergedProps.toSeq.sortBy(_._1).map {
        case (k, v) => s"${M.writeValueAsString(k)}:${
          M.writeValueAsString(v)}"
      }.mkString(",")}},"""
    // snapshot refs carry FORWARD (a tag dropped by a later commit
    // would silently unpin the snapshot it guards); `main` moves to
    // this commit per the spec — it is the branch current-snapshot-id
    // tracks
    val priorRefs: Map[String, String] =
      priorMd.flatMap(md => Option(md.get("refs"))).toSeq
        .flatMap(_.properties().asScala.map(e =>
          e.getKey -> M.writeValueAsString(e.getValue))).toMap
    val movedRef = toBranch.filterNot(_ == "main").getOrElse("main")
    val refsJson = {
      val entries = (priorRefs - movedRef) +
        (movedRef -> s"""{"snapshot-id":$snapshotId,"type":"branch"}""")
      s""""refs":{${entries.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${M.writeValueAsString(k)}:$v" }.mkString(",")}},"""
    }
    // a branch commit leaves main (and the current pointer) in place
    val currentId =
      if (movedRef == "main") snapshotId
      else priorMd.flatMap(md => Option(md.get("current-snapshot-id"))
        .map(_.asLong)).getOrElse(-1L)
    val mdJson =
      s"""{"format-version":$formatVersion,"table-uuid":"${java.util.UUID
        .nameUUIDFromBytes(tableDir.getBytes("UTF-8"))}",
         |"location":"$tableDir","last-sequence-number":$version,
         |"last-updated-ms":${1700000000000L + version},
         |"last-column-id":${tableSchema.size},
         |$propsJson
         |$refsJson
         |"schemas":[$schemasJson],
         |"current-schema-id":$curSchemaId,
         |"partition-specs":[$specsJson],
         |"default-spec-id":$specId,"last-partition-id":${999 + spec.size},
         |"current-snapshot-id":$currentId,
         |"snapshots":[$snapsJson]}""".stripMargin
    val target = new java.io.File(mdDir, s"v$version.metadata.json").toPath
    if (exclusive) writeMetadataExclusive(target, mdJson)
    else java.nio.file.Files.writeString(target, mdJson)
    java.nio.file.Files.writeString(
      new java.io.File(mdDir, "version-hint.text").toPath, version.toString)
    snapshotId
  }

  /** Append `df` as a new snapshot of the Iceberg table at `tableDir`
    * (optionally identity-partitioned). Writes the data files via Spark,
    * one Avro manifest for the added files (real bounds + record
    * counts), a new Avro manifest list (previous manifests + the new one
    * — the spec's append shape), and the next `v<N>.metadata.json`
    * carrying the full snapshot history. Returns the new snapshot id
    * (deterministic: the 1-based snapshot ordinal, so fixtures and
    * oracles can name snapshots).
    */
  def stageAppend(spark: SparkSession, tableDir: String, df: DataFrame,
      partitionBy: Seq[String]): Long =
    stageAppendWith(spark, tableDir, df, partitionBy, "append",
      Map.empty, exclusive = false, replaceTable = false)

  /** Append `df` as ORC data files — the MIGRATED-HIVE-ESTATE shape
    * (`migrate`/`add_files` over an ORC warehouse registers the
    * existing ORC files): fixture machinery for the ORC READ path,
    * mirroring what a Hive-to-Iceberg migration leaves on disk.
    * Identity partitioning only (migrated Hive layouts are identity-
    * partitioned by construction). Real bounds and record counts land
    * in the manifest, so stats skipping prunes ORC files exactly like
    * parquet ones.
    */
  def stageOrcAppend(spark: SparkSession, tableDir: String,
      df: DataFrame, partitionBy: Seq[String] = Seq.empty): Long = {
    val root = new java.io.File(tableDir)
    val (_, version) = priorState({ val d = metadataDir(tableDir)
      d.mkdirs(); d })
    val moved = writeDataFiles(root, df, partitionBy, s"a$version",
      format = "orc")
    val dataSchema = StructType(
      df.schema.filterNot(f => partitionBy.contains(f.name)))
    val stats = fileStatsOf(spark, dataSchema,
      moved.map(_._1.getAbsolutePath), format = "orc")
    val entries = moved.map { case (file, pv) =>
      val (n, perCol) = stats.getOrElse(file.getAbsolutePath,
        (0L, Map.empty[String, (Any, Any)]))
      Entry(1, root.toPath.relativize(file.toPath).toString,
        file.length(), pv, n, perCol, format = "ORC")
    }
    commitSnapshot(spark, tableDir, df.schema, partitionBy, entries,
      "append")
  }

  /** Driver-side staging bound: [[stageAvroAppend]] and
    * [[stageOrcIdAppend]] serialize every row THROUGH THE DRIVER
    * (Spark cannot write Iceberg field-id Avro/ORC natively) — they
    * are fixture machinery, never a data path. The cap makes pointing
    * a real table at them fail loudly instead of OOMing the driver;
    * the probe itself is `limit(cap+1)`-bounded so it never scans
    * more than cap+1 rows.
    */
  private val StagingMaxRows = 1000000L
  private def requireFixtureScale(df: DataFrame, who: String): Unit =
    require(df.limit((StagingMaxRows + 1).toInt).count() <= StagingMaxRows,
      s"Iceberg.$who writes rows driver-side (field-id Avro/ORC " +
        s"fixture machinery) and is capped at $StagingMaxRows rows — " +
        "use the parquet write path for real data")

  /** [[stageAppend]] writing AVRO data files (the third migrated-estate
    * data format; [[GraftAvroFileFormat]] reads them back by FIELD ID).
    * Fixture machinery like every stage* writer — rows are grouped and
    * written DRIVER-SIDE through avro-core (no spark-avro module in
    * this environment), with per-file counts and min/max computed
    * inline so manifest stats pruning works identically to the other
    * arms. Field-id props follow [[icebergSchemaJson]]'s assignment
    * (position+1 over the FULL table schema) so data-file ids match
    * the committed table schema.
    */
  def stageAvroAppend(spark: SparkSession, tableDir: String,
      df: DataFrame, partitionBy: Seq[String] = Seq.empty): Long = {
    requireFixtureScale(df, "stageAvroAppend")
    val root = new java.io.File(tableDir)
    val (_, version) = priorState({ val d = metadataDir(tableDir)
      d.mkdirs(); d })
    val dataSchema = StructType(
      df.schema.filterNot(f => partitionBy.contains(f.name)))
    def avroType(dt: DataType): Schema = dt match {
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case IntegerType => Schema.create(Schema.Type.INT)
      case LongType => Schema.create(Schema.Type.LONG)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case StringType => Schema.create(Schema.Type.STRING)
      case DateType =>
        org.apache.avro.LogicalTypes.date()
          .addToSchema(Schema.create(Schema.Type.INT))
      case TimestampType =>
        org.apache.avro.LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      case TimestampNTZType =>
        org.apache.avro.LogicalTypes.localTimestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      case other => throw new UnsupportedOperationException(
        s"stageAvroAppend: unsupported type $other")
    }
    val avroFields = dataSchema.fields.map { f =>
      val base = avroType(f.dataType)
      val s = if (f.nullable)
        Schema.createUnion(Schema.create(Schema.Type.NULL), base)
      else base
      val af = new Schema.Field(f.name, s, null,
        if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
      af.addProp("field-id",
        Integer.valueOf(df.schema.fieldIndex(f.name) + 1))
      af
    }
    val avroSchema = Schema.createRecord("r", null, "graft", false,
      java.util.Arrays.asList(avroFields: _*))
    def avroValue(dt: DataType, v: Any): Any = (dt, v) match {
      case (_, null) => null
      case (DateType, d: java.sql.Date) =>
        Integer.valueOf(d.toLocalDate.toEpochDay.toInt)
      case (TimestampType, t: java.sql.Timestamp) =>
        java.lang.Long.valueOf(t.getTime * 1000L +
          (t.getNanos % 1000000) / 1000L)
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        java.lang.Long.valueOf(
          t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            t.getNano / 1000L)
      case (_, other) => other
    }
    val statCols = statColsOf(dataSchema)
    val rows = df.collect()
    val groups = rows.groupBy(r =>
      partitionBy.map(c => c -> String.valueOf(r.getAs[Any](c))).toMap)
    val entries = groups.toSeq.sortBy(_._1.toString).zipWithIndex
      .map { case ((pv, rs), i) =>
        val rel = (pv.map { case (k, v) => s"$k=$v" }.toSeq :+
          s"avro-$version-$i.avro").mkString("/")
        val dest = new java.io.File(root, s"data/$rel")
        dest.getParentFile.mkdirs()
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](avroSchema))
        w.create(avroSchema, dest)
        val mins = mutable.Map.empty[String, Any]
        val maxs = mutable.Map.empty[String, Any]
        def cmp(a: Any, b: Any): Int =
          a.asInstanceOf[Comparable[Any]].compareTo(b)
        rs.foreach { r =>
          val rec = new GenericData.Record(avroSchema)
          dataSchema.fields.foreach { f =>
            rec.put(f.name, avroValue(f.dataType, r.getAs[Any](f.name)))
          }
          w.append(rec)
          statCols.foreach { f =>
            val v = r.getAs[Any](f.name)
            if (v != null) {
              if (!mins.contains(f.name) || cmp(v, mins(f.name)) < 0)
                mins(f.name) = v
              if (!maxs.contains(f.name) || cmp(v, maxs(f.name)) > 0)
                maxs(f.name) = v
            }
          }
        }
        w.close()
        val perCol = statCols.flatMap(f =>
          mins.get(f.name).map(mn => f.name -> (mn, maxs(f.name)))).toMap
        Entry(1, root.toPath.relativize(dest.toPath).toString,
          dest.length(), pv, rs.length.toLong, perCol, format = "AVRO")
      }
    commitSnapshot(spark, tableDir, df.schema, partitionBy, entries,
      "append")
  }

  /** [[stageOrcAppend]] writing ORC files WITH the Iceberg spec's
    * `iceberg.id` type attributes (Spark's ORC writer cannot stamp
    * them, so this goes through orc-core driver-side — fixture
    * machinery, unpartitioned, the shape an Iceberg-native writer
    * leaves behind). Field ids follow [[icebergSchemaJson]]'s
    * positional assignment so data-file ids match the committed table
    * schema; id-carrying files resolve by FIELD ID at scan
    * ([[scanOf]]'s ORC arm) — renames safe, no name check.
    */
  def stageOrcIdAppend(spark: SparkSession, tableDir: String,
      df: DataFrame): Long = {
    requireFixtureScale(df, "stageOrcIdAppend")
    import org.apache.orc.TypeDescription
    import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector, DoubleColumnVector, LongColumnVector}
    val root = new java.io.File(tableDir)
    val (_, version) = priorState({ val d = metadataDir(tableDir)
      d.mkdirs(); d })
    def orcType(dt: DataType): TypeDescription = dt match {
      case LongType => TypeDescription.createLong()
      case IntegerType => TypeDescription.createInt()
      case DoubleType => TypeDescription.createDouble()
      case BooleanType => TypeDescription.createBoolean()
      case StringType => TypeDescription.createString()
      case DateType => TypeDescription.createDate()
      case other => throw new UnsupportedOperationException(
        s"stageOrcIdAppend: unsupported type $other")
    }
    val orcSchema = TypeDescription.createStruct()
    df.schema.fields.zipWithIndex.foreach { case (f, i) =>
      orcSchema.addField(f.name,
        orcType(f.dataType).setAttribute("iceberg.id",
          (i + 1).toString))
      ()
    }
    val rel = s"data/orcid-$version-0.orc"
    val dest = new java.io.File(root, rel)
    dest.getParentFile.mkdirs()
    val writer = org.apache.orc.OrcFile.createWriter(
      new org.apache.hadoop.fs.Path(dest.getAbsolutePath),
      org.apache.orc.OrcFile.writerOptions(
        new org.apache.hadoop.conf.Configuration())
        .setSchema(orcSchema))
    val batch = orcSchema.createRowBatch()
    val statCols = statColsOf(df.schema)
    val mins = mutable.Map.empty[String, Any]
    val maxs = mutable.Map.empty[String, Any]
    def cmp(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
    var n = 0L
    df.collect().foreach { r =>
      val row = batch.size
      batch.size += 1
      df.schema.fields.zipWithIndex.foreach { case (f, i) =>
        val v = r.getAs[Any](f.name)
        if (v == null) {
          batch.cols(i).noNulls = false
          batch.cols(i).isNull(row) = true
        } else f.dataType match {
          case LongType => batch.cols(i)
            .asInstanceOf[LongColumnVector].vector(row) =
            v.asInstanceOf[Long]
          case IntegerType => batch.cols(i)
            .asInstanceOf[LongColumnVector].vector(row) =
            v.asInstanceOf[Int].toLong
          case BooleanType => batch.cols(i)
            .asInstanceOf[LongColumnVector].vector(row) =
            if (v.asInstanceOf[Boolean]) 1L else 0L
          case DoubleType => batch.cols(i)
            .asInstanceOf[DoubleColumnVector].vector(row) =
            v.asInstanceOf[Double]
          case StringType => batch.cols(i)
            .asInstanceOf[BytesColumnVector].setVal(row,
              v.asInstanceOf[String]
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case DateType => batch.cols(i)
            .asInstanceOf[LongColumnVector].vector(row) =
            v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay
          case other => throw new UnsupportedOperationException(
            s"stageOrcIdAppend: unsupported type $other")
        }
        val sv = r.getAs[Any](f.name)
        if (sv != null && statCols.exists(_.name == f.name)) {
          if (!mins.contains(f.name) || cmp(sv, mins(f.name)) < 0)
            mins(f.name) = sv
          if (!maxs.contains(f.name) || cmp(sv, maxs(f.name)) > 0)
            maxs(f.name) = sv
        }
      }
      n += 1
      if (batch.size == batch.getMaxSize) {
        writer.addRowBatch(batch)
        batch.reset()
      }
    }
    if (batch.size > 0) writer.addRowBatch(batch)
    writer.close()
    val perCol = statCols.flatMap(f =>
      mins.get(f.name).map(mn => f.name -> (mn, maxs(f.name)))).toMap
    commitSnapshot(spark, tableDir, df.schema, Seq.empty,
      Seq(Entry(1, rel, dest.length(), Map.empty, n, perCol,
        format = "ORC")), "append")
  }

  /** [[stageAppend]] with the STREAMING-SINK commit shape: snapshot
    * summary properties (the txn ratchet rides there), EXCLUSIVE
    * metadata creation (racing writers fail loudly), and
    * `replaceTable` (complete-mode output: every currently-live data
    * AND delete file is removed in the same snapshot — older
    * snapshots stay time-travel readable).
    */
  private[graft] def stageAppendWith(spark: SparkSession,
      tableDir: String, df: DataFrame, partitionBy: Seq[String],
      operation: String, summaryProps: Map[String, String],
      exclusive: Boolean, replaceTable: Boolean,
      expectBase: Option[Long] = None,
      toBranch: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, datediff, floor, lit, month, pmod, substring, to_date, year}
    import IcebergTransforms._
    val root = new java.io.File(tableDir)
    val (priorMd, version) = priorState({ val d = metadataDir(tableDir)
      d.mkdirs(); d })
    // the EXISTING table's current schema (ids in metadata) — the
    // authoritative id source for appends to evolved tables
    val priorSchema: Option[StructType] = priorMd.flatMap { md =>
      try {
        val curId = Option(md.get("current-schema-id"))
          .map(_.asInt).getOrElse(0)
        Option(md.get("schemas")).toSeq
          .flatMap(_.elements().asScala)
          .find(s => Option(s.get("schema-id"))
            .forall(_.asInt == curId))
          .map(structFromIceberg)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    // derive one write-partitioning column per non-identity transform
    // (hidden partitioning: the SOURCE column stays in the data files;
    // Spark's partitionBy strips only the derived column). bucket[N]
    // derives through the native IceBucket expression — no UDF.
    val spec = partitionBy.map(parseSpec)
    // stamp field ids BEFORE deriving transform columns (the derived
    // columns are partitioning scaffolding, never table fields)
    val dfIds = priorSchema.map(s => withTableIds(df, s))
      .getOrElse(withAssignedIds(df))
    val writeDf = spec.foldLeft(dfIds) { (d, f) =>
      f.transform match {
        case Identity => d
        case Days => d.withColumn(f.fieldName,
          datediff(col(f.sourceName).cast("date"),
            to_date(lit("1970-01-01"))))
        case Hours => d.withColumn(f.fieldName,
          // via unix_micros on a TimestampType view: NTZ→numeric casts
          // are not generally defined, NTZ→timestamp is the UTC
          // identity under the session's UTC zone
          floor(org.apache.spark.sql.functions
            .unix_micros(col(f.sourceName).cast("timestamp"))
            / 3600000000L).cast("int"))
        case Month => d.withColumn(f.fieldName,
          (year(col(f.sourceName)) - 1970) * 12 +
            month(col(f.sourceName)) - 1)
        case Year => d.withColumn(f.fieldName,
          year(col(f.sourceName)) - 1970)
        case Bucket(n) => d.withColumn(f.fieldName,
          org.apache.spark.sql.graft.GraftSql.column(IceBucket(
            org.apache.spark.sql.graft.GraftSql
              .expression(col(f.sourceName)), n)))
        case Truncate(w) => d.schema(f.sourceName).dataType match {
          case StringType => d.withColumn(f.fieldName,
            substring(col(f.sourceName), 1, w))
          case _ => d.withColumn(f.fieldName,
            col(f.sourceName) - pmod(col(f.sourceName), lit(w)))
        }
      }
    }
    val dirCols = spec.map(f =>
      if (f.transform == Identity) f.sourceName else f.fieldName)
    // exclusive (sink) commits tag their scratch dir uniquely: two
    // writers racing to the same version would otherwise share
    // `_ice_tmp_aN` — mode("overwrite") deletes the other's staged
    // files mid-move (the data-file names themselves are already
    // UUID-unique part files)
    val tag =
      if (!exclusive) s"a$version"
      else s"a$version-${java.util.UUID.randomUUID().toString.take(8)}"
    val moved = writeDataFiles(root, writeDf, dirCols, tag)
    val identitySources = spec.filter(_.transform == Identity)
      .map(_.sourceName)
    val dataSchema = StructType(
      df.schema.filterNot(f => identitySources.contains(f.name)))
    val stats = fileStatsOf(spark, dataSchema,
      moved.map(_._1.getAbsolutePath))
    val entries = moved.map { case (file, pv) =>
      val (n, perCol) = stats.getOrElse(file.getAbsolutePath,
        (0L, Map.empty[String, (Any, Any)]))
      Entry(1, root.toPath.relativize(file.toPath).toString,
        file.length(), pv, n, perCol)
    }
    // complete-mode sink output REPLACES the table's content: every
    // currently-live data and delete file gets a status=2 entry in the
    // same snapshot (partition records irrelevant on removals — the
    // fold removes by path). The not-yet-a-table case is detected
    // EXPLICITLY — swallowing resolve() errors here would silently
    // turn "replace" into "append on top of unreadable live content"
    val removals: Seq[Entry] =
      if (!replaceTable || !hasSnapshot(tableDir)) Seq.empty
      // an overwrite REPLACES the target's content — for a branch
      // commit that target is the BRANCH's live set, not main's
      else Seq(resolve(spark, tableDir,
        toBranch.filterNot(_ == "main")
          .flatMap(b => refHeads(tableDir).get(b)))).flatMap { cur =>
          cur.files.map(f => Entry(2, f.path, f.size.getOrElse(0L),
            Map.empty, 0L, Map.empty, format = f.format)) ++
          cur.deleteFiles.map(f => Entry(2, f.path,
            f.size.getOrElse(0L), Map.empty, 0L, Map.empty,
            content = if (f.dvRef.isDefined) 1 else f.content,
            equalityIds = f.equalityIds,
            format = if (f.dvRef.isDefined) "PUFFIN" else "PARQUET",
            dv = f.dvRef))
        }
    commitSnapshot(spark, tableDir, df.schema, partitionBy,
      entries ++ removals, operation, summaryProps, exclusive,
      expectBase = expectBase, toBranch = toBranch)
  }

  /** Whether `tableDir` is an Iceberg table WITH a current snapshot —
    * the explicit "does not exist yet" test for writer paths that
    * must distinguish a fresh table from a broken one (a swallowed
    * resolve() error is never an acceptable stand-in: it turns real
    * corruption into silently different write semantics).
    */
  private def hasSnapshot(tableDir: String): Boolean = {
    val dir = metadataDir(tableDir)
    dir.exists() &&
      Option(dir.listFiles()).toSeq.flatten
        .exists(f => metadataVersionOf(f.getName).isDefined) &&
      Option(readMetadata(tableDir).get("current-snapshot-id"))
        .exists(_.asLong(-1L) >= 0)
  }

  // ---- public batch writer + row-level DML -------------------------------

  /** PUBLIC BATCH WRITER — commit `df` as a new snapshot of the
    * Iceberg table at `tableDir` and return its snapshot id. Creates
    * the table when none exists. `mode` is `append` or `overwrite`
    * (every currently-live data AND delete file removed in the same
    * snapshot — older snapshots stay time-travel readable).
    * `partitionBy` uses the writer spec-string syntax (`"col"`,
    * `"days(ts)"`, `"bucket(8, id)"`, …); on an existing table the
    * layout must match the table's spec (given or omitted — omitted
    * inherits). Schema evolution is refused by the commit layer
    * (loud), renames travel via the schema history instead. The
    * metadata commit is EXCLUSIVE: racing writers fail loudly and
    * should re-run (data files are re-staged per attempt — orphans of
    * a lost race are unreferenced and belong to maintenance).
    */
  def write(spark: SparkSession, tableDir: String, df: DataFrame,
      mode: String = "append", partitionBy: Seq[String] = Seq.empty)
      : Long = {
    require(mode == "append" || mode == "overwrite",
      s"Iceberg.write: mode must be 'append' or 'overwrite', got '$mode'")
    val cur = if (hasSnapshot(tableDir))
      Some(resolve(spark, tableDir, None)) else None
    val parts = cur match {
      case None => partitionBy
      case Some(c) =>
        val p = if (partitionBy.isEmpty) c.specStrings else partitionBy
        require(p == c.specStrings,
          s"Iceberg.write: table is partitioned by " +
            s"(${c.specStrings.mkString(",")}) but the batch writes " +
            s"(${p.mkString(",")}) — mixed layouts break partition " +
            "pruning")
        p
    }
    stageAppendWith(spark, tableDir, df, parts,
      if (mode == "overwrite") "overwrite" else "append", Map.empty,
      exclusive = true,
      replaceTable = mode == "overwrite" && cur.isDefined,
      // overwrite is rewrite-shaped: the removal set resolves from the
      // state this call saw — a commit landing since must fail this
      // write loudly (the version-shifted race the hard-link alone
      // cannot catch), never survive a "replace"
      expectBase = if (mode == "overwrite") cur.map(_.snapshotId)
        else None)
  }

  /** PUBLIC BRANCH WRITER — commit `df` to the named BRANCH instead of
    * `main`: the WRITE half of write-audit-publish (WAP), the
    * production Iceberg staging pattern (land on `audit`, validate,
    * then [[fastForward]] `main`). A branch not yet present is BORN at
    * the current main head; an existing branch advances from its own
    * head (parent links recorded, so the publish can verify ancestry).
    * `main` and every reader of it are untouched until the publish.
    * `mode` is `append` or `overwrite` — overwrite replaces the
    * BRANCH's live set, pinned to the branch head this call resolved
    * (`expectBase`: a racing branch writer fails loudly). Writing to a
    * TAG is refused — tags are immutable pins.
    */
  def writeToBranch(spark: SparkSession, tableDir: String, df: DataFrame,
      branch: String, mode: String = "append",
      partitionBy: Seq[String] = Seq.empty): Long = {
    require(branch.nonEmpty, "writeToBranch: branch name is empty")
    if (branch == "main")
      return write(spark, tableDir, df, mode, partitionBy)
    require(mode == "append" || mode == "overwrite",
      s"Iceberg.writeToBranch: mode must be 'append' or 'overwrite', " +
        s"got '$mode'")
    require(hasSnapshot(tableDir),
      s"Iceberg.writeToBranch: $tableDir does not exist yet — create " +
        "the table with a main write first (a branch needs a base)")
    val md = readMetadata(tableDir)
    Option(md.get("refs")).flatMap(r => Option(r.get(branch)))
      .foreach(r => require(r.get("type").asText != "tag",
        s"Iceberg.writeToBranch: '$branch' is a TAG — tags are " +
          "immutable pins; branch from it explicitly instead"))
    val baseHead = refHeads(tableDir)
      .getOrElse(branch, currentSnapshotId(tableDir))
    val base = resolve(spark, tableDir, Some(baseHead))
    val parts = if (partitionBy.isEmpty) base.specStrings else partitionBy
    require(parts == base.specStrings,
      s"Iceberg.writeToBranch: table is partitioned by " +
        s"(${base.specStrings.mkString(",")}) but the batch writes " +
        s"(${parts.mkString(",")}) — mixed layouts break partition " +
        "pruning")
    stageAppendWith(spark, tableDir, df, parts,
      if (mode == "overwrite") "overwrite" else "append", Map.empty,
      exclusive = true, replaceTable = mode == "overwrite",
      expectBase = if (mode == "overwrite") Some(baseHead) else None,
      toBranch = Some(branch))
  }

  /** PUBLISH a branch — `fast_forward('main', branch)`: `main` (and
    * the current-snapshot pointer) move to the branch's head as a
    * METADATA-ONLY exclusive commit. Refused unless main's current
    * head is an ANCESTOR of the branch head (walked over the
    * snapshots' parent links): a diverged main means someone committed
    * past the audit — fast-forwarding would silently drop their work,
    * the exact lost-update WAP exists to prevent. The branch ref stays
    * (Iceberg's procedure keeps it; drop it via maintenance). Returns
    * the published snapshot id.
    */
  def fastForward(spark: SparkSession, tableDir: String,
      branch: String): Long = {
    require(branch != "main",
      "Iceberg.fastForward: 'main' onto itself is a no-op")
    // ONE consistent read: the metadata this publish rewrites and the
    // version it lands at come from the same directory listing, so an
    // interloping commit between them is impossible — it either
    // happened before (we rewrite ITS content) or it takes our target
    // version and the exclusive link below fails loudly. Separate
    // readMetadata + priorState reads would let a commit land in
    // between and be silently erased from the copy (lost update).
    val mdDir = metadataDir(tableDir)
    val (priorOpt, version) = priorState(mdDir)
    val md = priorOpt.getOrElse(throw new IllegalArgumentException(
      s"Iceberg.fastForward: no Iceberg table at $tableDir"))
    val refs = Option(md.get("refs")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue).toMap).getOrElse(Map.empty)
    val ref = refs.getOrElse(branch, throw new IllegalArgumentException(
      s"Iceberg.fastForward: no ref '$branch' on $tableDir " +
        s"(available: ${(refs.keySet + "main").toSeq.sorted
          .mkString(", ")})"))
    require(ref.get("type").asText == "branch",
      s"Iceberg.fastForward: '$branch' is a tag, not a branch")
    val target = ref.get("snapshot-id").asLong
    val mainHead = Option(md.get("current-snapshot-id"))
      .map(_.asLong(-1L)).filter(_ >= 0).getOrElse(
        throw new IllegalStateException(
          s"Iceberg.fastForward: $tableDir has no current snapshot"))
    if (target == mainHead) return mainHead // already published
    // ancestry walk over parent-snapshot-id links: main must sit on
    // the branch's history or the branches diverged. A hop whose
    // parent id is recorded but whose snapshot ENTRY is gone means the
    // chain was TRIMMED (expire dropped an intermediate) — distinct
    // from genuine divergence, and expireSnapshots retains branch
    // ancestry precisely so this cannot happen through this library's
    // own maintenance.
    val snaps = Option(md.get("snapshots")).toSeq
      .flatMap(_.elements().asScala.toSeq)
    val present = snaps.map(_.get("snapshot-id").asLong).toSet
    val parents: Map[Long, Long] = snaps
      .flatMap(s => Option(s.get("parent-snapshot-id")).map(p =>
        s.get("snapshot-id").asLong -> p.asLong)).toMap
    var cur = Option(target)
    var found = false
    var trimmed = false
    while (cur.isDefined && !found && !trimmed) {
      if (cur.get == mainHead) found = true
      else {
        val p = parents.get(cur.get)
        if (p.exists(pp => !present.contains(pp) && pp != mainHead))
          trimmed = true
        else cur = p
      }
    }
    require(!trimmed,
      s"Iceberg.fastForward: the parent chain of '$branch' ($target) " +
        s"was TRIMMED past main ($mainHead) — expired history makes " +
        "ancestry unverifiable; re-cut the branch from current main")
    require(found,
      s"Iceberg.fastForward: main ($mainHead) is not an ancestor of " +
        s"'$branch' ($target) — the branches diverged (a commit " +
        "landed on main since the branch was cut); rebase the branch " +
        "or merge explicitly instead of silently dropping main's work")
    import com.fasterxml.jackson.databind.node.ObjectNode
    val out = md.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    out.put("current-snapshot-id", target)
    out.get("refs").asInstanceOf[ObjectNode].putObject("main")
      .put("snapshot-id", target).put("type", "branch")
    out.put("last-updated-ms", 1700000000000L + version)
    writeMetadataExclusive(
      new java.io.File(mdDir, s"v$version.metadata.json").toPath,
      M.writeValueAsString(out))
    java.nio.file.Files.writeString(
      new java.io.File(mdDir, "version-hint.text").toPath,
      version.toString)
    target
  }

  /** PUBLIC ROW-LEVEL DELETE — the FORMAT-VERSION 3 deletion-vector
    * shape (one Puffin blob per hit file; superseded DVs removed
    * in-commit; format version ratchets to 3), as [[DeltaLake.delete]]
    * writes deletion vectors. Rows where the predicate is false
    * OR NULL survive. Returns the new snapshot id, or -1 when no live
    * row matched (no commit).
    *
    * Scale shape: candidates are pruned driver-side through the
    * manifest bounds + partition transforms (the same keep as
    * [[snapshotWhere]]); matching row indexes are found in ONE
    * distributed job over exactly those files through the NORMAL
    * merge-on-read path (existing DVs, positional and equality
    * deletes all apply — a dead row cannot re-match); per-file
    * bitmaps are built ON THE EXECUTORS and only roaring-compressed
    * bytes reach the driver. The commit is exclusive and pinned to
    * the resolved snapshot (`expectBase`): a concurrent writer fails
    * this delete loudly instead of it building over stale state.
    */
  def delete(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val root = new java.io.File(tableDir)
    val cur = resolve(spark, tableDir, None)
    requireParquetData(cur, tableDir, "delete")
    val pred = org.apache.spark.sql.graft.GraftSql.predicateTree(predicate)
    val active = cur.pruneTransforms
      .filter(_.transform != IcebergTransforms.Identity)
    val kept = cur.files.filter(f => StatsSkip.mayMatch(pred, cur.schema,
      cur.partitionColumns, f.partitionValues, f.stats) &&
      IcebergTransforms.mayMatch(pred, active, f.partitionValues))
    if (kept.isEmpty) return -1L
    val t = dmlTable(spark, tableDir, cur)
    val perFile = RowLevelDml.deletedRows(t, kept, predicate)
    if (perFile.isEmpty) return -1L
    val (deadNow, priorDvs) = currentDeadSets(spark, tableDir, cur)
    // the new DV for a file = its COMPLETE dead set (spec writer rule)
    val blobs = perFile.map { case (f, fresh) =>
      f.path -> (deadNow(t.localPath(f)) ++ fresh.toArray).toSeq.sorted
    }
    val (_, version) = priorState(metadataDir(tableDir))
    // unique Puffin name: a retried delete after a lost race must not
    // collide with the winner's staged blob file
    val puffinRel = s"data/dv-$version-" +
      s"${java.util.UUID.randomUUID().toString.take(8)}.puffin"
    val puffinFile = new java.io.File(root, puffinRel)
    puffinFile.getParentFile.mkdirs()
    val refs = Puffin.stage(puffinFile, blobs)
    val adds = refs.map { r =>
      Entry(1, puffinRel, puffinFile.length(), Map.empty,
        r.cardinality.get, Map.empty, content = 1, format = "PUFFIN",
        dv = Some(r))
    }
    val removes = blobs.map(_._1)
      .flatMap(rel => priorDvs.get(resolveRef(tableDir, rel))).map { f =>
        Entry(2, f.path, f.size.getOrElse(0L), Map.empty,
          f.dvRef.flatMap(_.cardinality).getOrElse(0L), Map.empty,
          content = 1, format = "PUFFIN", dv = f.dvRef)
      }
    commitSnapshot(spark, tableDir, cur.schema, cur.specStrings,
      adds ++ removes, "delete", exclusive = true,
      expectBase = Some(cur.snapshotId))
  }

  /** PUBLIC ROW-LEVEL UPDATE — copy-on-write, as [[DeltaLake.update]]:
    * every file holding a matching live row is removed and rewritten
    * with `set` applied, its deletion vector / positional / equality
    * deletes MATERIALIZED — the rewritten file holds live rows only and
    * its superseded DV is removed in the same snapshot. SQL UPDATE
    * semantics and the SET rules per [[RowLevelDml.updateSet]];
    * identity partitioning only (a transform-partitioned rewrite needs
    * hidden-partition re-derivation — out of scope, loud). Returns the
    * new snapshot id, or -1 when nothing matched.
    *
    * Scale shape: bounds-pruned candidates → one distributed probe for
    * the files actually holding matches (driver sees paths only) →
    * ONE distributed rewrite over exactly those files landing through
    * the table's partition layout. Exclusive commit pinned to the
    * resolved snapshot (`expectBase`).
    */
  def update(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      rawSet: Map[String, org.apache.spark.sql.Column]): Long = {
    val cur = resolve(spark, tableDir, None)
    requireParquetData(cur, tableDir, "update")
    val t = dmlTable(spark, tableDir, cur)
    val set = RowLevelDml.updateSet("Iceberg.update", t, rawSet)
    require(cur.transforms
        .forall(_.transform == IcebergTransforms.Identity),
      "Iceberg.update: copy-on-write rewrites of transform-partitioned " +
        "tables are not supported — the rewrite would need " +
        "hidden-partition re-derivation")
    val pred = org.apache.spark.sql.graft.GraftSql.predicateTree(predicate)
    val hits = RowLevelDml.matchingFiles(t,
      cur.files.filter(f => StatsSkip.mayMatch(pred, cur.schema,
        cur.partitionColumns, f.partitionValues, f.stats)), predicate)
    if (hits.isEmpty) return -1L
    // ONE distributed rewrite through the normal MoR path: DVs and
    // row-level deletes of the hit files materialize into live rows
    val rewritten = t.scan(hits).select(cur.schema.fieldNames.toIndexedSeq
      .map(c => RowLevelDml.setValue(t, predicate, set)(c).as(c)): _*)
    commitCow(spark, tableDir, cur, hits, rewritten, "upd")
  }

  /** PUBLIC MERGE (upsert) — `WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *` in ONE snapshot, as [[DeltaLake.merge]]:
    * [[mergeGeneral]] with `SET *` and `INSERT *` (no insert action when
    * `insertNotMatched = false`). The source must carry every table
    * column and the partition columns must be keys. Returns the new
    * snapshot id, or -1 when nothing would change.
    */
  def merge(spark: SparkSession, tableDir: String, source: DataFrame,
      keys: Seq[String], insertNotMatched: Boolean = true): Long = {
    import MergeActions._
    val cur = resolve(spark, tableDir, None)
    require(cur.schema.fieldNames.forall(source.columns.contains),
      "Iceberg.merge: the source must carry every table column " +
        s"${cur.schema.fieldNames.toSeq}, got ${source.columns.toSeq}")
    require(cur.partitionColumns.forall(keys.contains), "Iceberg.merge: " +
      s"partition columns ${cur.partitionColumns} must be merge keys")
    val star =
      source.select(cur.schema.fieldNames.toIndexedSeq.map(source.col): _*)
    mergeGeneral(spark, tableDir, cur, star, keys, Seq(MatchedUpdate()),
      if (insertNotMatched) Seq(NotMatchedInsert()) else Nil, Nil, None,
      thetaFullScan = false)
  }

  /** GENERAL-FORM MERGE — the full SQL clause set (ordered
    * conditional `WHEN MATCHED` UPDATE/DELETE, conditional `WHEN NOT
    * MATCHED` inserts, `WHEN NOT MATCHED BY SOURCE` UPDATE/DELETE)
    * over the copy-on-write writer, as [[DeltaLake.mergeGeneral]]:
    * expression scopes and first-match ordering per [[MergeActions]],
    * the ON contract, hit files and cardinality rule per
    * [[RowLevelDml.merge]]. The rewritten hit files and the inserts land
    * in ONE distributed write; identity partitioning only. Returns the
    * committed snapshot's version, or -1 when nothing changed.
    */
  def mergeGeneral(spark: SparkSession, tableDir: String,
      source: DataFrame, keys: Seq[String],
      matched: Seq[MergeActions.Matched] = Seq.empty,
      notMatched: Seq[MergeActions.NotMatchedInsert] = Seq.empty,
      notMatchedBySource: Seq[MergeActions.BySource] = Seq.empty,
      matchExtra: Option[org.apache.spark.sql.Column] = None,
      thetaFullScan: Boolean = false): Long =
    mergeGeneral(spark, tableDir, resolve(spark, tableDir, None), source,
      keys, matched, notMatched, notMatchedBySource, matchExtra,
      thetaFullScan)

  private def mergeGeneral(spark: SparkSession, tableDir: String,
      cur: SnapshotMeta, source: DataFrame, keys: Seq[String],
      matched: Seq[MergeActions.Matched],
      notMatched: Seq[MergeActions.NotMatchedInsert],
      notMatchedBySource: Seq[MergeActions.BySource],
      matchExtra: Option[org.apache.spark.sql.Column],
      thetaFullScan: Boolean): Long = {
    requireParquetData(cur, tableDir, "mergeGeneral")
    require(cur.transforms
        .forall(_.transform == IcebergTransforms.Identity),
      "Iceberg.mergeGeneral: copy-on-write rewrites of " +
        "transform-partitioned tables are not supported")
    RowLevelDml.merge("Iceberg.mergeGeneral",
      dmlTable(spark, tableDir, cur), source, keys, matched, notMatched,
      notMatchedBySource, matchExtra, thetaFullScan) { plan =>
      val outRows =
        if (plan.hits.isEmpty) plan.insertRows
        else plan.rewritten(plan.resolved).unionByName(plan.insertRows)
      commitCow(spark, tableDir, cur, plan.hits, outRows, "mrg")
    }
  }

  /** `cur` as the shared row-level DML planning reads it. */
  private def dmlTable(spark: SparkSession, tableDir: String,
      cur: SnapshotMeta): RowLevelDml.Table[IceFile] =
    new RowLevelDml.Table[IceFile] {
      def schema: StructType = cur.schema
      def partitionColumns: Seq[String] = cur.partitionColumns
      def files: Seq[IceFile] = cur.files
      def scan(files: Seq[IceFile], withMeta: Boolean): DataFrame =
        scanOf(spark, tableDir, cur.copy(files = files), withMeta)
      def localPath(f: IceFile): String =
        new java.io.File(resolveRef(tableDir, f.path)).getAbsolutePath
    }

  /** Land `rows` through the table's identity-partition layout and
    * commit them with status=2 entries for `hits` (and their
    * deletion vectors — materialized by the rewrite) — the shared
    * copy-on-write tail of [[update]] and [[mergeGeneral]]. Exclusive
    * commit pinned to the resolved snapshot.
    */
  private def commitCow(spark: SparkSession, tableDir: String,
      cur: SnapshotMeta, hits: Seq[IceFile], rows: DataFrame,
      opTag: String): Long = {
    val root = new java.io.File(tableDir)
    val (_, version) = priorState(metadataDir(tableDir))
    val tag = s"$opTag$version-" +
      java.util.UUID.randomUUID().toString.take(8)
    val moved = writeDataFiles(root,
      withTableIds(rows, cur.schema),
      cur.partitionColumns, tag)
    val dataSchema = StructType(
      cur.schema.filterNot(f => cur.partitionColumns.contains(f.name)))
    val stats = fileStatsOf(spark, dataSchema,
      moved.map(_._1.getAbsolutePath))
    val adds = moved.map { case (file, pv) =>
      val (n, perCol) = stats.getOrElse(file.getAbsolutePath,
        (0L, Map.empty[String, (Any, Any)]))
      Entry(1, root.toPath.relativize(file.toPath).toString,
        file.length(), pv, n, perCol)
    }
    val (_, priorDvs) = currentDeadSets(spark, tableDir, cur)
    val removes = hits.map(f => Entry(2, f.path, f.size.getOrElse(0L),
      f.partitionValues, 0L, Map.empty)) ++
      hits.flatMap(f => priorDvs.get(resolveRef(tableDir, f.path)))
        .map { f =>
          Entry(2, f.path, f.size.getOrElse(0L), Map.empty,
            f.dvRef.flatMap(_.cardinality).getOrElse(0L), Map.empty,
            content = 1, format = "PUFFIN", dv = f.dvRef)
        }
    commitSnapshot(spark, tableDir, cur.schema, cur.specStrings,
      adds ++ removes, "overwrite", exclusive = true,
      expectBase = Some(cur.snapshotId))
  }

  /** ROLLBACK — set the table's CURRENT snapshot back to
    * `snapshotId` (the `rollback_to_snapshot` procedure): a
    * METADATA-ONLY commit — the next `v<N>.metadata.json` carries the
    * same snapshot history with `current-snapshot-id` (and the `main`
    * branch ref) moved; no data file is touched, later snapshots stay
    * time-travel readable (and reclaimable via [[expireSnapshots]]).
    * The metadata lands EXCLUSIVELY (the catalog compare-and-swap
    * stand-in) — a concurrent commit collides loudly. Returns
    * `snapshotId`; rolling back to the current snapshot is a no-op
    * (no metadata written).
    */
  def rollback(spark: SparkSession, tableDir: String,
      snapshotId: Long): Long = {
    import com.fasterxml.jackson.databind.node.ObjectNode
    val mdDir = metadataDir(tableDir)
    val (priorMd, version) = priorState(mdDir)
    val md = priorMd.getOrElse(throw new IllegalArgumentException(
      s"not an Iceberg table: $tableDir"))
      .deepCopy[ObjectNode]()
    val snaps = Option(md.get("snapshots")).toSeq
      .flatMap(_.elements().asScala.toSeq)
      .map(_.get("snapshot-id").asLong)
    require(snaps.contains(snapshotId),
      s"rollback: snapshot $snapshotId is not in $tableDir's history " +
        s"(${snaps.mkString(", ")}) — expired snapshots cannot be " +
        "rolled back to")
    val cur = Option(md.get("current-snapshot-id"))
      .map(_.asLong(-1L)).getOrElse(-1L)
    if (cur == snapshotId) return snapshotId
    md.put("current-snapshot-id", snapshotId)
    Option(md.get("refs")).collect { case o: ObjectNode => o }
      .flatMap(refs => Option(refs.get("main"))
        .collect { case m: ObjectNode => m })
      .foreach { m => m.put("snapshot-id", snapshotId); () }
    writeMetadataExclusive(
      new java.io.File(mdDir, s"v$version.metadata.json").toPath,
      M.writeValueAsString(md))
    java.nio.file.Files.writeString(
      new java.io.File(mdDir, "version-hint.text").toPath,
      version.toString)
    snapshotId
  }

  /** ADD COLUMNS — append nullable columns to the table schema
    * (`ALTER TABLE t ADD COLUMNS …`): a new schema (fresh field ids
    * from `last-column-id`) lands in the `schemas` history,
    * `current-schema-id` moves, and — when the table has content — a
    * SAME-CONTENT snapshot (parent's manifest list, operation
    * `replace`, stamped with the new schema-id) is committed so
    * (a) snapshot-pinned consumers (the catalog) can advance to a
    * state that RESOLVES the new schema, and (b) time travel to
    * pre-evolution snapshots keeps surfacing their own schema, per
    * the spec's per-snapshot schema resolution. Pre-evolution data
    * files read the new columns as null through FIELD-ID resolution
    * (a missing id is a missing column, never a misbind). Returns the
    * new snapshot id (or the current one when the table is empty).
    */
  def addColumns(spark: SparkSession, tableDir: String,
      cols: Seq[StructField]): Long =
    addFields(spark, tableDir, cols.map(c => Seq.empty[String] -> c))

  /** Navigate an Iceberg schema JSON node down a struct member path
    * (empty = the node itself); each segment must name a struct
    * field. Shared by the nested ADD/RENAME evolutions.
    */
  private def structNodeAt(
      schemaNode: com.fasterxml.jackson.databind.node.ObjectNode,
      path: Seq[String], op: String)
      : com.fasterxml.jackson.databind.node.ObjectNode =
    path.foldLeft(schemaNode) { (node, seg) =>
      val f = node.get("fields").elements().asScala
        .find(_.get("name").asText == seg)
        .getOrElse(throw new IllegalArgumentException(
          s"Iceberg.$op: no field '$seg' on the path"))
      val t = f.get("type")
      require(t.isObject &&
          Option(t.get("type")).exists(_.asText == "struct"),
        s"Iceberg.$op: '$seg' is not a struct — only struct members " +
          "evolve by path")
      t.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    }

  /** ADD FIELDS at arbitrary struct paths (`ALTER TABLE t ADD COLUMN
    * s.member TYPE`), top-level included (empty path) — ONE
    * metadata-only evolution commit for the whole list. Field-id
    * resolution makes nested evolution sound on this format: the new
    * member gets a FRESH id past everything in the schema history, so
    * pre-evolution files (whose structs lack the id) surface null for
    * it at every nesting depth, exactly like a top-level add.
    */
  def addFields(spark: SparkSession, tableDir: String,
      adds: Seq[(Seq[String], StructField)]): Long = {
    require(adds.nonEmpty, "Iceberg.addColumns: no columns to add")
    adds.foreach { case (_, f) => require(f.nullable,
      s"Iceberg.addColumns: column '${f.name}' is NOT NULL — " +
        "existing rows have no value for it; add it optional") }
    evolveSchema(spark, tableDir, "addColumns") { (schemaNode, md) =>
      import com.fasterxml.jackson.databind.node.ObjectNode
      adds.groupBy(_._1).foreach { case (path, group) =>
        val parent = structNodeAt(schemaNode, path, "addColumns")
        val names = parent.get("fields").elements().asScala
          .map(_.get("name").asText.toLowerCase).toSet
        group.foreach { case (_, f) =>
          require(!names.contains(f.name.toLowerCase),
            s"Iceberg.addColumns: column '${f.name}' already exists" +
              (if (path.nonEmpty) s" under ${path.mkString(".")}"
               else ""))
        }
        require(group.map(_._2.name.toLowerCase).distinct.size ==
            group.size,
          s"Iceberg.addColumns: duplicate names in " +
            s"${group.map(_._2.name)}")
      }
      // fresh ids start past BOTH the stored last-column-id and every
      // id actually present in the schema history (this writer's
      // last-column-id counts top-level fields only, so on a
      // nested-struct table the stored value can sit BELOW ids the
      // pre-order assignment already consumed — trusting it would
      // mint a duplicate id)
      def maxIdOf(node: JsonNode): Int = {
        val fields = Option(node.get("fields")).toSeq
          .flatMap(_.elements().asScala)
        fields.flatMap { f =>
          Option(f.get("id")).map(_.asInt).toSeq ++
            Option(f.get("type")).filter(_.isObject).map(maxIdOf).toSeq
        }.maxOption.getOrElse(0)
      }
      var lastId = math.max(
        Option(md.get("last-column-id")).map(_.asInt).getOrElse(0),
        Option(md.get("schemas")).toSeq
          .flatMap(_.elements().asScala).map(maxIdOf)
          .maxOption.getOrElse(maxIdOf(schemaNode)))
      var anyDefault = false
      adds.foreach { case (path, f) =>
        val fields = structNodeAt(schemaNode, path, "addColumns")
          .get("fields")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
        lastId += 1
        val n = fields.addObject()
        n.put("id", lastId)
        n.put("name", f.name)
        n.put("required", false)
        n.put("type", icebergPrimitiveName(f.dataType,
          s"Iceberg.addColumns: '${f.name}'"))
        // ADD COLUMN … DEFAULT: the v3 spec's field defaults —
        // `initial-default` serves rows PREDATING the column at read
        // time (the spec home Delta lacks; our reader surfaces it as
        // EXISTS_DEFAULT so Spark's parquet reader fills pre-add
        // files), `write-default` fills future writes omitting the
        // column (surfaced as CURRENT_DEFAULT for the analyzer).
        // Top-level only (the catalog gates), constants only.
        if (f.metadata.contains("EXISTS_DEFAULT")) {
          require(path.isEmpty,
            s"Iceberg.addColumns: '${f.name}': defaults apply to " +
              "top-level columns only")
          val v = defaultJsonValue(spark,
            f.metadata.getString("EXISTS_DEFAULT"), f.dataType,
            s"Iceberg.addColumns: '${f.name}'")
          n.set[JsonNode]("initial-default", v)
          n.set[JsonNode]("write-default",
            if (f.metadata.contains("CURRENT_DEFAULT"))
              defaultJsonValue(spark,
                f.metadata.getString("CURRENT_DEFAULT"), f.dataType,
                s"Iceberg.addColumns: '${f.name}'")
            else v)
          anyDefault = true
        }
        ()
      }
      md.asInstanceOf[ObjectNode].put("last-column-id", lastId)
      // field defaults are a FORMAT-VERSION-3 feature: a v1/v2 reader
      // would silently ignore initial-default and serve null where a
      // v3 reader serves the default — stamping v3 makes the
      // divergence a loud version gate instead (monotonic, like the
      // DV promotion)
      if (anyDefault) {
        val cur = Option(md.get("format-version")).map(_.asInt)
          .getOrElse(1)
        md.asInstanceOf[ObjectNode]
          .put("format-version", math.max(cur, 3))
        ()
      }
    }
  }

  /** A column DEFAULT's SQL text evaluated to the v3 single-value
    * JSON form — int/long/boolean/float/double as JSON scalars,
    * string/decimal/date as JSON strings (the spec's serialization).
    * Non-constant or unsupported-type defaults refuse.
    */
  private def defaultJsonValue(spark: SparkSession, sql: String,
      dt: DataType, what: String): JsonNode = {
    val v = try spark.sql(s"SELECT CAST(($sql) AS ${dt.sql})")
      .head().get(0)
    catch { case e: Exception => throw new IllegalArgumentException(
      s"$what: DEFAULT $sql does not evaluate as a ${dt.sql} " +
        s"constant: ${e.getMessage}") }
    require(v != null,
      s"$what: DEFAULT $sql evaluates to NULL — omit the default")
    dt match {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType =>
        M.getNodeFactory.numberNode(v.toString.toLong)
      case _: BooleanType =>
        M.getNodeFactory.booleanNode(v.asInstanceOf[Boolean])
      case _: FloatType | _: DoubleType =>
        val d = v.toString.toDouble
        // NaN/Infinity have no JSON number rendering — Jackson would
        // emit a non-standard token the spec's single-value
        // serialization (and strict readers) reject
        require(java.lang.Double.isFinite(d),
          s"$what: DEFAULT $sql is non-finite ($d) — the Iceberg v3 " +
            "single-value JSON serialization has no representation " +
            "for NaN/Infinity defaults")
        M.getNodeFactory.numberNode(d)
      case _: StringType | _: DecimalType | _: DateType =>
        M.getNodeFactory.textNode(v.toString)
      case other => throw new IllegalArgumentException(
        s"$what: DEFAULT on a ${other.simpleString} column is not " +
          "supported (int/long/boolean/float/double/string/decimal/" +
          "date defaults serialize per the v3 spec)")
    }
  }

  /** PARTITION-SPEC EVOLUTION — `ALTER TABLE t ADD PARTITION FIELD
    * days(ts)` as a metadata-only commit minting a NEW spec-id: the
    * evolved default spec is the current default plus the new
    * transform field; existing data files stay under their own spec
    * (each manifest's `partition_spec_id` decodes its partition
    * records against the spec it was WRITTEN under — the reader's
    * multi-spec resolution), new writes land under the new spec, and
    * BOTH vintages prune on the fields their own spec carried
    * (`pruneTransforms` is the cross-spec union). IDENTITY fields
    * refuse: identity columns are constant-attached from the log, so
    * mixed identity sets across live manifests are unreadable —
    * day-one estates re-partition with transforms (days/bucket/
    * truncate), which is exactly what mixes soundly. Returns the new
    * snapshot id (or the metadata version on snapshot-less tables).
    */
  def addPartitionField(spark: SparkSession, tableDir: String,
      field: String): Long = {
    val cur = resolve(spark, tableDir, None)
    val f = IcebergTransforms.parseSpec(field)
    require(f.transform != IcebergTransforms.Identity,
      s"Iceberg.addPartitionField: '$field' is an IDENTITY field — " +
        "identity columns are constant-attached from the log and " +
        "mixed identity sets across live manifests are unreadable; " +
        "evolve with a transform (days/hours/month/year/bucket/" +
        "truncate) or re-create the table")
    require(cur.schema.fieldNames.contains(f.sourceName),
      s"Iceberg.addPartitionField: '${f.sourceName}' is not a column")
    require(!cur.transforms.exists(_.fieldName == f.fieldName),
      s"Iceberg.addPartitionField: partition field '${f.fieldName}' " +
        "is already in the default spec")
    // source-id from the CURRENT schema's field metadata (true ids)
    val srcId = cur.schema(f.sourceName).metadata match {
      case m if m.contains("parquet.field.id") =>
        m.getLong("parquet.field.id").toInt
      case _ => cur.schema.fieldIndex(f.sourceName) + 1
    }
    evolveSpec(spark, tableDir, "addPartitionField", field, cur) {
      (md, fieldsArr, defaultFields) =>
        defaultFields.foreach { pf =>
          fieldsArr.add(pf.deepCopy[JsonNode]()); ()
        }
        val lastPartId = Option(md.get("last-partition-id"))
          .map(_.asInt).getOrElse(999 + cur.transforms.size)
        val nf = fieldsArr.addObject()
        nf.put("name", f.fieldName)
        nf.put("transform",
          IcebergTransforms.transformJson(f.transform))
        nf.put("source-id", srcId)
        nf.put("field-id", lastPartId + 1)
        md.put("last-partition-id", lastPartId + 1)
        ()
    }
  }

  /** PARTITION-SPEC EVOLUTION, removal side (`ALTER TABLE t DROP
    * PARTITION FIELD days(ts)` — by spec string or by field name):
    * the new default spec is the current default MINUS the field.
    * Existing files keep their own spec (and KEEP PRUNING on the
    * dropped field via the cross-spec `pruneTransforms` union); new
    * writes land unpartitioned on that dimension. IDENTITY fields
    * refuse for the same mixed-identity-set reason as
    * [[addPartitionField]].
    */
  def dropPartitionField(spark: SparkSession, tableDir: String,
      field: String): Long = {
    val cur = resolve(spark, tableDir, None)
    val target = cur.transforms.find(t =>
      t.fieldName == field ||
        IcebergTransforms.specString(t) == field)
      .getOrElse(throw new IllegalArgumentException(
        s"Iceberg.dropPartitionField: '$field' is not in the default " +
          s"spec (${cur.specStrings.mkString(", ")})"))
    require(target.transform != IcebergTransforms.Identity,
      s"Iceberg.dropPartitionField: '$field' is an IDENTITY field — " +
        "old data files do not physically carry identity partition " +
        "columns (they are constant-attached from the log), so a " +
        "mixed layout is unreadable; rewrite the table instead")
    evolveSpec(spark, tableDir, "dropPartitionField", field, cur) {
      (_, fieldsArr, defaultFields) =>
        defaultFields
          .filterNot(_.get("name").asText == target.fieldName)
          .foreach { pf => fieldsArr.add(pf.deepCopy[JsonNode]()); () }
    }
  }

  /** Shared spec-evolution commit: mint a new spec-id whose fields
    * `build` fills from the current default's, set it default, and
    * land the metadata with a same-content snapshot (the
    * [[evolveSchema]] shape) so catalog pins can advance.
    */
  private def evolveSpec(spark: SparkSession, tableDir: String,
      op: String, tag: String, cur: SnapshotMeta)(
      build: (com.fasterxml.jackson.databind.node.ObjectNode,
        com.fasterxml.jackson.databind.node.ArrayNode,
        Seq[JsonNode]) => Unit): Long = {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val mdDir = metadataDir(tableDir)
    val (priorOpt, version) = priorState(mdDir)
    val md = priorOpt.getOrElse(throw new IllegalArgumentException(
      s"Iceberg.$op: not an Iceberg table: $tableDir"))
      .deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    val specsNode = Option(md.get("partition-specs"))
      .collect { case a: ArrayNode => a }
      .getOrElse {
        // v1 metadata: materialize the bare partition-spec as spec 0
        val a = md.putArray("partition-specs")
        val s0 = a.addObject()
        s0.put("spec-id", 0)
        s0.set[JsonNode]("fields",
          Option(md.get("partition-spec")).map(_.deepCopy[JsonNode]())
            .getOrElse(M.createArrayNode()))
        a
      }
    val defaultId = Option(md.get("default-spec-id")).map(_.asInt)
      .getOrElse(0)
    val defaultFields: Seq[JsonNode] = specsNode.elements().asScala
      .find(_.get("spec-id").asInt == defaultId).toSeq
      .flatMap(_.get("fields").elements().asScala)
    val newId = specsNode.elements().asScala
      .map(_.get("spec-id").asInt).maxOption.getOrElse(0) + 1
    val newSpec = specsNode.addObject()
    newSpec.put("spec-id", newId)
    build(md, newSpec.putArray("fields"), defaultFields)
    md.put("default-spec-id", newId)
    md.put("last-updated-ms", 1700000000000L + version)
    // same-content snapshot so catalog pins can advance past the
    // evolution (the evolveSchema shape)
    val curSnapId = Option(md.get("current-snapshot-id"))
      .map(_.asLong(-1L)).getOrElse(-1L)
    val outId =
      if (curSnapId < 0) version
      else {
        val snaps = md.get("snapshots").asInstanceOf[ArrayNode]
        val parent = snaps.elements().asScala
          .find(_.get("snapshot-id").asLong == curSnapId)
          .getOrElse(throw new IllegalStateException(
            s"Iceberg.$op: current snapshot $curSnapId not in history"))
        val snap = snaps.addObject()
        snap.put("snapshot-id", version)
        snap.put("sequence-number", version)
        snap.put("parent-snapshot-id", curSnapId)
        snap.put("timestamp-ms", 1700000000000L + version)
        snap.put("manifest-list", parent.get("manifest-list").asText)
        val sum = snap.putObject("summary")
        sum.put("operation", "replace")
        sum.put("graft.spec-change", tag)
        Option(parent.get("schema-id"))
          .foreach(sid => { snap.put("schema-id", sid.asInt); () })
        md.put("current-snapshot-id", version)
        md.put("last-sequence-number", version)
        Option(md.get("refs")).collect { case o: ObjectNode => o }
          .flatMap(refs => Option(refs.get("main"))
            .collect { case m: ObjectNode => m })
          .foreach { m => m.put("snapshot-id", version); () }
        version
      }
    writeMetadataExclusive(
      new java.io.File(mdDir, s"v$version.metadata.json").toPath,
      M.writeValueAsString(md))
    java.nio.file.Files.writeString(
      new java.io.File(mdDir, "version-hint.text").toPath,
      version.toString)
    outId
  }

  /** WIDEN COLUMN TYPES — the spec's legal primitive promotions as a
    * metadata-only schema evolution (`ALTER TABLE t ALTER COLUMN c
    * TYPE bigint`): int→long, float→double, decimal(P,S)→
    * decimal(P',S) with P'>P. Same field ids under the new schema in
    * the history (plus the same-content snapshot [[addColumns]]
    * documents); pre-widen parquet files read under the END schema
    * (Spark's reader performs the upcasts natively) and their
    * manifests' old-width bounds decode at the stored width
    * ([[decodeBounds]]'s pre-widen arms), so stats skipping keeps
    * pruning both vintages. Partition-spec source columns refuse —
    * prior manifests' typed partition records key on the old type.
    * Returns the new snapshot id.
    */
  def widenColumns(spark: SparkSession, tableDir: String,
      widths: Map[String, DataType]): Long =
    widenFields(spark, tableDir,
      widths.map { case (c, t) => Seq(c) -> t })

  /** [[widenColumns]] at arbitrary struct paths (`ALTER TABLE t
    * ALTER COLUMN s.member TYPE bigint`) — nested members promote
    * exactly like top-level ones under field-id resolution (the read
    * schema's nested types drive the parquet upcast). Nested bounds
    * are not decoded from manifests in the first place, so skipping
    * stays conservative there.
    */
  def widenFields(spark: SparkSession, tableDir: String,
      widths: Map[Seq[String], DataType]): Long = {
    require(widths.nonEmpty, "Iceberg.widenColumns: nothing to widen")
    val cur = resolve(spark, tableDir, None)
    val specSources = cur.transforms.map(_.sourceName).toSet
    def fieldAt(path: Seq[String]): Option[StructField] =
      path.init.foldLeft(Option(cur.schema)) { (s, seg) =>
        s.flatMap(_.find(_.name == seg)).map(_.dataType).collect {
          case st: StructType => st
        }
      }.flatMap(_.find(_.name == path.last))
    widths.foreach { case (path, to) =>
      require(path.nonEmpty, "Iceberg.widenColumns: empty path")
      val dotted = path.mkString(".")
      val f = fieldAt(path).getOrElse(
        throw new IllegalArgumentException(
          s"Iceberg.widenColumns: '$dotted' is not a current column"))
      require(!specSources.contains(dotted),
        s"Iceberg.widenColumns: '$dotted' is a partition-spec " +
          "source column — prior manifests' typed partition records " +
          "key on the old type")
      require(LakeScan.legalTypeWidening(f.dataType, to),
        s"Iceberg.widenColumns: ${f.dataType.simpleString} → " +
          s"${to.simpleString} is not a spec-legal promotion for " +
          s"'$dotted' — int→long, float→double, and decimal " +
          "precision growth keep existing files readable; anything " +
          "else is a data rewrite in disguise")
    }
    evolveSchema(spark, tableDir, "widenColumns") { (schemaNode, _) =>
      widths.groupBy(_._1.init).foreach { case (parent, group) =>
        val byName = group.map { case (p, t) => p.last -> t }
        structNodeAt(schemaNode, parent, "widenColumns")
          .get("fields").elements().asScala.foreach { f =>
            val o = f.asInstanceOf[
              com.fasterxml.jackson.databind.node.ObjectNode]
            byName.get(o.get("name").asText).foreach { to =>
              o.put("type", icebergPrimitiveName(to,
                s"Iceberg.widenColumns: '${o.get("name").asText}'"))
              ()
            }
          }
      }
    }
  }

  /** RENAME COLUMNS — the PUBLIC, exclusively-committed form of the
    * metadata rename (`ALTER TABLE t RENAME COLUMN a TO b`): same
    * field ids under new names in a new schema, plus the same-content
    * snapshot [[addColumns]] documents (pin advance + per-snapshot
    * schema history). All three data-format read arms resolve by
    * field id, so pre-rename files keep reading. Partition-spec
    * source columns and name collisions are refused. Returns the new
    * snapshot id.
    */
  def renameColumns(spark: SparkSession, tableDir: String,
      renames: Map[String, String]): Long =
    renameFields(spark, tableDir,
      renames.map { case (f, t) => Seq(f) -> t })

  /** RENAME FIELDS at arbitrary struct paths (`ALTER TABLE t RENAME
    * COLUMN s.member TO other`) — same field ids under new names in
    * ONE evolution commit. Field-id resolution makes this sound at
    * every depth: pre-rename files keep reading (ids never change),
    * at nested levels exactly like top-level. Partition-spec source
    * columns and sibling collisions refuse.
    */
  def renameFields(spark: SparkSession, tableDir: String,
      renames: Map[Seq[String], String]): Long = {
    require(renames.nonEmpty, "Iceberg.renameColumns: nothing to rename")
    val cur = resolve(spark, tableDir, None)
    val specSources = cur.transforms.map(_.sourceName).toSet
    renames.foreach { case (path, to) =>
      require(path.nonEmpty, "Iceberg.renameColumns: empty path")
      val dotted = path.mkString(".")
      require(!specSources.contains(dotted),
        s"Iceberg.renameColumns: '$dotted' is a partition-spec " +
          "source column — prior manifests' partition records key " +
          "on it")
      // current-name check + sibling collision, at the path's depth
      val siblings: Seq[String] = path.init
        .foldLeft(Option(cur.schema)) { (s, seg) =>
          s.flatMap(_.find(_.name == seg)).map(_.dataType).collect {
            case st: StructType => st
          }
        }.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
      require(siblings.contains(path.last),
        s"Iceberg.renameColumns: '$dotted' is not a current column")
      val renamedAway = renames.keySet
        .filter(_.init == path.init).map(_.last)
      val others = siblings.toSet -- renamedAway
      require(!others.exists(_.equalsIgnoreCase(to)) &&
          renames.filter(_._1.init == path.init).values
            .count(_.equalsIgnoreCase(to)) == 1,
        s"Iceberg.renameColumns: target name '$to' collides")
    }
    evolveSchema(spark, tableDir, "renameColumns") { (schemaNode, _) =>
      // one pass per parent with the whole rename map — applying
      // renames sequentially would let a swap (a→b, b→c) transiently
      // duplicate a name and rename both
      renames.groupBy(_._1.init).foreach { case (parent, group) =>
        val byOld = group.map { case (p, t) => p.last -> t }
        structNodeAt(schemaNode, parent, "renameColumns")
          .get("fields").elements().asScala.foreach { f =>
            val o = f.asInstanceOf[
              com.fasterxml.jackson.databind.node.ObjectNode]
            byOld.get(o.get("name").asText)
              .foreach(n => o.put("name", n))
          }
      }
    }
  }

  /** DROP COLUMNS — metadata-only under FIELD-ID resolution (`ALTER
    * TABLE t DROP COLUMN c`): the evolved schema simply omits the
    * field; data files keep the column bytes but no scan projects
    * them (ids are the identity — nothing can mis-bind), and time
    * travel to pre-drop snapshots still serves it. Refused for
    * partition-spec sources, for columns any live EQUALITY-DELETE
    * file keys on (the delete could no longer apply), and when
    * nothing would remain. Same same-content snapshot/pin mechanics
    * as [[addColumns]].
    */
  def dropColumns(spark: SparkSession, tableDir: String,
      cols: Seq[String]): Long =
    dropFields(spark, tableDir, cols.map(Seq(_)))

  /** DROP FIELDS at arbitrary struct paths (`ALTER TABLE t DROP
    * COLUMN s.member`), top-level included — metadata-only under
    * field-id resolution at every depth: the evolved schema omits the
    * member, data files keep the bytes unprojected, time travel keeps
    * pre-drop schemas. Refused for partition-spec sources, for ids
    * any live equality-delete file keys on, for a struct's LAST
    * member (an empty struct is unwritable), and for dropping every
    * top-level column.
    */
  def dropFields(spark: SparkSession, tableDir: String,
      paths: Seq[Seq[String]]): Long = {
    require(paths.nonEmpty, "Iceberg.dropColumns: nothing to drop")
    val cur = resolve(spark, tableDir, None)
    val specSources = cur.transforms.map(_.sourceName).toSet
    def fieldAt(path: Seq[String]): Option[StructField] =
      path.init.foldLeft(Option(cur.schema)) { (s, seg) =>
        s.flatMap(_.find(_.name == seg)).map(_.dataType).collect {
          case st: StructType => st
        }
      }.flatMap(_.find(_.name == path.last))
    paths.foreach { p =>
      require(p.nonEmpty, "Iceberg.dropColumns: empty path")
      val dotted = p.mkString(".")
      require(fieldAt(p).isDefined,
        s"Iceberg.dropColumns: '$dotted' is not a current column")
      require(!specSources.contains(dotted),
        s"Iceberg.dropColumns: '$dotted' is a partition-spec source " +
          "column — the partition layout keys on it")
    }
    require(cur.schema.fieldNames
      .toSet.diff(paths.filter(_.length == 1).map(_.head).toSet)
      .nonEmpty, "Iceberg.dropColumns: cannot drop every column")
    // a struct must keep at least one member (empty structs are
    // unwritable); count survivors per parent
    paths.filter(_.length > 1).groupBy(_.init).foreach {
      case (parent, group) =>
        val siblings = parent.foldLeft(Option(cur.schema)) { (s, seg) =>
          s.flatMap(_.find(_.name == seg)).map(_.dataType).collect {
            case st: StructType => st
          }
        }.map(_.fieldNames.toSet).getOrElse(Set.empty)
        require(siblings.diff(group.map(_.last).toSet).nonEmpty,
          s"Iceberg.dropColumns: dropping every member of " +
            s"'${parent.mkString(".")}' — drop the struct itself")
    }
    // equality-delete keys block the drop wherever the id lives
    def nestedIds(dt: DataType): Seq[Int] = dt match {
      case st: StructType => st.fields.toSeq.flatMap(f =>
        (if (f.metadata.contains("parquet.field.id"))
          Seq(f.metadata.getLong("parquet.field.id").toInt)
        else Seq.empty) ++ nestedIds(f.dataType))
      case _ => Seq.empty
    }
    val dropIds = paths.flatMap(p => fieldAt(p).toSeq.flatMap(f =>
      (if (f.metadata.contains("parquet.field.id"))
        Seq(f.metadata.getLong("parquet.field.id").toInt)
      else Seq.empty) ++ nestedIds(f.dataType))).toSet
    cur.deleteFiles.foreach { f =>
      require(f.equalityIds.toSet.intersect(dropIds).isEmpty,
        s"Iceberg.dropColumns: a live equality-delete file keys on " +
          s"${paths.map(_.mkString(".")).mkString(", ")} — dropping " +
          "the column would strand the delete; rewrite (compact) the " +
          "deletes into the data first")
    }
    evolveSchema(spark, tableDir, "dropColumns") { (schemaNode, _) =>
      paths.groupBy(_.init).foreach { case (parent, group) =>
        val names = group.map(_.last).toSet
        val fields = structNodeAt(schemaNode, parent, "dropColumns")
          .get("fields")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
        var i = 0
        while (i < fields.size()) {
          if (names.contains(fields.get(i).get("name").asText))
            fields.remove(i)
          else i += 1
        }
      }
    }
  }

  private def icebergPrimitiveName(dt: DataType, who: String): String =
    dt match {
      case BooleanType => "boolean"
      case IntegerType => "int"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case DateType => "date"
      case TimestampNTZType => "timestamp"
      case TimestampType => "timestamptz"
      case StringType => "string"
      case BinaryType => "binary"
      case d: DecimalType => s"decimal(${d.precision},${d.scale})"
      case other => throw new UnsupportedOperationException(
        s"$who: cannot add a column of Spark type $other " +
          "(primitive types only)")
    }

  /** The shared SCHEMA-EVOLUTION commit: copy the current schema,
    * apply `mutate` (which sees the copied schema node and the prior
    * metadata), append it to the `schemas` history with the next
    * schema-id, move `current-schema-id` — and, when the table has a
    * current snapshot, mint a SAME-CONTENT child snapshot carrying
    * the new schema-id (parent's manifest list; operation `replace`
    * — the content-preserving kind, so the signed window seam nets it
    * to zero rows). Exclusive metadata write (concurrent committers
    * collide loudly).
    */
  private def evolveSchema(spark: SparkSession, tableDir: String,
      op: String)(mutate: (com.fasterxml.jackson.databind.node.ObjectNode,
      JsonNode) => Unit): Long = {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val mdDir = metadataDir(tableDir)
    val (priorOpt, version) = priorState(mdDir)
    val md = priorOpt.getOrElse(throw new IllegalArgumentException(
      s"Iceberg.$op: not an Iceberg table: $tableDir"))
      .deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    val curId = Option(md.get("current-schema-id")).map(_.asInt)
      .getOrElse(0)
    val schemas = Option(md.get("schemas"))
      .collect { case a: ArrayNode => a }
      .getOrElse(throw new UnsupportedOperationException(
        s"Iceberg.$op: $tableDir carries legacy v1 metadata with no " +
          "schemas history — evolve it with the engine that wrote it"))
    val curSchema = schemas.elements().asScala
      .find(s => Option(s.get("schema-id")).forall(_.asInt == curId))
      .getOrElse(throw new IllegalStateException(
        s"Iceberg.$op: current schema $curId not in history"))
    val newId = schemas.elements().asScala
      .flatMap(s => Option(s.get("schema-id")).map(_.asInt)).maxOption
      .getOrElse(0) + 1
    val evolved = curSchema.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    evolved.put("schema-id", newId)
    mutate(evolved, md)
    schemas.add(evolved)
    md.put("current-schema-id", newId)
    md.put("last-updated-ms", 1700000000000L + version)
    val curSnapId = Option(md.get("current-snapshot-id"))
      .map(_.asLong(-1L)).getOrElse(-1L)
    val newSnapId =
      if (curSnapId < 0) curSnapId // empty table: metadata-only
      else {
        val snaps = md.get("snapshots").asInstanceOf[ArrayNode]
        val parent = snaps.elements().asScala
          .find(_.get("snapshot-id").asLong == curSnapId)
          .getOrElse(throw new IllegalStateException(
            s"Iceberg.$op: current snapshot $curSnapId not in history"))
        val snap = snaps.addObject()
        snap.put("snapshot-id", version)
        snap.put("sequence-number", version)
        snap.put("parent-snapshot-id", curSnapId)
        snap.put("timestamp-ms", 1700000000000L + version)
        snap.put("manifest-list", parent.get("manifest-list").asText)
        val sum = snap.putObject("summary")
        sum.put("operation", "replace")
        sum.put("graft.schema-change", op)
        snap.put("schema-id", newId)
        md.put("current-snapshot-id", version)
        md.put("last-sequence-number", version)
        Option(md.get("refs")).collect { case o: ObjectNode => o }
          .flatMap(refs => Option(refs.get("main"))
            .collect { case m: ObjectNode => m })
          .foreach { m => m.put("snapshot-id", version); () }
        version
      }
    writeMetadataExclusive(
      new java.io.File(mdDir, s"v$version.metadata.json").toPath,
      M.writeValueAsString(md))
    java.nio.file.Files.writeString(
      new java.io.File(mdDir, "version-hint.text").toPath,
      version.toString)
    newSnapId
  }

  /** Sink-path metadata commit: content lands fully in a temp file,
    * then hard-links to the version name — atomic, and a pre-existing
    * version (a concurrent writer won the optimistic race between
    * version resolution and commit) throws instead of being replaced.
    * The local-filesystem stand-in for a catalog's compare-and-swap
    * of the current-metadata pointer.
    */
  private[graft] def writeMetadataExclusive(
      target: java.nio.file.Path, content: String): Unit = {
    val tmp = java.nio.file.Files.createTempFile(target.getParent,
      s".${target.getFileName}-", ".tmp")
    try {
      java.nio.file.Files.writeString(tmp, content)
      try java.nio.file.Files.createLink(target, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new java.util.ConcurrentModificationException(
            s"Iceberg metadata ${target.getFileName} already exists — " +
              "a concurrent writer won the version; this snapshot was " +
              "NOT committed")
      }
    } finally { java.nio.file.Files.deleteIfExists(tmp); () }
  }

  /** Highest committed transaction version for `appId` across the
    * table's snapshot history, −1 if none — the Iceberg half of the
    * streaming sink's exactly-once dedup. The ratchet rides each
    * snapshot's SUMMARY (`graft.txn-app-id` / `graft.txn-version` —
    * the summary is the spec's designated home for writer metadata;
    * Flink's Iceberg committer stores its checkpoint id the same
    * way), so it survives as long as the snapshot history does.
    */
  def txnVersion(tableDir: String, appId: String): Long = {
    if (!metadataDir(tableDir).exists()) return -1L
    val hasMd = Option(metadataDir(tableDir).listFiles()).toSeq.flatten
      .exists(f => metadataVersionOf(f.getName).isDefined)
    if (!hasMd) return -1L
    val md = readMetadata(tableDir)
    Option(md.get("snapshots")).toSeq
      .flatMap(_.elements().asScala.toSeq)
      .flatMap { s =>
        Option(s.get("summary")).filter(su =>
          Option(su.get("graft.txn-app-id")).exists(_.asText == appId))
          .flatMap(su => Option(su.get("graft.txn-version"))
            .map(_.asText.toLong))
      }
      .maxOption.getOrElse(-1L)
  }

  /** Append `df` as ID-LESS data files (no `parquet.field.id`s, disk
    * column names from `diskNames` — defaults to the logical names)
    * and register/extend `schema.name-mapping.default` so they
    * resolve: the MIGRATED-TABLE shape (`migrate`/`add_files` over
    * Hive or plain parquet directories registers the existing files
    * untouched and writes the mapping). Unpartitioned only — the
    * migration path this models registers flat file sets. Fixture
    * machinery for the name-mapping read path ([[mappedScan]]).
    */
  def stageIdlessAppend(spark: SparkSession, tableDir: String,
      df: DataFrame, diskNames: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions.col
    val root = new java.io.File(tableDir)
    val (_, version) = priorState({ val d = metadataDir(tableDir)
      d.mkdirs(); d })
    val physOf = (l: String) => diskNames.getOrElse(l, l)
    val writeDf = df.select(df.schema.fieldNames.toIndexedSeq.map(l =>
      col(l).as(physOf(l),
        org.apache.spark.sql.types.Metadata.empty)): _*)
    val moved = writeDataFiles(root, writeDf, Seq.empty, s"a$version")
    val physSchema = StructType(df.schema.fields.map(f =>
      f.copy(name = physOf(f.name),
        metadata = org.apache.spark.sql.types.Metadata.empty)))
    val stats = fileStatsOf(spark, physSchema,
      moved.map(_._1.getAbsolutePath))
    val physToLog = df.schema.fieldNames.map(l => physOf(l) -> l).toMap
    val entries = moved.map { case (file, pv) =>
      val (n, perCol) = stats.getOrElse(file.getAbsolutePath,
        (0L, Map.empty[String, (Any, Any)]))
      // manifest bounds are keyed by FIELD ID of the logical schema —
      // re-key the physical-name stats back to logical
      Entry(1, root.toPath.relativize(file.toPath).toString,
        file.length(), pv, n,
        perCol.map { case (k, v) => physToLog.getOrElse(k, k) -> v })
    }
    // the mapping entry for each field: logical name + its disk alias.
    // Prior mapping history merges in EXPLICITLY — swallowing a
    // resolve() error would silently drop established aliases
    val ids = fieldIds(df.schema)
    val prior: Map[Int, Seq[String]] =
      if (!hasSnapshot(tableDir)) Map.empty
      else resolve(spark, tableDir, None).nameMapping
    val mappingJson = df.schema.fieldNames.toIndexedSeq.map { l =>
      val names = (prior.getOrElse(ids(l), Seq.empty) ++
        Seq(l, physOf(l))).distinct
      s"""{"field-id":${ids(l)},"names":[${names.map(n =>
        M.writeValueAsString(n)).mkString(",")}]}"""
    }.mkString("[", ",", "]")
    commitSnapshot(spark, tableDir, df.schema, Seq.empty, entries,
      "append",
      tableProps = Map("schema.name-mapping.default" -> mappingJson))
  }

  /** REWRITE DATA FILES (bin-packing compaction, `rewrite_data_files`
    * in the reference engines) — each partition's small live files
    * rewrite into one, committed as a `replace` snapshot (status=2 for
    * the olds, fresh adds with real bounds). Row-level deletes
    * scoped to the rewritten files are MATERIALIZED (the compacted
    * file holds live rows only — how compaction purges soft-deleted
    * rows); untouched files and delete files ride along unchanged.
    * The signed seam attributes the window as rewrite-sized frames
    * netting zero (the file-set model's documented compaction shape).
    * Returns the new snapshot id, or -1 when nothing needed
    * compacting. Superseded files stay on disk until
    * [[expireSnapshots]].
    *
    * `zorderBy` switches to Z-ORDER clustering (the
    * `rewrite_data_files(strategy => 'sort', sort_order => 'zorder...')`
    * shape): EVERY live file rewrites, rows range-partitioned + sorted
    * by the interleaved-bit Z-value ([[DeltaLake.zValueColumn]] — the
    * codec is format-independent Column arithmetic) into
    * ceil(partitionBytes / targetFileBytes) files, each then covering
    * a tight manifest-bounds box on ALL Z columns so bounds skipping
    * prunes on any of them. Numeric/date/timestamp, ≤ 4 columns.
    */
  /** REWRITE MANIFESTS — metadata-only manifest compaction (the
    * `rewrite_manifests` maintenance action): every live DATA manifest
    * of the current snapshot folds into ONE manifest per (spec-id,
    * entry-schema) group, and a new snapshot (operation `replace`,
    * parent = current) points at the compacted manifest list. Data
    * files are NOT touched — this is the metadata half of small-commit
    * churn cleanup: N appends leave N one-entry manifests, and every
    * subsequent planning pass reads N Avro files; after the rewrite it
    * reads one. At an estate scale where the manifest COUNT (not the
    * entry count) dominates plan time, this is the operation that
    * keeps O(files) planning from degrading to O(commits).
    *
    * Correctness invariants, each load-bearing:
    *  - the fold replicates the reader's own semantics (list order,
    *    `status == 2` removes by file path, later entries win), so the
    *    compacted live set IS what the reader resolves today;
    *  - surviving entries materialize their RESOLVED sequence number
    *    (explicit → list default → snapshot id — the reader's
    *    inheritance chain) before the rewrite, because entries in the
    *    NEW manifest no longer sit under their original list entry and
    *    would otherwise inherit the new snapshot's sequence number,
    *    silently re-scoping merge-on-read delete applicability;
    *  - entries re-land with status EXISTING (0) keeping their original
    *    `snapshot_id` — the rewrite adds no files;
    *  - DELETE manifests (content 1) pass through verbatim: their
    *    relative order against data manifests is irrelevant to the fold
    *    (the delete/data join happens at scan, keyed on sequence
    *    numbers), but a list-level `sequence_number` on a FOREIGN
    *    delete-manifest entry refuses — this writer's lists never carry
    *    one, and dropping it would change what the delete applies to.
    *
    * Returns the new snapshot id, or -1 when there is nothing to
    * compact (0 or 1 data manifests).
    */
  def rewriteManifests(spark: SparkSession, tableDir: String): Long = {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val mdDir = metadataDir(tableDir)
    val (priorMdOpt, version) = priorState(mdDir)
    val md = priorMdOpt.getOrElse(throw new IllegalArgumentException(
      s"not an Iceberg table (no metadata): $tableDir"))
    val curId = Option(md.get("current-snapshot-id")).map(_.asLong)
      .filter(_ >= 0).getOrElse(return -1L)
    val snaps = md.get("snapshots").asInstanceOf[ArrayNode]
    val parent = snaps.elements().asScala
      .find(_.get("snapshot-id").asLong == curId)
      .getOrElse(throw new IllegalStateException(
        s"Iceberg.rewriteManifests: current snapshot $curId not in " +
          "history"))
    val mlPath = resolveRef(tableDir, parent.get("manifest-list").asText)
    val mlRecs = avroRecords(mlPath)
    def optF(r: GenericRecord, n: String): AnyRef =
      if (r.getSchema.getField(n) != null) r.get(n) else null
    def contentOf(r: GenericRecord): Int =
      Option(optF(r, "content")).map(_.toString.toInt).getOrElse(0)
    val (deleteMls, dataMls) = mlRecs.partition(contentOf(_) == 1)
    if (dataMls.size <= 1) return -1L
    deleteMls.foreach { mf =>
      require(Option(optF(mf, "sequence_number")).isEmpty,
        "Iceberg.rewriteManifests: delete-manifest list entry " +
          s"${mf.get("manifest_path")} carries a list-level " +
          "sequence_number (foreign-written list) — rewriting the " +
          "list would re-scope its deletes; refusing")
    }
    // fold data entries exactly as the reader does: list order,
    // status 2 removes by file path, later entries win
    val live = mutable.LinkedHashMap.empty[String, (GenericRecord, Int)]
    dataMls.foreach { mf =>
      val specId = Option(optF(mf, "partition_spec_id"))
        .map(_.toString.toInt).getOrElse(0)
      val manifestSeq = Option(optF(mf, "sequence_number"))
        .map(_.toString.toLong)
      val mPath = resolveRef(tableDir, mf.get("manifest_path").toString)
      avroRecords(mPath).foreach { entry =>
        val fp = entry.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path").toString
        if (entry.get("status").toString.toInt == 2) live.remove(fp)
        else {
          val seq = Option(optF(entry, "sequence_number"))
            .map(_.toString.toLong)
            .orElse(manifestSeq)
            .orElse(Option(optF(entry, "snapshot_id"))
              .map(_.toString.toLong))
            .getOrElse(0L)
          if (entry.getSchema.getField("sequence_number") != null)
            entry.put("sequence_number", java.lang.Long.valueOf(seq))
          else {
            // a FOREIGN entry schema without the field cannot carry its
            // resolved number into the new manifest — after the rewrite
            // the reader would fall back to snapshot_id (or 0). Sound
            // only when that fallback IS the resolved number and no
            // delete scoping rides on it; anything else must refuse,
            // not silently re-scope merge-on-read applicability.
            val postRewrite = Option(optF(entry, "snapshot_id"))
              .map(_.toString.toLong).getOrElse(0L)
            require(deleteMls.isEmpty && postRewrite == seq,
              s"Iceberg.rewriteManifests: entry for $fp cannot " +
                "materialize its resolved sequence number (schema has " +
                "no sequence_number field) and the post-rewrite " +
                "fallback would differ or delete files are present — " +
                "refusing")
          }
          entry.put("status", Integer.valueOf(0))
          live.put(fp, (entry, specId))
        }
      }
    }
    // one new manifest per (spec-id, entry-schema) group: a manifest
    // decodes under ONE spec, and records only append under their own
    // writer schema — distinct foreign schemas stay separate (still a
    // compaction whenever the group held more than one manifest)
    val groups = live.values.toSeq
      .groupBy { case (e, sid) => (sid, e.getSchema.toString) }
      .toSeq.sortBy(_._1)
    val newManifests: Seq[(java.io.File, Int)] =
      groups.zipWithIndex.map { case (((sid, _), entries), i) =>
        val schema = entries.head._1.getSchema
        val f = new java.io.File(mdDir, f"m-$version%05d-rw$i%d-c0.avro")
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](schema))
        w.create(schema, f)
        entries.foreach { case (e, _) => w.append(e) }
        w.close()
        (f, sid)
      }
    // the new manifest list: compacted data manifests + delete
    // manifests verbatim, under this writer's own list schema
    val mlSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin)
    val mlFile = new java.io.File(mdDir, f"snap-$version%d-rw.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](mlSchema))
    lw.create(mlSchema, mlFile)
    newManifests.foreach { case (f, sid) =>
      val r = new GenericData.Record(mlSchema)
      r.put("manifest_path", s"metadata/${f.getName}")
      r.put("manifest_length", f.length())
      r.put("partition_spec_id", sid)
      r.put("content", 0)
      r.put("added_snapshot_id", java.lang.Long.valueOf(version))
      lw.append(r)
    }
    deleteMls.foreach { mf =>
      val r = new GenericData.Record(mlSchema)
      r.put("manifest_path", mf.get("manifest_path").toString)
      r.put("manifest_length",
        java.lang.Long.valueOf(mf.get("manifest_length").toString.toLong))
      r.put("partition_spec_id", Integer.valueOf(
        Option(optF(mf, "partition_spec_id")).map(_.toString.toInt)
          .getOrElse(0)))
      r.put("content", 1)
      r.put("added_snapshot_id", Option(optF(mf, "added_snapshot_id"))
        .map(v => java.lang.Long.valueOf(v.toString.toLong)).orNull)
      lw.append(r)
    }
    lw.close()
    // the replace snapshot (same JSON-mutation shape as the spec/schema
    // evolution commits): content unchanged, manifest-list swapped
    val snap = snaps.addObject()
    snap.put("snapshot-id", version)
    snap.put("sequence-number", version)
    snap.put("parent-snapshot-id", curId)
    snap.put("timestamp-ms", 1700000000000L + version)
    snap.put("manifest-list", s"metadata/${mlFile.getName}")
    val sum = snap.putObject("summary")
    sum.put("operation", "replace")
    sum.put("manifests-replaced", dataMls.size.toString)
    sum.put("manifests-created", newManifests.size.toString)
    sum.put("manifests-kept", deleteMls.size.toString)
    Option(parent.get("schema-id"))
      .foreach(sid => { snap.put("schema-id", sid.asInt); () })
    md.asInstanceOf[ObjectNode].put("current-snapshot-id", version)
    md.asInstanceOf[ObjectNode].put("last-sequence-number", version)
    md.asInstanceOf[ObjectNode].put("last-updated-ms",
      1700000000000L + version)
    Option(md.get("refs")).collect { case o: ObjectNode => o }
      .flatMap(refs => Option(refs.get("main"))
        .collect { case m: ObjectNode => m })
      .foreach { m => m.put("snapshot-id", version); () }
    writeMetadataExclusive(
      new java.io.File(mdDir, s"v$version.metadata.json").toPath,
      M.writeValueAsString(md))
    java.nio.file.Files.writeString(
      new java.io.File(mdDir, "version-hint.text").toPath,
      version.toString)
    version
  }

  /** (data-manifest count, delete-manifest count) of the CURRENT
    * snapshot's manifest list — introspection for the manifest-rewrite
    * spec (compaction is invisible to content reads by design, so the
    * test needs the metadata view).
    */
  private[graft] def manifestCounts(tableDir: String): (Int, Int) = {
    val md = readMetadata(tableDir)
    val curId = Option(md.get("current-snapshot-id")).map(_.asLong)
      .filter(_ >= 0).getOrElse(return (0, 0))
    val snap = md.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId)
      .getOrElse(throw new IllegalStateException(
        s"current snapshot $curId not in history of $tableDir"))
    val recs = avroRecords(
      resolveRef(tableDir, snap.get("manifest-list").asText))
    def contentOf(r: GenericRecord): Int =
      if (r.getSchema.getField("content") == null) 0
      else r.get("content").toString.toInt
    (recs.count(contentOf(_) == 0), recs.count(contentOf(_) == 1))
  }

  /** METADATA-FILE RETENTION (the spec's
    * `write.metadata.previous-versions-max` behavior as an explicit
    * maintenance call): delete all but the newest `keepLast` table
    * metadata JSON files. Each commit writes a complete
    * `vN.metadata.json`, so a long-lived table accumulates one file
    * per commit forever — and since every metadata file is a FULL
    * copy of the snapshot history, the estate cost is
    * O(commits × snapshots). Old files serve NO read path (snapshots,
    * time travel, and refs all live inside the CURRENT file; the
    * version counter is the max over surviving names, so numbering
    * continues correctly) — they exist for operator forensics only,
    * which is exactly what a retention knob is for. Returns deleted
    * paths.
    */
  def expireMetadata(tableDir: String, keepLast: Int = 3): Seq[String] = {
    require(keepLast >= 1, "expireMetadata: keepLast must be >= 1")
    val mdDir = metadataDir(tableDir)
    val versioned = Option(mdDir.listFiles()).toSeq.flatten
      .flatMap(f => metadataVersionOf(f.getName).map(v => (v, f)))
      .sortBy(_._1)
    require(versioned.nonEmpty,
      s"expireMetadata: no Iceberg table at $tableDir")
    val doomed = versioned.dropRight(keepLast).map(_._2)
    val out = doomed.map(_.getAbsolutePath).sorted
    doomed.foreach(_.delete())
    out
  }

  /** Snapshot history, newest first: (snapshot-id, summary operation).
    * The Iceberg half of the `system.history` procedure — snapshots are
    * already metadata-resident (the summary's `operation` is the spec's
    * own field), so this is one metadata read, no manifest I/O.
    */
  def snapshotLog(tableDir: String): Seq[(Long, String)] = {
    val md = readMetadata(tableDir)
    Option(md.get("snapshots")).toSeq
      .flatMap(_.elements().asScala.toSeq)
      .map { s =>
        val op = Option(s.get("summary"))
          .flatMap(x => Option(x.get("operation"))).map(_.asText)
          .getOrElse("unknown")
        (s.get("snapshot-id").asLong, op)
      }
      .sortBy(-_._1)
  }

  def rewriteDataFiles(spark: SparkSession, tableDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.functions.col
    require(targetFileBytes > 0,
      s"rewriteDataFiles: targetFileBytes must be positive, got " +
        s"$targetFileBytes")
    val cur = resolve(spark, tableDir, None)
    requireParquetData(cur, tableDir, "rewriteDataFiles")
    val zorder = zorderBy.nonEmpty
    val identitySources = cur.transforms
      .filter(_.transform == IcebergTransforms.Identity).map(_.sourceName)
    val dataSchema = StructType(
      cur.schema.filterNot(f => identitySources.contains(f.name)))
    if (zorder)
      DeltaLake.zOrderGuard(zorderBy, dataSchema.fieldNames.toSeq,
        cur.schema, "rewriteDataFiles")
    // Z-ORDER rewrites EVERY live file (clustering, not packing);
    // plain compaction keeps the bin-packing shape
    val groups = cur.files.groupBy(_.partitionValues).toSeq
      .map { case (pv, fs) =>
        pv -> (if (zorder) fs
               else fs.filter(_.size.exists(_ < targetFileBytes)))
      }
      .filter(_._2.size >= (if (zorder) 1 else 2))
      .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
    if (groups.isEmpty) return -1L
    val root = new java.io.File(tableDir)
    val zOf: Option[DataFrame => org.apache.spark.sql.Column] =
      if (!zorder) None
      else Some(DeltaLake.zValueColumn(
        scanOf(spark, tableDir, cur.copy(files = groups.flatMap(_._2))),
        zorderBy, cur.schema))
    // the NEW entries' partition records decode under the CURRENT
    // (default) spec — a spec-evolved table's old-spec files carry
    // field names the current partition record lacks, and writing
    // them would throw; dropping the stale keys is conservative
    // (pruning on those fields simply stops applying to the new file)
    val specFieldNames: Set[String] = cur.transforms.map(f =>
      if (f.transform == IcebergTransforms.Identity) f.sourceName
      else f.fieldName).toSet
    // write every group first, ONE stats job over all compacted files
    // after (per-group jobs cost N driver round-trips on exactly the
    // many-partition tables compaction exists for)
    val written = groups.map { case (pv, fs) =>
      // read THESE files through the normal path — positional/DV/
      // equality deletes scoped to them apply, so the rewrite
      // materializes row-level deletes
      val rows = scanOf(spark, tableDir,
          cur.copy(files = fs))
        .select(dataSchema.fieldNames.toIndexedSeq.map(col): _*)
      val out = zOf match {
        case None => rows.coalesce(1)
        case Some(z) =>
          val n = math.max(1, math.ceil(fs.flatMap(_.size).sum.toDouble
            / targetFileBytes).toInt)
          rows.repartitionByRange(n, z(rows)).sortWithinPartitions(z(rows))
      }
      val tmp = new java.io.File(root, "_ice_rw_tmp_" +
        java.util.UUID.randomUUID().toString.take(8))
      out.write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val rels = Option(tmp.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map { part =>
          val rel = s"data/rw-${part.getName}"
          val dest = new java.io.File(root, rel)
          dest.getParentFile.mkdirs()
          java.nio.file.Files.move(part.toPath, dest.toPath)
          (rel, dest)
        }
      Option(tmp.listFiles()).foreach(_.foreach(_.delete())); tmp.delete()
      (pv.view.filterKeys(specFieldNames).toMap, fs, rels)
    }
    val stats = fileStatsOf(spark, dataSchema,
      written.flatMap(_._3.map(_._2.getAbsolutePath)))
    val entries = mutable.Buffer.empty[Entry]
    written.foreach { case (pv, fs, rels) =>
      rels.foreach { case (rel, dest) =>
        val (n, perCol) = stats.getOrElse(dest.getAbsolutePath,
          (0L, Map.empty[String, (Any, Any)]))
        entries += Entry(1, rel, dest.length(), pv, n, perCol)
      }
      fs.foreach(f => entries +=
        Entry(2, f.path, f.size.getOrElse(0L), Map.empty, 0L, Map.empty))
    }
    // delete files whose every APPLICABLE data file was just rewritten
    // are dead weight: the rewrite MATERIALIZED their deletes, and
    // leaving them keeps every future read on the MoR arm forever
    // (phantom delete_files, per-read bitmap loads/anti-joins against
    // paths that no longer exist). Scoping is conservative:
    //   - a DV dies when its referenced file was rewritten
    //   - a positional delete file dies when every file_path it names
    //     was rewritten (driver read, churn-bounded)
    //   - an equality delete dies only when NO untouched data file
    //     remains (it applies by sequence number, not by path)
    val rewrittenCanon = groups.flatMap(_._2)
      .map(f => resolveRef(tableDir, f.path)).toSet
    val untouchedLeft = cur.files.exists(f =>
      !rewrittenCanon.contains(resolveRef(tableDir, f.path)))
    val deadDeletes = cur.deleteFiles.filter { f =>
      if (f.dvRef.isDefined)
        rewrittenCanon.contains(
          resolveRef(tableDir, f.dvRef.get.referenced))
      else if (f.content == 1)
        spark.read.parquet(resolveRef(tableDir, f.path))
          .select("file_path").distinct().collect()
          .forall(r => rewrittenCanon.contains(
            resolveRef(tableDir, r.getString(0))))
      else !untouchedLeft
    }
    entries ++= deadDeletes.map(f =>
      Entry(2, f.path, f.size.getOrElse(0L), Map.empty, 0L, Map.empty,
        content = if (f.dvRef.isDefined) 1 else f.content,
        equalityIds = f.equalityIds,
        format = if (f.dvRef.isDefined) "PUFFIN" else "PARQUET",
        dv = f.dvRef))
    commitSnapshot(spark, tableDir, cur.schema, cur.specStrings,
      entries.toSeq, "replace", exclusive = true,
      expectBase = Some(cur.snapshotId))
  }

  /** FORMAT-CONVERSION REWRITE — rewrite every non-parquet (ORC/Avro)
    * data file as parquet in ONE replace snapshot, turning the
    * parquet-only refusals ([[requireParquetData]]: row-level DML,
    * COW rewrites, signed/incremental reads) into a one-command
    * migration for migrated-Hive estates. Each partition's
    * non-parquet rows are read through the NORMAL scan arms (so
    * field-id/by-name resolution and manifest pruning apply
    * unchanged) and landed as parquet with real stats; the originals
    * are removed under their own format tag. Parquet files are
    * untouched, so a mixed table stays readable mid-migration — the
    * scan unions the format arms either way. Delete files refuse
    * (those tables cannot be scanned with non-parquet arms at all).
    * Returns the new snapshot id, or -1 when already all-parquet.
    */
  def convertToParquet(spark: SparkSession, tableDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    import org.apache.spark.sql.functions.col
    require(targetFileBytes > 0,
      s"Iceberg.convertToParquet: targetFileBytes must be positive")
    val cur = resolve(spark, tableDir, None)
    val nonParquet = cur.files.filter(_.format != "PARQUET")
    if (nonParquet.isEmpty) return -1L
    require(cur.deleteFiles.isEmpty,
      s"Iceberg.convertToParquet: $tableDir holds row-level delete " +
        "files alongside non-parquet data — no engine arm can apply " +
        "them here; compact with the engine that wrote them first")
    val identitySources = cur.transforms
      .filter(_.transform == IcebergTransforms.Identity).map(_.sourceName)
    val dataSchema = StructType(
      cur.schema.filterNot(f => identitySources.contains(f.name)))
    val specFieldNames: Set[String] = cur.transforms.map(f =>
      if (f.transform == IcebergTransforms.Identity) f.sourceName
      else f.fieldName).toSet
    val root = new java.io.File(tableDir)
    val written = nonParquet.groupBy(_.partitionValues).toSeq
      .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
      .map { case (pv, fs) =>
        val rows = scanOf(spark, tableDir, cur.copy(files = fs))
          .select(dataSchema.fieldNames.toIndexedSeq.map(col): _*)
        // output sized to targetFileBytes per partition group: a
        // single coalesced file per group would be unbounded at scale
        val n = math.max(1, math.ceil(fs.flatMap(_.size).sum.toDouble
          / targetFileBytes).toInt)
        val sized = if (n == 1) rows.coalesce(1) else rows.repartition(n)
        val tmp = new java.io.File(root, "_ice_cv_tmp_" +
          java.util.UUID.randomUUID().toString.take(8))
        withTableIds(sized, cur.schema)
          .write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val rels = Option(tmp.listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .map { part =>
            val rel = s"data/cv-${part.getName}"
            val dest = new java.io.File(root, rel)
            dest.getParentFile.mkdirs()
            java.nio.file.Files.move(part.toPath, dest.toPath)
            (rel, dest)
          }
        Option(tmp.listFiles()).foreach(_.foreach(_.delete()))
        tmp.delete()
        (pv.view.filterKeys(specFieldNames).toMap, fs, rels)
      }
    val stats = fileStatsOf(spark, dataSchema,
      written.flatMap(_._3.map(_._2.getAbsolutePath)))
    val entries = mutable.Buffer.empty[Entry]
    written.foreach { case (pv, fs, rels) =>
      rels.foreach { case (rel, dest) =>
        val (n, perCol) = stats.getOrElse(dest.getAbsolutePath,
          (0L, Map.empty[String, (Any, Any)]))
        entries += Entry(1, rel, dest.length(), pv, n, perCol)
      }
      fs.foreach(f => entries += Entry(2, f.path,
        f.size.getOrElse(0L), Map.empty, 0L, Map.empty,
        format = f.format))
    }
    commitSnapshot(spark, tableDir, cur.schema, cur.specStrings,
      entries.toSeq, "replace", exclusive = true,
      expectBase = Some(cur.snapshotId))
  }

  /** METADATA TABLES — the `SELECT * FROM t$snapshots`-style
    * introspection surface every production engine exposes;
    * maintenance and debugging live on it. All driver-derived from
    * the same state the fold already holds (metadata json + manifest
    * lists), materialized as small local DataFrames:
    *   - `snapshots`: id, sequence/timestamp, operation, manifest list
    *   - `files`: live data files of the CURRENT snapshot with
    *     content/size/record-count/partition/sequence
    *   - `delete_files`: the delete-file side (positional, equality,
    *     DV — with referenced file for DVs)
    *   - `manifests`: the current snapshot's manifest list entries
    *   - `refs`: branches and tags with their pinned snapshots
    *   - `history`: (timestamp, snapshot id, is_current)
    */
  def metaTable(spark: SparkSession, path: String,
      kind: String): DataFrame = {
    import spark.implicits._
    val md = readMetadata(path)
    kind match {
      case "snapshots" =>
        Option(md.get("snapshots")).toSeq
          .flatMap(_.elements().asScala.toSeq).map { s =>
            (s.get("snapshot-id").asLong,
              Option(s.get("sequence-number")).map(_.asLong)
                .getOrElse(0L),
              s.get("timestamp-ms").asLong,
              Option(s.get("summary")).flatMap(su =>
                Option(su.get("operation")).map(_.asText))
                .getOrElse("unknown"),
              s.get("manifest-list").asText)
          }.toDF("snapshot_id", "sequence_number", "timestamp_ms",
            "operation", "manifest_list")
      case "files" =>
        val sm = resolve(spark, path, None)
        sm.files.map(f => (f.path, f.content, f.size.getOrElse(0L),
            f.seq, f.partitionValues.toSeq.sortBy(_._1)
              .map { case (k, v) => s"$k=$v" }.mkString(",")))
          .toDF("file_path", "content", "file_size_in_bytes",
            "sequence_number", "partition")
      case "delete_files" =>
        val sm = resolve(spark, path, None)
        sm.deleteFiles.map(f => (f.path,
            f.dvRef.map(_ => "deletion-vector").getOrElse(
              if (f.content == 2) "equality-deletes"
              else "position-deletes"),
            f.size.getOrElse(0L), f.seq,
            f.dvRef.map(_.referenced).getOrElse(""),
            f.equalityIds.mkString(",")))
          .toDF("file_path", "kind", "file_size_in_bytes",
            "sequence_number", "referenced_data_file", "equality_ids")
      case "manifests" =>
        val snap = Option(md.get("snapshots")).toSeq
          .flatMap(_.elements().asScala.toSeq)
          .find(_.get("snapshot-id").asLong == currentSnapshotId(path))
          .getOrElse(throw new IllegalStateException(
            s"no current snapshot on $path"))
        avroRecords(resolveRef(path, snap.get("manifest-list").asText))
          .map { mf =>
            (mf.get("manifest_path").toString,
              mf.get("manifest_length").toString.toLong,
              Option(mf.getSchema.getField("content"))
                .map(_ => mf.get("content").toString.toInt).getOrElse(0),
              Option(mf.getSchema.getField("partition_spec_id"))
                .map(_ => mf.get("partition_spec_id").toString.toInt)
                .getOrElse(0))
          }.toDF("path", "length", "content", "partition_spec_id")
      case "refs" =>
        val fromMd = Option(md.get("refs")).toSeq
          .flatMap(_.properties().asScala.toSeq).map { e =>
            (e.getKey, e.getValue.get("type").asText,
              e.getValue.get("snapshot-id").asLong)
          }
        val withMain =
          if (fromMd.exists(_._1 == "main")) fromMd
          else fromMd :+ (("main", "branch", currentSnapshotId(path)))
        withMain.sortBy(_._1).toDF("name", "type", "snapshot_id")
      case "history" =>
        val cur = currentSnapshotId(path)
        Option(md.get("snapshots")).toSeq
          .flatMap(_.elements().asScala.toSeq).map { s =>
            (s.get("timestamp-ms").asLong,
              s.get("snapshot-id").asLong,
              s.get("snapshot-id").asLong == cur)
          }.toDF("made_current_at", "snapshot_id", "is_current")
      case other => throw new IllegalArgumentException(
        s"Iceberg: no metadata table '$other' (available: snapshots, " +
          "files, delete_files, manifests, refs, history)")
    }
  }

  /** Test seam for the [[commitSnapshot]] `expectBase` optimistic-
    * concurrency guard: attempts an empty replace commit claiming the
    * table still sits at `staleBase` — throws when it has advanced
    * (the race window inside [[rewriteDataFiles]] cannot be
    * interleaved externally, so the guard is driven directly).
    */
  private[graft] def commitSnapshotForTest(spark: SparkSession,
      tableDir: String, staleBase: Long): Long = {
    val cur = resolve(spark, tableDir, None)
    commitSnapshot(spark, tableDir, cur.schema, cur.specStrings,
      Seq.empty, "replace", exclusive = true,
      expectBase = Some(staleBase))
  }

  /** EXPIRE SNAPSHOTS — drop old snapshots from the metadata and
    * delete the files ONLY they reference (manifest lists, manifests,
    * data/delete/Puffin files): the maintenance that bounds a table's
    * history, `expire_snapshots` in the reference engines. Retention
    * is the union of the newest `keepLast` snapshots and every
    * REF-PINNED snapshot (tags and branches, `main` included) — an
    * audit tag protects its snapshot however old. Asset accounting is
    * CONSERVATIVE: every path any retained snapshot's manifests
    * mention (live or deleted status) stays, so shared manifests and
    * still-referenced rewrites survive. Time travel to an expired
    * snapshot fails loudly at resolution (its entry is gone).
    * `dryRun` returns the doomed list without touching disk.
    */
  def expireSnapshots(spark: SparkSession, path: String,
      keepLast: Int, dryRun: Boolean = false,
      dropAfter: Option[Long] = None): Seq[String] = {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    require(keepLast >= 1, "expireSnapshots: keepLast must be >= 1")
    // metadata and the version the trimmed copy lands at come from ONE
    // directory listing (same contract as fastForward): an interloping
    // commit either precedes this read or collides on the version and
    // fails the exclusive link loudly — never silently erased
    val mdDir = metadataDir(path)
    val (mdOpt, version) = priorState(mdDir)
    val md = mdOpt.getOrElse(throw new IllegalArgumentException(
      s"expireSnapshots: no Iceberg table at $path"))
    val snaps = Option(md.get("snapshots")).toSeq
      .flatMap(_.elements().asScala.toSeq)
    val ordered = snaps.sortBy(s =>
      (Option(s.get("sequence-number")).map(_.asLong).getOrElse(0L),
        s.get("timestamp-ms").asLong))
    val parents: Map[Long, Long] = snaps
      .flatMap(s => Option(s.get("parent-snapshot-id")).map(p =>
        s.get("snapshot-id").asLong -> p.asLong)).toMap
    val refEntries: Seq[(String, JsonNode)] =
      Option(md.get("refs")).toSeq
        .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue))
    val refPinned: Set[Long] =
      refEntries.map(_._2.get("snapshot-id").asLong).toSet ++
        Option(md.get("current-snapshot-id")).map(_.asLong).toSet
    // a NON-main branch additionally pins its parent ANCESTRY (Iceberg
    // expire's reachability rule): [[fastForward]] verifies publish
    // ancestry over those links, so trimming an intermediate branch
    // snapshot would permanently block the branch's WAP publish. Main
    // is excluded — its ancestry is the whole history, which is
    // exactly what keepLast exists to bound.
    val branchAncestry: Set[Long] = refEntries
      .filter { case (name, r) =>
        name != "main" && r.get("type").asText == "branch" }
      .flatMap { case (_, r) =>
        Iterator.iterate(Option(r.get("snapshot-id").asLong))(
          _.flatMap(parents.get)).takeWhile(_.isDefined).map(_.get)
      }.toSet
    // dropAfter = the catalog-orphan shape ([[GraftCatalog
    // .vacuumOrphans]]): everything at-or-before the cut snapshot is
    // retained and everything AFTER it expires unless a ref or branch
    // ancestry still pins it — count-based keepLast would instead
    // always spare the NEWEST snapshot, which is exactly the aborted
    // orphan being reclaimed
    val retainIds = (dropAfter match {
      case Some(cut) =>
        val cutIdx = ordered.indexWhere(
          _.get("snapshot-id").asLong == cut)
        require(cutIdx >= 0,
          s"expireSnapshots: dropAfter snapshot $cut is not in " +
            s"$path's history")
        ordered.take(cutIdx + 1)
          .map(_.get("snapshot-id").asLong).toSet
      case None => ordered.takeRight(keepLast)
        .map(_.get("snapshot-id").asLong).toSet
    }) ++ refPinned ++ branchAncestry
    val expired = ordered
      .filterNot(s => retainIds.contains(s.get("snapshot-id").asLong))
    if (expired.isEmpty) return Seq.empty
    // every asset path a snapshot's tree mentions: manifest list,
    // manifests, and each entry's file_path — STATUS-BLIND (a path a
    // retained manifest mentions as DELETED may still back an older
    // retained snapshot's read)
    def assets(snap: JsonNode): Set[String] = {
      val ml = resolveRef(path, snap.get("manifest-list").asText)
      val out = scala.collection.mutable.Set(ml)
      avroRecords(ml).foreach { mf =>
        val mPath = resolveRef(path, mf.get("manifest_path").toString)
        out += mPath
        avroRecords(mPath).foreach { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          out += resolveRef(path, df.get("file_path").toString)
        }
      }
      out.toSet
    }
    val kept = ordered
      .filter(s => retainIds.contains(s.get("snapshot-id").asLong))
      .flatMap(assets).toSet
    val doomed = expired.flatMap(assets).toSet -- kept
    if (!dryRun) {
      // trim the snapshot list FIRST (readers resolving mid-expire see
      // a consistent metadata before any file disappears), then delete
      // — at the version paired with the md read above, so a racing
      // commit collides on the exclusive link instead of being erased
      val trimmed = md.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
      val arr = trimmed.putArray("snapshots")
      ordered.filter(s => retainIds.contains(
        s.get("snapshot-id").asLong)).foreach(s =>
        arr.add(s.asInstanceOf[JsonNode]))
      // exclusive like every other metadata writer: a commit racing to
      // the same version must fail loudly, not be silently overwritten
      writeMetadataExclusive(
        new java.io.File(mdDir, s"v$version.metadata.json").toPath,
        M.writeValueAsString(trimmed))
      java.nio.file.Files.writeString(
        new java.io.File(mdDir, "version-hint.text").toPath,
        version.toString)
      doomed.foreach(p => { new java.io.File(p).delete(); () })
    }
    doomed.toSeq.sorted
  }

  /** Create (or move) a NAMED REF — a `tag` pinning `snapshotId` or a
    * `branch` headed there — as a METADATA-ONLY update (no new
    * snapshot; exactly what `ALTER TABLE ... CREATE TAG` commits).
    * Renaming/retargeting `main` is rejected: it is the implicit
    * branch the current-snapshot pointer tracks.
    */
  def stageRef(tableDir: String, name: String, snapshotId: Long,
      tpe: String = "tag"): Unit = {
    import com.fasterxml.jackson.databind.node.ObjectNode
    require(name != "main",
      "stageRef: 'main' is the implicit current-snapshot branch")
    require(tpe == "tag" || tpe == "branch",
      s"stageRef: ref type must be tag or branch, got '$tpe'")
    val mdDir = metadataDir(tableDir)
    val (priorOpt, version) = priorState(mdDir)
    val md = priorOpt.getOrElse(throw new IllegalStateException(
      s"stageRef: no Iceberg table at $tableDir"))
      .deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    require(Option(md.get("snapshots")).toSeq
        .flatMap(_.elements().asScala)
        .exists(_.get("snapshot-id").asLong == snapshotId),
      s"stageRef: snapshot $snapshotId does not exist on $tableDir")
    val refs =
      if (md.has("refs")) md.get("refs").asInstanceOf[ObjectNode]
      else md.putObject("refs")
    val r = refs.putObject(name)
    r.put("snapshot-id", snapshotId)
    r.put("type", tpe)
    md.put("last-updated-ms", 1700000000000L + version)
    writeMetadataExclusive(
      new java.io.File(mdDir, s"v$version.metadata.json").toPath,
      M.writeValueAsString(md))
    java.nio.file.Files.writeString(
      new java.io.File(mdDir, "version-hint.text").toPath,
      version.toString)
    ()
  }

  /** RENAME logical columns — a METADATA-ONLY update, no new snapshot
    * (the whole point: a rename touches neither data files nor
    * manifests). Appends a renamed copy of the current schema (same
    * field ids — ids are the stable identity renames pivot on) to the
    * `schemas` history and moves `current-schema-id` to it. Renaming a
    * partition-spec SOURCE column is rejected: this fixture writer
    * regenerates spec field names from the live schema on the next
    * commit, which would desynchronize prior manifests' partition
    * record fields (real writers keep spec names independent).
    */
  def stageRenameColumn(spark: SparkSession, tableDir: String,
      renames: Map[String, String]): Unit = {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val mdDir = metadataDir(tableDir)
    val (priorOpt, version) = priorState(mdDir)
    val md = priorOpt.getOrElse(throw new IllegalStateException(
      s"stageRenameColumn: no Iceberg table at $tableDir"))
      .deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    val cur = resolve(spark, tableDir, None)
    val specSources = cur.transforms.map(_.sourceName).toSet
    renames.keys.foreach { n =>
      require(cur.schema.fieldNames.contains(n),
        s"stageRenameColumn: '$n' is not a current column")
      require(!specSources.contains(n),
        s"stageRenameColumn: '$n' is a partition-spec source column — " +
          "not modeled by this fixture writer")
    }
    val curId = Option(md.get("current-schema-id")).map(_.asInt)
      .getOrElse(0)
    val schemas = md.get("schemas").asInstanceOf[ArrayNode]
    val curSchema = schemas.elements().asScala
      .find(s => Option(s.get("schema-id")).forall(_.asInt == curId))
      .getOrElse(throw new IllegalStateException(
        s"stageRenameColumn: current schema $curId not in history"))
    val newId = schemas.elements().asScala
      .flatMap(s => Option(s.get("schema-id")).map(_.asInt)).maxOption
      .getOrElse(0) + 1
    val renamed = curSchema.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    renamed.put("schema-id", newId)
    renamed.get("fields").elements().asScala.foreach { f =>
      val o = f.asInstanceOf[ObjectNode]
      renames.get(o.get("name").asText).foreach(n => o.put("name", n))
    }
    schemas.add(renamed)
    md.put("current-schema-id", newId)
    md.put("last-updated-ms", 1700000000000L + version)
    java.nio.file.Files.writeString(
      new java.io.File(mdDir, s"v$version.metadata.json").toPath,
      M.writeValueAsString(md))
    java.nio.file.Files.writeString(
      new java.io.File(mdDir, "version-hint.text").toPath,
      version.toString)
    ()
  }

  /** Append a COPY-ON-WRITE row-level DELETE as a new snapshot — the
    * lakehouse writer's shape: every live file holding a matching row is
    * marked DELETED in the new manifest and its SURVIVORS are rewritten
    * (added with fresh bounds); untouched files ride the prior
    * manifests. Fixture machinery for [[changes]]; rows where the
    * predicate is false OR NULL survive (SQL's three-valued delete).
    */
  def stageDelete(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    stageRewrite(spark, tableDir, predicate, "delete") {
      (fileRows, dataCols) =>
        fileRows.filter(coalesce(!predicate, lit(true)))
          .select(dataCols.map(col): _*)
    }
  }

  /** Append a COPY-ON-WRITE row-level UPDATE as a new snapshot — hit
    * files marked DELETED, rewritten in full with `set` applied to
    * matching rows. SQL UPDATE semantics: the predicate AND every SET
    * expression evaluate against the OLD row (one projection).
    */
  def stageUpdate(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{col, when}
    stageRewrite(spark, tableDir, predicate, "update") {
      (fileRows, dataCols) =>
        require(set.keySet.subsetOf(dataCols.toSet),
          s"stageUpdate: SET columns ${set.keySet} must be data columns")
        val tableSchema = fileRows.schema
        fileRows.select(dataCols.map { c =>
          set.get(c) match {
            case Some(e) =>
              when(predicate, e.cast(tableSchema(c).dataType))
                .otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
    }
  }

  /** Append a MERGE-ON-READ positional DELETE as a new snapshot — the
    * v2 row-level delete shape Flink/Trino writers produce by default:
    * data files keep their bytes; ONE positional delete file (parquet
    * of `(file_path, pos)` rows, the spec's delete-file schema) lands
    * under `data/`, listed by a content=1 DELETE manifest in the new
    * manifest list. Only rows still LIVE (not named by an existing
    * delete file) are added, so repeated deletes accumulate without
    * duplicate positions. Rows where the predicate is false OR NULL
    * survive. Fixture machinery for the MoR read path ([[resolve]] /
    * [[scanOf]]); real tables are written by the lakehouse writer.
    */
  def stageMorDelete(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val root = new java.io.File(tableDir)
    val cur = resolve(spark, tableDir, None)
    requireParquetData(cur, tableDir, "stageMorDelete")
    val dataSchema = StructType(
      cur.schema.filterNot(f => cur.partitionColumns.contains(f.name)))
    // existing dead positions via the SHARED resolution
    // ([[currentDeadSets]] — DV-aware): the previous inline read
    // filtered only on content == 1, which also matches v3 PUFFIN
    // deletion vectors, and fed them to a PARQUET read — a DV delete
    // followed by a positional MoR delete crashed on the Puffin magic
    // (found by RewriteManifestsPropSpec's randomized histories)
    val (deadOf, _) = currentDeadSets(spark, tableDir, cur)
    val delRows = mutable.Buffer.empty[(String, Long)]
    cur.files.foreach { f =>
      val abs = resolveRef(tableDir, f.path)
      val fileRows = cur.partitionColumns.foldLeft(
        idRead(spark, dataSchema, Seq(abs))
          .withColumn("__ri", col("_metadata.row_index"))) { (df, pc) =>
        val dt = cur.schema(pc).dataType
        df.withColumn(pc, f.partitionValues.get(pc).filter(_ != null)
          .map(v => lit(v).cast(dt)).getOrElse(lit(null).cast(dt)))
      }
      val matching = fileRows.filter(predicate).select("__ri")
        .collect().map(_.getLong(0))
      val already = deadOf(abs)
      matching.filterNot(already).sorted
        .foreach(i => delRows += f.path -> i)
    }
    require(delRows.nonEmpty,
      "stageMorDelete: the predicate matches no live row — a delete " +
        "file with zero positions would be a malformed commit")
    val (_, version) = priorState(metadataDir(tableDir))
    val tmp = new java.io.File(root, s"_ice_del_tmp_$version")
    delRows.toSeq.toDF("file_path", "pos")
      .coalesce(1).sortWithinPartitions("file_path", "pos")
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).head
    val rel = s"data/delete-$version-${part.getName}"
    val dest = new java.io.File(root, rel)
    dest.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dest.toPath)
    Option(tmp.listFiles()).foreach(_.foreach(_.delete())); tmp.delete()
    commitSnapshot(spark, tableDir, cur.schema, cur.specStrings,
      Seq(Entry(1, rel, dest.length(), Map.empty, delRows.size.toLong,
        Map.empty, content = 1)), "delete")
  }

  /** Append a FORMAT-VERSION 3 DELETION-VECTOR delete as a new
    * snapshot — the modern (v3) row-level delete shape: per data file
    * holding a matching row, ONE `deletion-vector-v1` blob in a
    * Puffin file under `data/`, referenced from a content=1 delete
    * manifest entry (`referenced_data_file` + blob offset/length).
    * The spec's writer rules are followed: the new DV carries the
    * file's COMPLETE dead set (previous DV and/or positional-delete
    * positions unioned with the new matches — a DV fully describes
    * its file's deletes), a prior DV for the file is REMOVED
    * (status=2) in the same commit, and the table's format-version
    * ratchets to 3. Superseded positional delete FILES are left in
    * place — the reader's supersession rule ignores them for
    * DV-covered files, which the specs pin. Rows where the predicate
    * is false OR NULL survive. Fixture machinery for the v3 read
    * path; real DVs are written by the lakehouse writer.
    */
  def stageDv(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val root = new java.io.File(tableDir)
    val cur = resolve(spark, tableDir, None)
    requireParquetData(cur, tableDir, "stageDv")
    val dataSchema = StructType(
      cur.schema.filterNot(f => cur.partitionColumns.contains(f.name)))
    def canon(rel: String): String = resolveRef(tableDir, rel)
    val (deadNow, priorDvs) = currentDeadSets(spark, tableDir, cur)
    // new matches per live data file (same per-file scan shape as
    // stageMorDelete; partition columns re-attached as constants)
    val newDead = mutable.LinkedHashMap.empty[String, Set[Long]]
    cur.files.foreach { f =>
      val abs = canon(f.path)
      val fileRows = cur.partitionColumns.foldLeft(
        idRead(spark, dataSchema, Seq(abs))
          .withColumn("__ri", col("_metadata.row_index"))) { (df, pc) =>
        val dt = cur.schema(pc).dataType
        df.withColumn(pc, f.partitionValues.get(pc).filter(_ != null)
          .map(v => lit(v).cast(dt)).getOrElse(lit(null).cast(dt)))
      }
      val matching = fileRows.filter(predicate).select("__ri")
        .collect().map(_.getLong(0)).toSet
      val fresh = matching -- deadNow(abs)
      if (fresh.nonEmpty) newDead.put(f.path, fresh)
    }
    require(newDead.nonEmpty,
      "stageDv: the predicate matches no live row — a deletion vector " +
        "with zero new positions would be a no-op commit")
    val (_, version) = priorState(metadataDir(tableDir))
    // the new DV for a file = its COMPLETE dead set
    val blobs = newDead.toSeq.map { case (rel, fresh) =>
      rel -> (deadNow(canon(rel)) ++ fresh).toSeq.sorted
    }
    val puffinRel = s"data/dv-$version.puffin"
    val puffinFile = new java.io.File(root, puffinRel)
    puffinFile.getParentFile.mkdirs()
    val refs = Puffin.stage(puffinFile, blobs)
    val adds = refs.map { r =>
      Entry(1, puffinRel, puffinFile.length(), Map.empty,
        r.cardinality.get, Map.empty, content = 1, format = "PUFFIN",
        dv = Some(r))
    }
    val removes = newDead.keys.toSeq
      .flatMap(rel => priorDvs.get(canon(rel))).map { f =>
        Entry(2, f.path, f.size.getOrElse(0L), Map.empty,
          f.dvRef.flatMap(_.cardinality).getOrElse(0L), Map.empty,
          content = 1, format = "PUFFIN", dv = f.dvRef)
      }
    commitSnapshot(spark, tableDir, cur.schema, cur.specStrings,
      adds ++ removes, "delete")
  }

  /** Append an EQUALITY DELETE as a new snapshot — the v2 row-level
    * delete shape CDC writers (Flink upsert streams) produce: ONE
    * equality delete file holding `keys`' rows (its columns name the
    * equality fields), deleting every matching row of data files with
    * STRICTLY SMALLER data sequence number. Rows inserted at or after
    * the delete's sequence are untouched — which is exactly what makes
    * upsert (delete-then-insert in one stream) correct. Fixture
    * machinery for the MoR read path.
    */
  def stageEqDelete(spark: SparkSession, tableDir: String,
      keys: DataFrame): Long = {
    val root = new java.io.File(tableDir)
    val cur = resolve(spark, tableDir, None)
    val ids = fieldIds(cur.schema)
    keys.schema.fieldNames.foreach(c => require(ids.contains(c),
      s"stageEqDelete: '$c' is not a table column"))
    val eqIds = keys.schema.fieldNames.toSeq.map(ids)
    val (_, version) = priorState(metadataDir(tableDir))
    val tmp = new java.io.File(root, s"_ice_eqdel_tmp_$version")
    val n = keys.count()
    keys.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).head
    val rel = s"data/eqdelete-$version-${part.getName}"
    val dest = new java.io.File(root, rel)
    dest.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dest.toPath)
    Option(tmp.listFiles()).foreach(_.foreach(_.delete())); tmp.delete()
    commitSnapshot(spark, tableDir, cur.schema, cur.specStrings,
      Seq(Entry(1, rel, dest.length(), Map.empty, n, Map.empty,
        content = 2, equalityIds = eqIds)), "delete")
  }

  /** Compact the table's live POSITIONAL delete files into ONE merged
    * delete file — the maintenance shape Iceberg's
    * `rewrite_position_delete_files` procedure produces: the union of
    * the live delete rows lands as a single file, the old delete files
    * are marked DELETED in the new delete manifest. A content NO-OP
    * for readers; the signed window's row-identity diff nets it to
    * zero rows. Fixture machinery for the removal-window read path.
    */
  def stageCompactDeletes(spark: SparkSession, tableDir: String): Long = {
    val root = new java.io.File(tableDir)
    val cur = resolve(spark, tableDir, None)
    val posFiles = cur.deleteFiles.filter(_.content == 1)
    require(posFiles.size >= 2,
      "stageCompactDeletes: need at least two live positional delete " +
        "files to compact")
    require(cur.deleteFiles.forall(_.content == 1),
      "stageCompactDeletes: equality deletes are not compacted by this " +
        "fixture writer")
    val (_, version) = priorState(metadataDir(tableDir))
    val tmp = new java.io.File(root, s"_ice_cmp_tmp_$version")
    val mergedRows = spark.read
      .parquet(posFiles.map(f => resolveRef(tableDir, f.path)): _*)
      .select("file_path", "pos").distinct()
    val n = mergedRows.count()
    mergedRows.coalesce(1).sortWithinPartitions("file_path", "pos")
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).head
    val rel = s"data/delete-compact-$version-${part.getName}"
    val dest = new java.io.File(root, rel)
    dest.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dest.toPath)
    Option(tmp.listFiles()).foreach(_.foreach(_.delete())); tmp.delete()
    val drops = posFiles.map(f => Entry(2, f.path,
      new java.io.File(resolveRef(tableDir, f.path)).length(), Map.empty,
      0L, Map.empty, content = 1))
    commitSnapshot(spark, tableDir, cur.schema, cur.specStrings,
      drops :+ Entry(1, rel, dest.length(), Map.empty, n, Map.empty,
        content = 1), "replace")
  }

  /** Remove the MOST RECENTLY ADDED positional delete file WITHOUT a
    * replacement — a semantic UNDELETE: the rows it named come back to
    * life at the new snapshot. Fixture machinery for the
    * removal-window read path (the signed diff attributes the
    * resurrected rows to the INSERT frame).
    */
  def stageUndelete(spark: SparkSession, tableDir: String): Long = {
    val cur = resolve(spark, tableDir, None)
    val posFiles = cur.deleteFiles.filter(_.content == 1)
    require(posFiles.nonEmpty,
      "stageUndelete: the table holds no live positional delete file")
    val last = posFiles.last
    commitSnapshot(spark, tableDir, cur.schema, cur.specStrings,
      Seq(Entry(2, last.path,
        new java.io.File(resolveRef(tableDir, last.path)).length(),
        Map.empty, 0L, Map.empty, content = 1)), "delete")
  }

  /** Shared copy-on-write rewrite for the DML fixtures (delete/update):
    * per live file — read DIRECTLY with the log's partition values
    * attached (the predicate may reference partition columns; file names
    * collide across partition dirs — same rules as the Delta writer) —
    * if any row matches, mark the file DELETED in the new manifest and
    * add `rewrite(fileRows, dataCols)` with fresh bounds.
    */
  /** The snapshot's CURRENT dead positions per data file (keyed by
    * canonical absolute path — a file's DV when it has one, per the
    * reader's supersession rule, else its positional-delete
    * positions) plus the live DV entries by the canonical path they
    * reference. The state every DV writer needs: a new DV must carry
    * its file's COMPLETE dead set and remove the superseded DV
    * in-commit. Driver-side and churn-bounded (delete files are
    * metadata-sized next to the data).
    */
  private def currentDeadSets(spark: SparkSession, tableDir: String,
      cur: SnapshotMeta): (String => Set[Long], Map[String, IceFile]) = {
    def canon(rel: String): String = resolveRef(tableDir, rel)
    val posFiles = cur.deleteFiles.filter(f =>
      f.content == 1 && f.dvRef.isEmpty)
    val fromPos: Map[String, Set[Long]] =
      if (posFiles.isEmpty) Map.empty
      else {
        val byStored = spark.read.parquet(posFiles
            .map(f => resolveRef(tableDir, f.path)): _*)
          .select("file_path", "pos").collect()
          .groupBy(_.getString(0))
          .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
        // stored file_path strings may be relative or absolute —
        // re-key by canonical form via the live file list
        cur.files.flatMap { f =>
          val dead = byStored.getOrElse(f.path,
            byStored.getOrElse(canon(f.path), Set.empty[Long]))
          if (dead.isEmpty) None else Some(canon(f.path) -> dead)
        }.toMap
      }
    val priorDvs: Map[String, IceFile] = cur.deleteFiles
      .filter(_.dvRef.isDefined)
      .map(f => canon(f.dvRef.get.referenced) -> f).toMap
    val fromDv: Map[String, Set[Long]] = priorDvs.map { case (ref, f) =>
      val r = f.dvRef.get
      ref -> Puffin.readDv(resolveRef(tableDir, f.path), r.offset,
        r.length, r.cardinality).toArray.toSet
    }
    (abs => fromDv.getOrElse(abs, fromPos.getOrElse(abs, Set.empty[Long])),
      priorDvs)
  }

  private def stageRewrite(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column, operation: String)
      (rewrite: (DataFrame, Seq[String]) => DataFrame): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val root = new java.io.File(tableDir)
    val cur = resolve(spark, tableDir, None)
    requireParquetData(cur, tableDir, "stageRewrite")
    require(cur.transforms
        .forall(_.transform == IcebergTransforms.Identity),
      "iceberg staging: copy-on-write rewrites of transform-partitioned " +
        "tables are not modeled by this fixture writer")
    val dataSchema = StructType(
      cur.schema.filterNot(f => cur.partitionColumns.contains(f.name)))
    // live positional-delete rows per data file: a copy-on-write
    // rewrite of a MoR-deleted file must carry only its LIVE rows —
    // reading raw physical rows would silently RESURRECT deleted ones
    val morPos = cur.deleteFiles.filter(_.content == 1)
    require(cur.deleteFiles.forall(_.content == 1),
      "iceberg staging: copy-on-write rewrites over EQUALITY deletes " +
        "are not modeled by this fixture writer")
    val morDead: Map[String, Set[Long]] =
      if (morPos.isEmpty) Map.empty
      else spark.read.parquet(morPos
          .map(f => resolveRef(tableDir, f.path)): _*)
        .select("file_path", "pos").collect()
        .groupBy(_.getString(0))
        .map { case (pth, rs) => pth -> rs.map(_.getLong(1)).toSet }
    val entries = mutable.Buffer.empty[Entry]
    cur.files.foreach { f =>
      val abs = resolveRef(tableDir, f.path)
      val raw = cur.partitionColumns.foldLeft(
        idRead(spark, dataSchema, Seq(abs))) { (df, pc) =>
        val dt = cur.schema(pc).dataType
        df.withColumn(pc, f.partitionValues.get(pc).filter(_ != null)
          .map(v => lit(v).cast(dt)).getOrElse(lit(null).cast(dt)))
      }
      val fileRows = morDead.get(f.path) match {
        case None => raw
        case Some(dead) =>
          raw.withColumn("__ri", col("_metadata.row_index"))
            .filter(!col("__ri").isInCollection(dead))
            .drop("__ri")
      }
      if (!fileRows.filter(predicate).isEmpty) {
        entries += Entry(2, f.path, new java.io.File(abs).length(),
          f.partitionValues, 0L, Map.empty)
        val rewritten = rewrite(fileRows, dataSchema.fieldNames.toSeq)
        if (!rewritten.isEmpty) {
          val (_, version) = priorState(metadataDir(tableDir))
          val moved = writeDataFiles(root, withTableIds(
            cur.partitionColumns.foldLeft(rewritten) { (df, pc) =>
              val dt = cur.schema(pc).dataType
              df.withColumn(pc, f.partitionValues.get(pc)
                .filter(_ != null).map(v => lit(v).cast(dt))
                .getOrElse(lit(null).cast(dt)))
            }, cur.schema),
            cur.partitionColumns, s"$operation$version-${entries.size}")
          val stats = fileStatsOf(spark, dataSchema,
            moved.map(_._1.getAbsolutePath))
          moved.foreach { case (file, pv) =>
            val (n, perCol) = stats.getOrElse(file.getAbsolutePath,
              (0L, Map.empty[String, (Any, Any)]))
            entries += Entry(1,
              root.toPath.relativize(file.toPath).toString,
              file.length(), pv, n, perCol)
          }
        }
      }
    }
    commitSnapshot(spark, tableDir, cur.schema, cur.specStrings,
      entries.toSeq, operation)
  }
}