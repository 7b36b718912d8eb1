package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.sources.{DeltaLake, GraftCatalog, Iceberg}

/** SQL DML through the graft catalog against one native Delta and one
  * native Iceberg copy of orders. Every write is followed by one key-range
  * aggregate read of the same table; every fifth write is table
  * maintenance. The tables' logs grow for the whole run.
  */
final class LakeDml {
  import LakeDml.LakeOp
  private var ops: IndexedSeq[LakeOp] = IndexedSeq.empty
  private var paths = Map.empty[String, String]
  private var warehouse = ""
  private val TargetFileBytes = 16L * 1024
  private val reads = scala.collection.mutable.Map.empty[Int, Seq[Seq[String]]]
  private var executed = 0

  private val names = Map("delta" -> "db.od", "iceberg" -> "db.oi")

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    val spec = Json.read(s"${ctx.in}/spec.json")
    ops = spec.get("ops").elements().asScala.map { o =>
      LakeOp(o.get("kind").asText, o.get("fmt").asText,
        o.get("sql").elements().asScala.map(_.asText).toSeq, o.get("read_sql").asText)
    }.toIndexedSeq
    // key-clustered files, so key-range reads can skip by stats
    val orders = s.read.parquet(s"${ctx.in}/data/orders.parquet")
      .repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey")
    val lake = ctx.dir("lake")
    paths = Map("delta" -> s"$lake/od", "iceberg" -> s"$lake/oi")
    DeltaLake.write(s, paths("delta"), orders)
    Iceberg.write(s, paths("iceberg"), orders)
    warehouse = ctx.dir("catalog")
    GraftCatalog.register(s, warehouse, names("delta"), "graft-deltalake", paths("delta"))
    GraftCatalog.register(s, warehouse, names("iceberg"), "graft-iceberg", paths("iceberg"))
    s.conf.set("spark.sql.catalog.gcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.gcat.warehouse", warehouse)
  }

  private def fill(sql: String, fmt: String) = sql.replace("{t}", s"gcat.${names(fmt)}")

  /** Write `i` of the op stream and the key-range read that follows it;
    * writes must run in stream order.
    */
  def pair(ctx: Ctx, i: Int): Seq[Op] = {
    require(i < ops.size, s"lake_query: op stream exhausted after $i writes")
    val op = ops(i)
    Seq(
      Op("write", s"${op.kind}_${op.fmt}", () => {
        if (op.kind == "maintenance") maintain(ctx, op.fmt)
        else op.sql.foreach(q =>
          ctx.span("dml.statement")(ctx.spark.sql(fill(q, op.fmt)).collect()))
        executed = i + 1
        true
      }),
      Op("read", s"read_${op.fmt}", () => {
        val rows = ctx.span("exec.read")(ctx.spark.sql(fill(op.read, op.fmt)).collect())
        reads(i) = rows.toSeq.map(r => r.toSeq.map(String.valueOf))
        true
      }))
  }

  /** Compaction plus log/snapshot upkeep, the way the catalog's optimize,
    * checkpoint and expire_snapshots procedures run them, but with a
    * target file size below the staged files' (the procedures' 128 MiB
    * default would fold the whole table into one file): maintenance packs
    * the small files DML leaves and keeps the key-clustered base files, so
    * key-range reads can still skip.
    */
  private def maintain(ctx: Ctx, fmt: String): Unit = {
    val s = ctx.spark
    val path = paths(fmt)
    val name = names(fmt)
    def pin(v: Long): Unit = if (v >= 0L) { GraftCatalog.advancePin(warehouse, name, v); () }
    if (fmt == "delta") {
      pin(ctx.span("sources.maintenance")(
        DeltaLake.compact(s, path, targetFileBytes = TargetFileBytes)))
      ctx.span("sources.maintenance")(
        DeltaLake.stageCheckpoint(s, path, DeltaLake.latestVersion(s, path)))
    } else {
      pin(ctx.span("sources.maintenance")(
        Iceberg.rewriteDataFiles(s, path, targetFileBytes = TargetFileBytes)))
      ctx.span("sources.maintenance") {
        pin(Iceberg.currentSnapshotId(path))
        Iceberg.expireSnapshots(s, path, keepLast = 5)
      }
    }
  }

  /** Dumps the final tables; the independent replay runs in run.py. */
  def check(ctx: Ctx): Map[String, String] = {
    val out = ctx.dir("final")
    names.flatMap { case (fmt, n) =>
      try { ctx.spark.table(s"gcat.$n").write.parquet(s"$out/$fmt"); None }
      catch { case e: Throwable => Some(s"final_$fmt" -> String.valueOf(e.getMessage)) }
    }
  }

  def traced(ctx: Ctx): Map[String, Any] = {
    val s = ctx.spark
    def replay(fmt: String) =
      if (fmt == "delta") DeltaLake.snapshot(s, paths(fmt)) else Iceberg.snapshot(s, paths(fmt))
    Map(
      "snapshot_s" -> paths.keys.toSeq.map { fmt =>
        val t = (0 until 3).map { _ =>
          val t0 = System.nanoTime(); replay(fmt); (System.nanoTime() - t0) / 1e9
        }
        fmt -> t.sorted.apply(1)
      }.toMap,
      "live_files" -> paths.keys.toSeq.map(f => f -> replay(f).inputFiles.length).toMap,
      "live_bytes" -> paths.keys.toSeq.map(f => f -> replay(f).inputFiles
        .map(p => new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath).length)
        .sum).toMap)
  }

  def info: Map[String, Any] = Map(
    "executed" -> executed, "paths" -> paths,
    "reads" -> reads.toSeq.sortBy(_._1).map { case (i, rows) =>
      Map("op" -> i, "rows" -> rows) })
}

object LakeDml {
  private final case class LakeOp(kind: String, fmt: String, sql: Seq[String],
      read: String)
}
