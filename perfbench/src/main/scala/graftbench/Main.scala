package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed call into graft. `body` returns whether the op's own result
  * check passed (ops without an inline check return true); `check` runs
  * after the op's end timestamp, untimed, and can fail it too.
  */
final case class Op(kind: String, name: String, body: () => Boolean,
    check: () => Boolean = () => true)

final case class OpRec(id: Int, kind: String, name: String, pass: Int,
    start: Double, end: Double, ok: Boolean, error: String)

/** Session, work directories and tracer shared by a workload. */
final class Ctx(val spark: SparkSession, val in: String, val work: String,
    val tracer: Tracer) {
  def dir(name: String): String = {
    val f = new File(work, name); f.mkdirs(); f.getAbsolutePath
  }
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** A closed-loop workload: staged once per setup, then run pass by pass
  * by one client thread.
  */
trait Workload {
  def setup(ctx: Ctx): Unit
  /** Assertions about the last setup's state, run after it is timed. */
  def verifySetup(ctx: Ctx): Unit = ()
  /** The ops of pass `p` (pass 0 is the cold pass). */
  def pass(ctx: Ctx, p: Int): Seq[Op]
  /** Untimed correctness checks after the timed phase: failures by name. */
  def check(ctx: Ctx, ops: Seq[OpRec]): Map[String, String]
  /** Extra trace-mode measurements, run after the timed phase. */
  def traced(ctx: Ctx, ops: Seq[OpRec]): Map[String, Any] = Map.empty
  def info: Map[String, Any] = Map.empty
  def teardown(): Unit = ()
}

/** Benchmark entry point: `--workload W --in DIR --work DIR --out FILE
  * --seconds S --trace 0|1 --cores N --setups K`. Writes one JSON result
  * file; `perfbench/run.py` turns it into metrics.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val setups = a("setups").toInt
    val work = a("work")
    val in = a("in")

    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcSeconds = gc.map(_.getCollectionTime).sum / 1000.0
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    var wl: Workload = null
    // every setup starts from nothing: a fresh session and fresh tables;
    // all but the last are torn down again
    for (i <- 0 until setups) {
      val w = new File(work, s"setup$i").getAbsolutePath
      val t0 = System.nanoTime()
      val spark = session(cores, w, trace)
      val c = new Ctx(spark, in, w, new Tracer(spark.sparkContext))
      val x = make(workload, trace)
      x.setup(c)
      setupTimes += (System.nanoTime() - t0) / 1e9
      if (i < setups - 1) {
        x.teardown(); spark.stop(); deleteTree(new File(w))
      } else { ctx = c; wl = x }
    }
    wl.verifySetup(ctx)

    val spark = ctx.spark
    val tracer = ctx.tracer
    val sc = spark.sparkContext
    def attach(on: Boolean): Unit = {
      if (on) {
        sc.addSparkListener(tracer.sparkListener)
        spark.listenerManager.register(tracer.queryListener)
        spark.streams.addListener(tracer.streamListener)
      } else {
        sc.removeSparkListener(tracer.sparkListener)
        spark.listenerManager.unregister(tracer.queryListener)
        spark.streams.removeListener(tracer.streamListener)
      }
      tracer.enabled = on
    }

    val recs = mutable.ArrayBuffer.empty[OpRec]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val gc0 = gcSeconds
    val tStart = System.nanoTime()
    val deadline = tStart + (seconds * 1e9).toLong
    var p = 0
    // trace mode runs warm passes untraced, traced, traced, untraced and
    // so on, so the tracer's own cost shows as trace.overhead_frac, neither
    // set is confined to passes of one parity, and both sets sit equally
    // far from the cold pass on average (warm-up does not bias the
    // comparison)
    val minPasses = if (trace) 5 else 2
    // a pass starts only if it is expected to end near the deadline
    var lastPass = 0L
    while (p < minPasses || System.nanoTime() + lastPass / 2 < deadline) {
      val traced = trace && p / 2 % 2 == 1
      if (traced) attach(true)
      val ops = wl.pass(ctx, p)
      val cpu0 = Main.cpuTicks()
      val ps = System.nanoTime()
      val ran = ops.map { op =>
        tracer.currentOp(recs.size)
        val s = System.nanoTime()
        val (ok, err) =
          try tracer.span(s"op.${op.kind}")((op.body(), ""))
          catch { case e: Throwable =>
            (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
        val e = System.nanoTime()
        recs += OpRec(recs.size, op.kind, op.name, p, (s - tStart) / 1e9,
          (e - tStart) / 1e9, ok, err)
        op
      }
      tracer.currentOp(-1)
      val pe = System.nanoTime()
      lastPass = pe - ps
      // the ops' own answer checks, outside the pass's wall time
      val first = recs.size - ran.size
      ran.zipWithIndex.foreach { case (op, k) =>
        val r = recs(first + k)
        if (r.ok && !(try op.check() catch { case _: Throwable => false }))
          recs(first + k) = r.copy(ok = false, error = "answer differs from its first answer")
        if (recs(first + k).error.nonEmpty)
          System.err.println(s"[graftbench] op ${op.name} failed: ${recs(first + k).error}")
      }
      val cpu1 = Main.cpuTicks()
      if (traced) { org.apache.spark.graftbench.Bus.drain(sc); attach(false) }
      passes += Map("pass" -> p, "start_s" -> (ps - tStart) / 1e9,
        "end_s" -> (pe - tStart) / 1e9, "traced" -> traced,
        "steal_frac" -> Main.stealShare(cpu0, cpu1))
      p += 1
    }
    val gcS = gcSeconds - gc0
    // Spark's context cleaner frees unreferenced pins only after a GC has
    // enqueued them; collect, let it run, collect again
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)

    val extra = if (trace) {
      org.apache.spark.graftbench.Bus.drain(sc)
      tracer.settle()
      wl.traced(ctx, recs.toSeq)
    } else Map.empty[String, Any]
    val checks = wl.check(ctx, recs.toSeq)

    val out = Map(
      "cores" -> cores, "setup_s" -> setupTimes.toSeq, "gc_s" -> gcS,
      "heap_live_mb" -> heapMb,
      "ops" -> recs.map(r => Map("id" -> r.id, "kind" -> r.kind,
        "name" -> r.name, "pass" -> r.pass, "start_s" -> r.start,
        "end_s" -> r.end, "ok" -> r.ok, "error" -> r.error)),
      "passes" -> passes.toSeq, "check_failures" -> checks,
      "info" -> wl.info, "traced" -> extra,
      "spans" -> (if (trace) tracer.dump() else Seq.empty))
    Files.writeString(Paths.get(a("out")), Json.render(out))
    wl.teardown()
    spark.stop()
  }

  def make(name: String, trace: Boolean): Workload = name match {
    case "ivm_refresh" => new IvmRefresh
    case "lake_query" => new LakeQuery(fullPasses = trace)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(cores: Int, work: String, trace: Boolean): SparkSession = {
    new File(work).mkdirs()
    val s = SparkSession.builder()
      // block statuses in task metrics give the pins' bytes (trace only)
      .config("spark.taskMetrics.trackUpdatedBlockStatuses", trace.toString)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // the status store keeps a bounded job history, so live heap does
      // not grow with the number of ops a run happens to fit
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.engine.Tables.init(s)
  }

  /** The host's cumulative CPU ticks by state (user, nice, system, idle,
    * iowait, irq, softirq, steal), or empty where /proc/stat is missing.
    */
  def cpuTicks(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
    } catch { case _: Exception => Array.empty }

  /** The share of CPU ticks between two readings stolen by the host. */
  def stealShare(a: Array[Long], b: Array[Long]): Double = {
    val total = if (a.length == 8 && b.length == 8) b.sum - a.sum else 0L
    if (total <= 0) 0.0 else (b(7) - a(7)).toDouble / total
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
