package graftbench

/** Lake DML and a read-only query mix in one closed loop, so the lake
  * readers and writers, the SQL DML surface, Catalyst, the pipeline
  * operators and streaming all load the same session.
  *
  * The cold pass runs the op list once: one write/read pair of each lake
  * kind, interleaved with every query-mix op. Each warm pass then runs the
  * next write of the lake stream, its read, and the next query-mix op, so
  * a run holds many short warm passes and each op kind, table and query
  * recurs across them. With `fullPasses` (trace mode) every pass has the
  * cold pass's shape, so each traced pass holds every op of the list.
  */
final class LakeQuery(fullPasses: Boolean) extends Workload {
  private val lake = new LakeDml
  private val queries = new QueryMix
  private val ColdWrites = 5

  def setup(ctx: Ctx): Unit = { lake.setup(ctx); queries.setup(ctx) }

  def pass(ctx: Ctx, p: Int): Seq[Op] =
    if (p == 0 || fullPasses) {
      val pairs = (ColdWrites * p until ColdWrites * (p + 1)).map(lake.pair(ctx, _))
      val qs = (queries.size * p until queries.size * (p + 1)).map(queries.op(ctx, _))
      pairs.zipAll(qs, Nil, null).flatMap { case (pair, q) => pair ++ Option(q) }
    } else {
      lake.pair(ctx, ColdWrites + p - 1) :+ queries.op(ctx, queries.size + p - 1)
    }

  def check(ctx: Ctx, ops: Seq[OpRec]): Map[String, String] =
    lake.check(ctx) ++ queries.check(ctx)

  override def traced(ctx: Ctx, ops: Seq[OpRec]): Map[String, Any] = lake.traced(ctx)

  override def info: Map[String, Any] = lake.info ++ queries.info

  override def teardown(): Unit = queries.teardown()
}
