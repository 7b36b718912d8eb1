package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** Read-only queries from `SparkEntry.queries` plus stream replays: no
  * commits of its own and no IVM. An op builds the frame (fixtures are
  * staged by setup) and collects its rows, as a client would.
  */
final class QueryMix {
  /** The op stream: seeded permutations of the frozen list, concatenated;
    * the first permutation is the cold pass's.
    */
  private var stream: IndexedSeq[String] = IndexedSeq.empty
  private var names: Seq[String] = Nil
  private var data = ""
  /** Each query's first answer, checked against the oracle after the
    * timed phase, and the digest every later answer must match.
    */
  private val answers = mutable.Map.empty[String, (StructType, Array[Row])]
  private val digests = mutable.Map.empty[String, Int]

  private def kind(n: String) = if (n.startsWith("stream_")) "stream" else "read"

  def size: Int = names.size

  def setup(ctx: Ctx): Unit = {
    val spec = Json.read(s"${ctx.in}/spec.json")
    data = s"${ctx.in}/data"
    val cycles = spec.get("queries").elements().asScala
      .map(_.elements().asScala.map(_.asText).toSeq).toIndexedSeq
    names = cycles.head
    stream = cycles.flatten
    // building each frame once stages its fixtures (CSV/ORC copies, lake
    // tables) the way graft.Bench does, so no op pays for staging
    names.foreach(n => SparkEntry.queries(n)(ctx.spark, data))
  }

  /** Op `j` of the stream. Its answer is digested after the op's end
    * timestamp; an answer that differs from the query's first fails the op.
    */
  def op(ctx: Ctx, j: Int): Op = {
    require(j < stream.size, s"lake_query: query stream exhausted after $j queries")
    val n = stream(j)
    var got: (StructType, Array[Row]) = null
    Op(kind(n), n,
      () => {
        val df = ctx.span("engine.construct")(SparkEntry.queries(n)(ctx.spark, data))
        got = (df.schema, ctx.span("exec.run")(df.collect()))
        true
      },
      check = () => {
        val d = QueryMix.digest(got._2)
        if (!answers.contains(n)) { answers(n) = got; digests(n) = d }
        got = null
        digests(n) == d
      })
  }

  /** Dumps each query's first answer; run.py compares them with the
    * DuckDB oracle.
    */
  def check(ctx: Ctx): Map[String, String] = {
    val out = ctx.dir("results")
    names.flatMap { n =>
      answers.get(n) match {
        case Some((schema, rows)) =>
          ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.parquet(s"$out/$n")
          None
        case None => Some(n -> "never answered")
      }
    }.toMap
  }

  def info: Map[String, Any] = Map(
    "oracle" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)

  // the staged fixtures live under the JVM's temp dir; a repeated setup
  // must stage them again
  def teardown(): Unit =
    Main.deleteTree(new File(System.getProperty("java.io.tmpdir"), "graft_stage"))
}

object QueryMix {
  /** Order-insensitive digest of an answer's rows. */
  def digest(rows: Array[Row]): Int =
    MurmurHash3.orderedHash(rows.map(_.toString).sorted)
}
