package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Plan-inspection tool: `runMain graft.tools.Explain <sfDir> <query...>`
  * prints the formatted physical plan of each named query (all queries if
  * none named). Used to audit pushdown / pruning / join strategy per the
  * design-for-scale loop. The signed maintenance rungs pin nothing, so a
  * maintenance plan prints whole; the pipeline's pinned signature views
  * print as ExistingRDD leaves.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.Tables.init(spark)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"EXPLAIN FAILED: $e") }
    }
    spark.stop()
  }
}
