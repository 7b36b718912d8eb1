package graft.ivm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The lakehouse maintenance seams' splice
  * ([[DeltaLakeSnapshots.maintainAgg]], [[IcebergSnapshots.maintainAgg]]):
  * one call into the shared [[Splice]] core instead of one copy per
  * format.
  *
  *   touched  = `keys` of (inserts ∪ retracts)   — δ-sized
  *   view′    = view ▷ touched  ∪all  agg(snapshot ⋉ touched)
  *
  * A small single-key touched set (bounded by the window's churn — the
  * normal case) reaches the log-backed snapshot as an IN set, which
  * prunes FILES (partition filter when the key is the partition column,
  * stats skip otherwise). The returned frame is EAGER (`localCheckpoint`):
  * callers advance their cut only after it materializes, so a failed
  * cycle never moves the cut past changes it hasn't applied — and
  * production sinks materialize the new view state anyway.
  */
private[ivm] object LakeSplice {

  def maintainAgg(view: DataFrame, keys: Seq[String],
      agg: DataFrame => DataFrame, inserts: DataFrame,
      retracts: DataFrame, snapshot: DataFrame): DataFrame = {
    val kc = keys.map(col)
    val touched = Splice.resolve(
      inserts.select(kc: _*).unionByName(retracts.select(kc: _*)))
    val spliced = Splice(view, kc, touched, agg(touched.keep(snapshot, kc)))
    graft.engine.Labeled.job(view.sparkSession, "splice:view-pin") {
      spliced.localCheckpoint()
    }
  }
}
