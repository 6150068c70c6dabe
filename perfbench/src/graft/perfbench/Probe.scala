package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The recovery probe every `FragmentEngine` call runs first is internal to
  * graft; this is the one non-public call the benchmark makes, so the probe
  * can be timed on its own.
  */
object Probe {
  def recoverIfPending(spark: SparkSession, dataRoot: String): Unit =
    graft.operators.FragmentTxn.recoverIfPending(spark, dataRoot)
}
