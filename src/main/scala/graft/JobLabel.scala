package graft

import org.apache.spark.sql.SparkSession

/** Spark job descriptions for the engine's phases (guide §1.5): every
  * job `body` launches carries `label`, broadcast and subquery jobs
  * included (the description propagates through the SQL execution
  * thread pool), so per-phase attribution works in any profiler. The
  * caller's own description is restored afterwards. */
object JobLabel {
  def apply[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(outer)
  }
}
