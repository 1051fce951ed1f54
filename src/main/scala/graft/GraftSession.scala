package graft

import org.apache.spark.sql.SparkSession

/** The local session the [[Bench]] and [[Verify]] mains, the test suite
  * and the dev probes run on.
  */
object GraftSession {

  /** `local[cpus]` with the shuffle width [[SessionTuning.shufflePartitions]]
    * derives from the size of `sfDir`, UTC, no UI, log level WARN.
    */
  def local(sfDir: String, cpus: Int): SparkSession =
    local(cpus, SessionTuning.shufflePartitions(sfDir, cpus))

  /** `local[cpus]` with an explicit shuffle width, UTC, no UI. */
  def local(cpus: Int, shufflePartitions: Int,
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
