package graft

import org.apache.spark.sql.SparkSession

/** The session the [[Bench]] and [[Verify]] mains run on. */
object GraftSession {

  /** `local[cpus]`, the shuffle width [[SessionTuning.shufflePartitions]]
    * derives from the size of `sfDir`, UTC, no UI, log level WARN.
    */
  def local(sfDir: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        SessionTuning.shufflePartitions(sfDir, cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
