package graft

import org.apache.spark.sql.functions._

/** Dev-only probe (r14): isolate the cost of the small-file round-robin
  * parallelize (Tables.maybeParallelize) for CHEAP-aggregation consumers
  * vs per-row-expensive consumers. The driver testdata is one row group
  * per file, so every scan is one task; maybeParallelize round-robins it
  * to the session parallelism. For a cheap partial-agg consumer that
  * exchange ships the whole table off the scan task instead of letting
  * the partial agg collapse it in place — this probe measures both shapes
  * on both kinds of consumer.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.ScanFloorProbe"
  */
object ScanFloorProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, cpus)
    val dir = "/root/testdata/sf0.1"

    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime(); Bench.materialize(df)
      val t1 = System.nanoTime(); Bench.materialize(df)
      val t2 = System.nanoTime()
      println(f"$name%-44s run1 ${(t1 - t0) / 1e9}%6.2f  run2 ${(t2 - t1) / 1e9}%6.2f")
    }

    val rawLineitem = spark.read.parquet(s"$dir/lineitem.parquet")
    val viaTables = Tables(spark, dir, "lineitem")
    // cheap consumer: partial-agg groupBy on a 32-ish-key column
    time("lineitem groupBy(retflag) RAW (no repart)") {
      rawLineitem.groupBy("l_returnflag").agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
    }
    time("lineitem groupBy(retflag) via Tables") {
      viaTables.groupBy("l_returnflag").agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
    }
    // high-cardinality groupBy (shuffle-dominated either way)
    time("lineitem groupBy(orderkey) RAW") {
      rawLineitem.groupBy("l_orderkey").agg(sum("l_quantity"))
    }
    time("lineitem groupBy(orderkey) via Tables") {
      viaTables.groupBy("l_orderkey").agg(sum("l_quantity"))
    }
    // per-row-expensive consumer: minhash-style signature on documents
    val rawDocs = spark.read.parquet(s"$dir/documents.parquet")
    val docsT = Tables(spark, dir, "documents")
    import graft.functions.TextHashes
    time("docs minhash map RAW (1 task)") {
      rawDocs.select(col("doc_id"),
        TextHashes.min_hash_signature(col("text"), 3, 16).as("sig"))
    }
    time("docs minhash map via Tables (32 tasks)") {
      docsT.select(col("doc_id"),
        TextHashes.min_hash_signature(col("text"), 3, 16).as("sig"))
    }
    // bare scan floor
    time("lineitem bare scan RAW")(rawLineitem)
    time("lineitem bare scan via Tables")(viaTables)
    time("events bare scan via Tables")(Tables(spark, dir, "events"))
    // r14 candidate: deterministic content-hash repartition (no
    // sortBeforeRepartition pass, retry-stable row->partition map)
    val n = spark.sparkContext.defaultParallelism
    def hashRepart(df: org.apache.spark.sql.DataFrame) =
      df.repartition(n, pmod(xxhash64(df.columns.map(col): _*), lit(n * 64)))
    time("lineitem bare scan HASH-repart") {
      hashRepart(rawLineitem)
    }
    time("lineitem groupBy(retflag) HASH-repart") {
      hashRepart(rawLineitem).groupBy("l_returnflag")
        .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
    }
    time("lineitem groupBy(orderkey) HASH-repart") {
      hashRepart(rawLineitem).groupBy("l_orderkey").agg(sum("l_quantity"))
    }
    time("docs minhash map HASH-repart") {
      hashRepart(rawDocs).select(col("doc_id"),
        TextHashes.min_hash_signature(col("text"), 3, 16).as("sig"))
    }
    spark.stop()
  }
}
