package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r14 Tables plan memo: reuse is identity-level (the 70–90 ms
  * frame assembly runs once), invalidation is by path mtime (in-place
  * rewrites mint a new plan — the BucketedLayout/sizeCache discipline),
  * the embeddings entry keys on the configured dim (the scan filter is
  * baked into the plan), and the LRU stays bounded so session churn
  * cannot grow it. The memo holds LAZY plans only — nothing is persisted,
  * every action recomputes from parquet (asserted via fresh reads after
  * an in-place rewrite).
  */
class TablesMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session

  test("repeat load returns the memoized frame; rewrite invalidates and rereads") {
    val dir = java.nio.file.Files.createTempDirectory("tmemo").toFile
    dir.deleteOnExit()
    val p = new java.io.File(dir, "orders.parquet").getAbsolutePath
    spark.range(5).selectExpr("id AS o_orderkey").write.parquet(p)
    val a = Tables(spark, dir.getAbsolutePath, "orders")
    val b = Tables(spark, dir.getAbsolutePath, "orders")
    assert(a eq b, "second load must return the memoized plan")
    assert(a.count() === 5)

    // in-place rewrite with a LATER mtime: the memo must miss and the new
    // frame must read the new data (lazy plans, nothing persisted)
    Thread.sleep(1100) // mtime granularity on some filesystems is 1 s
    val tmp = new java.io.File(dir, "orders2.parquet").getAbsolutePath
    spark.range(9).selectExpr("id AS o_orderkey").write.parquet(tmp)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(p)).deleteRecursively()
    assert(new java.io.File(tmp).renameTo(new java.io.File(p)))
    // force a fresh mtime in case rename preserved the old one
    new java.io.File(p).setLastModified(System.currentTimeMillis())
    val c = Tables(spark, dir.getAbsolutePath, "orders")
    assert(!(c eq a), "rewritten path must mint a new plan")
    assert(c.count() === 9)
  }

  test("embeddings memo keys on the configured dim") {
    val dir = "/root/testdata/sf0.001"
    val d64 = Tables(spark, dir, "embeddings")
    spark.conf.set("graft.embedding.dim", "64")
    val d64b = Tables(spark, dir, "embeddings")
    assert(d64 eq d64b, "same dim must hit the memo")
    spark.conf.set("graft.embedding.dim", "32")
    try {
      val d32 =
        try Some(Tables(spark, dir, "embeddings"))
        catch { case _: IllegalStateException => None } // dim guard may fire
      d32.foreach(f => assert(!(f eq d64), "different dim must miss"))
    } finally spark.conf.unset("graft.embedding.dim")
  }

  test("memo is bounded: heavy churn cannot grow it past the cap") {
    val dir = java.nio.file.Files.createTempDirectory("tmemo_cap").toFile
    dir.deleteOnExit()
    (0 until 70).foreach { i =>
      val p = new java.io.File(dir, s"t$i").getAbsolutePath
      spark.range(1).selectExpr("id AS o_orderkey")
        .write.parquet(s"$p/orders.parquet")
      Tables(spark, p, "orders")
    }
    assert(Tables.planMemoSize <= 64,
      s"plan memo must stay bounded, got ${Tables.planMemoSize}")
  }

  test("a second ensureRegistered on the same session and dir is a no-op") {
    // one-row stand-ins for every table registerAll loads
    val dir = java.nio.file.Files.createTempDirectory("tmemo_reg").toString
    Tables.all.foreach { n =>
      val df = n match {
        case "events" => spark.range(1).selectExpr("id", "current_timestamp() AS ts")
        case "embeddings" => spark.range(1)
          .selectExpr(s"array_repeat(CAST(1.0 AS FLOAT), ${Tables.EmbeddingDim}) AS embedding")
        case _ => spark.range(1).toDF()
      }
      df.write.parquet(s"$dir/$n.parquet")
    }
    Tables.ensureRegistered(spark, dir)
    val before = Tables.registrations.get()
    Tables.ensureRegistered(spark, dir)
    assert(Tables.registrations.get() === before,
      "the registration memo must hit for an unchanged dir")
  }

  test("scan spread: one chunk stays put, documents widen by 32 per MiB") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
    val dir = java.nio.file.Files.createTempDirectory("tspread").toString
    def width(name: String): Option[Int] =
      Tables(spark, dir, name).queryExecution.logical.collectFirst {
        case r: RepartitionOperation => r.numPartitions
      }
    // a 2-row dimension table is far below one 1 MiB chunk
    spark.range(2).selectExpr("id AS r_regionkey").write
      .parquet(s"$dir/region.parquet")
    assert(width("region").isEmpty, "one chunk of work must not be spread")
    // ~45 KB of near-incompressible text: one chunk of bytes, but at the
    // documents weight (32) several chunks of work
    spark.range(450).selectExpr("id AS doc_id",
        "concat_ws(' ', sha2(CAST(id AS STRING), 256), " +
          "md5(CAST(id AS STRING))) AS text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val bytes = Tables.contentBytes(s"$dir/documents.parquet",
      spark.sparkContext.hadoopConfiguration).get
    val chunk = 1L << 20
    assert(bytes < chunk && bytes * 32 > chunk,
      s"fixture must sit between one chunk of bytes and of work: $bytes")
    val want = math.min(spark.sparkContext.defaultParallelism.toLong,
      (bytes * 32 + chunk - 1) / chunk).toInt
    assert(want < spark.sparkContext.defaultParallelism,
      s"fixture must need fewer tasks than cores, or the cap hides the rule")
    assert(width("documents") === Some(want))
  }

  test("no source file carries a NUL byte") {
    // a 0x00 in a string literal is invisible in an editor and to
    // `grep -P`, yet a memo key built with it never matches its lookup
    val src = new java.io.File(sys.props("user.dir"), "src")
    assert(src.isDirectory, s"run from the repository root: $src")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else Seq(f)
    val all = files(src)
    assert(all.exists(_.getName == "Tables.scala"))
    val withNul = all.filter(f =>
      java.nio.file.Files.readAllBytes(f.toPath).contains(0.toByte))
    assert(withNul.isEmpty, withNul.mkString(", "))
  }
}
