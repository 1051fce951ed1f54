package graft


/** Whole-surface concurrency soak (the wide form of [[ConcurrencySpec]]):
  * N sessions run the ENTIRE query surface concurrently against one
  * warehouse, each thread on its own `spark.newSession()` child with a
  * different rotation of the sorted query list — so at any instant the
  * memoized families, the shared catalog, the CacheManager, and
  * IterScope are being crossed from several directions at once.
  *
  * Every fingerprint must equal the sequential single-session baseline;
  * afterwards each session's AQE conf must be restored, CacheScope must
  * release cleanly, and the IterScope owner map must be empty. The spec
  * stays the fast in-suite pin (12-query slice, 4 threads); this probe
  * is the opt-in saturation gate.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.ConcurrencyProbe"
  * (env: SPARK_GRAFT_SF_DIR, GRAFT_SOAK_THREADS).
  */
object ConcurrencyProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val nThreads = sys.env.getOrElse("GRAFT_SOAK_THREADS", "8").toInt
    val root = GraftSession.local(cpus, cpus, "ERROR")

    val names = SparkEntry.queries.keys.toSeq.sorted
    println(s"== sequential baseline: ${names.size} queries ==")
    val base = root.newSession()
    val expected = names.map { n =>
      val fp = try ResultFingerprint(SparkEntry.queries(n)(base, dir))
      finally CacheScope.release(base)
      n -> fp
    }.toMap

    println(s"== soak: $nThreads sessions x full surface ==")
    val bad = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.nanoTime()
    val threads = (0 until nThreads).map { i =>
      new Thread(() => {
        try {
          val s = root.newSession()
          val aqe0 = s.conf.get("spark.sql.adaptive.enabled", "true")
          val off = i * names.size / nThreads
          val order = names.drop(off) ++ names.take(off)
          order.foreach { n =>
            try {
              val got = ResultFingerprint(SparkEntry.queries(n)(s, dir))
              if (got != expected(n))
                bad.add(s"[t$i] $n got=$got want=${expected(n)}")
            } catch { case e: Throwable =>
              bad.add(s"[t$i] $n threw: ${e.toString.linesIterator.next()}")
            }
            done.incrementAndGet()
          }
          if (s.conf.get("spark.sql.adaptive.enabled", "true") != aqe0)
            bad.add(s"[t$i] AQE conf leaked")
          CacheScope.release(s)
          if (CacheScope.liveCount(s) != 0)
            bad.add(s"[t$i] CacheScope not empty after release")
        } catch { case e: Throwable => bad.add(s"[t$i] fatal: $e") }
      }, s"graft-soak-wide-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60 * 60 * 1000L))
    // a hung thread contributed no mismatches — that must FAIL, not
    // silently pass (review r13)
    threads.filter(_.isAlive).foreach(t => bad.add(s"${t.getName} HUNG"))
    val secs = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    val mismatches = bad.asScala.toSeq
    mismatches.take(20).foreach(m => println(s"SOAK-FAIL $m"))
    val scopes = graft.ops.IterScope.openScopes
    println(f"\n=== ${done.get()} query executions across $nThreads " +
      f"sessions in $secs%.1f s: ${mismatches.size} mismatches, " +
      s"IterScope open=$scopes ===")
    root.stop()
    if (mismatches.nonEmpty || scopes != 0) sys.exit(1)
  }
}
