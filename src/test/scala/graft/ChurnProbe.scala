package graft

import org.apache.spark.sql.SparkSession

/** Session-churn endurance probe (VERDICT r13 #3): the service posture
  * proven for N CONCURRENT sessions (ConcurrencyProbe) was unproven for N
  * sequential THOUSANDS — a long-lived service that creates a session per
  * request. Two phases over one JVM:
  *
  *  1. HYGIENE — sessions that follow the contract (CacheScope.release at
  *     the request boundary): after every release the registry, the memo
  *     tier, and pinned storage must be EMPTY — zero accumulation across
  *     the whole loop.
  *  2. ABANDONMENT — sessions that run queries (including the memoized
  *     build families, which retain frames keyed by session) and never
  *     release: the CacheScope session high-water must keep live sessions,
  *     memo entries, and pinned storage BOUNDED by auto-releasing the
  *     least-recently-active scope (safe post-r14: eviction is a
  *     recompute, never a wrong answer), and heap after GC must be stable
  *     instead of growing linearly with session count.
  *
  * A final correctness re-run proves the churn (including auto-releases
  * firing mid-loop) never poisoned results.
  *
  * Run: SPARK_GRAFT_CPUS=8 sbt "Test/runMain graft.ChurnProbe"
  * (env: SPARK_GRAFT_SF_DIR, GRAFT_CHURN_SESSIONS).
  */
object ChurnProbe {

  private def usedHeapAfterGc(): Long = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    val r = Runtime.getRuntime
    r.totalMemory() - r.freeMemory()
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val n = sys.env.getOrElse("GRAFT_CHURN_SESSIONS", "1000").toInt
    val root = GraftSession.local(cpus, cpus, "ERROR")

    // every session: a cheap retained ordered-scan query; every 25th: the
    // memoized build families too (session-keyed memo entries — the
    // leak-prone tier)
    def work(s: SparkSession, i: Int): Unit = {
      SparkEntry.queries("q_w1_log_returns")(s, dir).count()
      if (i % 25 == 0) {
        SparkEntry.queries("q_d_jaccard_pairs")(s, dir).count()
        SparkEntry.queries("q_w7_rsi_final")(s, dir).count()
      }
    }
    def fail(msg: String): Nothing = {
      System.err.println(s"CHURN-FAIL: $msg"); sys.exit(1)
    }
    val half = n / 2

    println(s"== phase 1: $half sessions WITH release (hygiene) ==")
    val t0 = System.nanoTime()
    (1 to half).foreach { i =>
      val s = root.newSession()
      work(s, i)
      CacheScope.release(s)
      if (CacheScope.liveCount(s) != 0) fail(s"liveCount != 0 after release (i=$i)")
    }
    if (CacheScope.sessionCount != 0)
      fail(s"sessionCount ${CacheScope.sessionCount} != 0 after hygiene phase")
    if (CacheScope.memoCount != 0)
      fail(s"memo entries ${CacheScope.memoCount} != 0 after hygiene phase")
    if (root.sparkContext.getPersistentRDDs.nonEmpty)
      fail(s"${root.sparkContext.getPersistentRDDs.size} RDDs still pinned after hygiene phase")
    val heapAfterHygiene = usedHeapAfterGc()
    println(f"hygiene: ${half} sessions, registry/memo/storage all 0, " +
      f"heap ${heapAfterHygiene / 1e6}%.0f MB, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    println(s"== phase 2: $half sessions WITHOUT release (abandonment) ==")
    val cap = CacheScope.maxSessions
    val auto0 = CacheScope.autoReleases.get()
    val t1 = System.nanoTime()
    (1 to half).foreach { i =>
      val s = root.newSession()
      work(s, i)
      // abandoned: no release — the high-water guard must bound everything
    }
    val sessLive = CacheScope.sessionCount
    val memoLive = CacheScope.memoCount
    val rddLive = root.sparkContext.getPersistentRDDs.size
    val autoFired = CacheScope.autoReleases.get() - auto0
    val heapAfterChurn = usedHeapAfterGc()
    val heapGrowthMb = (heapAfterChurn - heapAfterHygiene) / 1e6
    println(f"abandonment: $half sessions, live-sessions $sessLive (cap $cap), " +
      f"memo entries $memoLive, pinned RDDs $rddLive, " +
      f"auto-releases $autoFired, heap growth $heapGrowthMb%.0f MB, " +
      f"${(System.nanoTime() - t1) / 1e9}%.1f s")
    if (sessLive > cap) fail(s"live sessions $sessLive exceed cap $cap")
    if (half > cap && autoFired == 0)
      fail("high-water guard never fired — the probe is vacuous")
    // memo entries live in session scopes: bounded by cap x families (3)
    if (memoLive > cap * 3) fail(s"memo entries $memoLive > ${cap * 3}")
    // retained frames per live session are a handful at sf0.001
    if (rddLive > cap * 8) fail(s"pinned RDDs $rddLive > ${cap * 8}")
    // linear leak at ~60 abandoned plan trees/session would be GBs; the
    // bounded registries keep post-GC heap within one cap's worth
    if (heapGrowthMb > 2048) fail(f"post-GC heap grew $heapGrowthMb%.0f MB")

    // churn (with auto-releases landing mid-loop) must never poison
    // results: a fresh session's answers equal a clean baseline
    println("== correctness re-check after churn ==")
    val s = root.newSession()
    val fp = ResultFingerprint(SparkEntry.queries("q_w_rolling_corr")(s, dir))
    CacheScope.release(s)
    val s2 = root.newSession()
    val fp2 = ResultFingerprint(SparkEntry.queries("q_w_rolling_corr")(s2, dir))
    CacheScope.release(s2)
    if (fp != fp2) fail(s"post-churn fingerprint drift: $fp vs $fp2")

    println(s"CHURN-OK: ${half}+${half} sessions, hygiene tier empties to " +
      s"zero, abandonment tier bounded at cap=$cap " +
      s"(live=$sessLive memo=$memoLive rdds=$rddLive auto=$autoFired " +
      f"heapGrowth=$heapGrowthMb%.0fMB), post-churn parity holds")
    root.stop()
  }
}
