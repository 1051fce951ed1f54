package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent multi-session soak (VERDICT r12 next-round #1): the S8
  * surface positions the engine as a Grafana-style query service, and the
  * prescribed service posture is one `spark.newSession()` per concurrent
  * builder (IterScope's contract). Until r13 that posture was prose; this
  * spec measures it:
  *
  *  - N worker threads, each on its own child session, run OVERLAPPING
  *    rotations of a slice of the query surface against one warehouse —
  *    the slice deliberately includes three consumers of the memoized
  *    miner+CC cascade, the vector SemDeDup cascade, the indicator memo,
  *    both bucketed-layout queries (shared catalog table — the write race
  *    fixed in r13), the registered-view SQL surface, and the BPE
  *    driver-read fold. Every one of those paths crosses JVM-global state
  *    (CacheScope and its memos, the shared CacheManager/catalog,
  *    IterScope's owner map).
  *  - Every thread fingerprints every result and compares it to the
  *    SEQUENTIAL single-session baseline computed first — concurrency
  *    must change timings, never answers. (Oracle parity itself is the
  *    driver's DuckDB gate; bit-equal-to-sequential is the in-JVM
  *    equivalent.)
  *  - Per session afterwards: `spark.sql.adaptive.enabled` is restored
  *    (no IterScope set/restore interleave leaked), CacheScope.release
  *    leaves zero retained frames, and a post-release re-run still
  *    matches (release never poisons a memoized family).
  *  - Globally: no IterScope owner entry survives, and the guard never
  *    tripped (it throws only on same-session cross-thread entry, which
  *    separate sessions make impossible).
  */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val root = SparkSpec.session
  private val dir = "/root/testdata/sf0.001"
  private val nThreads = 4

  private def fingerprint(df: DataFrame) = ResultFingerprint(df)

  /** The soak slice: every JVM-global-state family plus plain plans. */
  private val slice: Seq[String] = Seq(
    "q_d_dedup_groups",       // memoized miner+CC cascade (IterScope inside)
    "q_d_pagerank_canonical", // same cascade, second consumer + PageRank loop
    "q_d_group_split",        // same cascade, third consumer
    "q_e_semdedup_groups",    // vector cascade (centroid collect + CC)
    "q_w7_rsi_final",         // indicator memo (mapPartitions fold)
    "q_w_rolling_corr",       // TiledScan family (carry/main layout split
                              // — the r13 sf0.01 soak catch)
    "q_r_bucketed_latest_n",  // shared-catalog bucketed table (r13 lock)
    "q_r_bucketed_user_activity",
    "q_sql_tpch_q1",          // per-session temp-view registration
    "q_sql_incremental_rollup",
    "q_a_vwap",               // plain decimal agg
    "q_t_bpe_apply",          // BPE fold: bounded driver reads per round
    "q_e_cosine_topk")        // brute-force ANN baseline

  test("four sessions run overlapping slices concurrently: results stay " +
    "bit-equal to sequential, confs restore, caches release, no scope leaks") {
    assume(new java.io.File(dir).isDirectory, s"$dir missing")

    // ---- sequential baseline on its own child session ----
    val base = root.newSession()
    val expected: Map[String, (BigDecimal, Long)] = slice.map { n =>
      n -> fingerprint(SparkEntry.queries(n)(base, dir))
    }.toMap
    CacheScope.release(base)
    slice.foreach { n =>
      val (_, rows) = expected(n)
      assert(rows > 0, s"baseline $n returned zero rows — slice is dead")
    }

    // ---- concurrent soak ----
    final case class Res(thread: Int, name: String,
      ok: Boolean, detail: String)
    val results = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Res]())
    val fatal = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val startGate = new java.util.concurrent.CountDownLatch(1)

    val threads = (0 until nThreads).map { i =>
      new Thread(() => {
        try {
          val s = root.newSession()
          val aqeBefore = s.conf.get("spark.sql.adaptive.enabled", "true")
          startGate.await()
          // rotate the slice so threads hit DIFFERENT families at the
          // same instant (maximal cross-family interleave), twice so a
          // thread also re-enters its own warm memo mid-soak
          val order = (slice.drop(i * 3 % slice.size) ++
            slice.take(i * 3 % slice.size)) ++ slice.reverse
          order.foreach { n =>
            val got = fingerprint(SparkEntry.queries(n)(s, dir))
            results.add(Res(i, n, got == expected(n),
              s"got=$got want=${expected(n)}"))
          }
          // conf restored: IterScope's set/restore never leaked across
          // the interleave (each session has its own SQLConf)
          val aqeAfter = s.conf.get("spark.sql.adaptive.enabled", "true")
          results.add(Res(i, "__aqe_restored", aqeAfter == aqeBefore,
            s"aqe before=$aqeBefore after=$aqeAfter"))
          // clean per-session release, then a post-release re-run of a
          // memoized-cascade consumer still matches (rebuild is sound)
          CacheScope.release(s)
          results.add(Res(i, "__cache_released",
            CacheScope.liveCount(s) == 0,
            s"live=${CacheScope.liveCount(s)}"))
          val again = fingerprint(
            SparkEntry.queries("q_d_dedup_groups")(s, dir))
          results.add(Res(i, "__post_release_rerun",
            again == expected("q_d_dedup_groups"),
            s"got=$again want=${expected("q_d_dedup_groups")}"))
          CacheScope.release(s)
        } catch {
          case t: Throwable => fatal.compareAndSet(null, t)
        }
      }, s"graft-soak-$i")
    }
    threads.foreach(_.start())
    startGate.countDown()
    threads.foreach(_.join(15 * 60 * 1000L))
    assert(threads.forall(!_.isAlive), "soak thread hung past 15 min")
    if (fatal.get() != null) fail(
      s"soak thread threw (IterScope guard or worse): ${fatal.get()}",
      fatal.get())

    import scala.jdk.CollectionConverters._
    val bad = results.asScala.filterNot(_.ok)
    assert(bad.isEmpty, bad.map(r => s"[t${r.thread}] ${r.name}: ${r.detail}")
      .mkString("\n"))
    // every thread reported every slice query twice + the 3 meta checks
    assert(results.size == nThreads * (slice.size * 2 + 3))

    // no owner entry survives the soak (r11 ADVICE leak class, now
    // measured under real concurrency)
    assert(graft.ops.IterScope.openScopes == 0,
      "IterScope owner map must be empty at rest")
  }
}
