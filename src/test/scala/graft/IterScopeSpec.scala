package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the r10 wall-cut machinery: IterScope must never leak
  * its conf override (the SQL conf is session-global, so a leak would
  * silently de-AQE every later query), and the memoized query results
  * (pagerank canonical, MMR) must not serve a stale unpersisted frame
  * after CacheScope.release — the eviction callback is the only thing
  * standing between the memo and a use-after-unpersist.
  */
class IterScopeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  private val dir = "/root/testdata/sf0.001"

  test("withConf restores prior values on normal exit and on exception") {
    val k = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(k)
    graft.ops.IterScope.noAqe(spark) {
      assert(spark.conf.get(k) == "false")
    }
    assert(spark.conf.get(k) == prior, "normal exit must restore")
    intercept[RuntimeException] {
      graft.ops.IterScope.noAqe(spark) {
        assert(spark.conf.get(k) == "false")
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(k) == prior, "exception exit must restore")
    // a key that was UNSET before must be unset again after
    val custom = "graft.test.iterscope.unset"
    assert(spark.conf.getOption(custom).isEmpty)
    graft.ops.IterScope.withConf(spark, custom -> "on") {
      assert(spark.conf.get(custom) == "on")
    }
    assert(spark.conf.getOption(custom).isEmpty,
      "previously-unset keys must be unset on restore, not set to a value")
  }

  test("concurrent entry on one session fails fast; same-thread nesting " +
      "is reentrant; the scope frees after the holder exits") {
    val k = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(k)
    // same-thread nesting (the pagerank cascade nests scopes through
    // connectedComponents) must remain legal and restore once, at the
    // outermost exit
    graft.ops.IterScope.noAqe(spark) {
      graft.ops.IterScope.withConf(spark, k -> "false") {
        assert(spark.conf.get(k) == "false")
      }
      assert(spark.conf.get(k) == "false", "inner exit must not restore early")
    }
    assert(spark.conf.get(k) == prior)

    // two-thread interleave (ADVICE r10, medium): while thread A holds the
    // scope, thread B's entry must THROW instead of interleaving
    // session-global set/restore (B could capture A's transient "false" as
    // its prior and leave AQE off session-wide)
    val aEntered = new java.util.concurrent.CountDownLatch(1)
    val aRelease = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      graft.ops.IterScope.noAqe(spark) {
        aEntered.countDown()
        aRelease.await(30, java.util.concurrent.TimeUnit.SECONDS)
        ()
      }, "iterscope-holder")
    holder.start()
    assert(aEntered.await(30, java.util.concurrent.TimeUnit.SECONDS))
    val denied = intercept[IllegalStateException] {
      graft.ops.IterScope.noAqe(spark) { () }
    }
    assert(denied.getMessage.contains("iterscope-holder"),
      "the error must name the holding thread")
    assert(spark.conf.get(k) == "false",
      "the denied entry must not have touched the holder's override")
    aRelease.countDown()
    holder.join(30000)
    assert(!holder.isAlive)
    assert(spark.conf.get(k) == prior, "holder exit must restore")
    // and the session is re-enterable once free
    graft.ops.IterScope.noAqe(spark) {
      assert(spark.conf.get(k) == "false")
    }
    assert(spark.conf.get(k) == prior)
  }

  test("a conf.set failure mid-application restores the applied keys and " +
      "releases the owner entry (ADVICE r11)") {
    val good = "graft.test.iterscope.partial"
    val static = "spark.sql.warehouse.dir" // non-modifiable at runtime
    assert(spark.conf.getOption(good).isEmpty)
    // sanity: the second key really does refuse runtime modification
    intercept[Exception] { spark.conf.set(static, "/tmp/graft-iterscope-x") }
    intercept[Exception] {
      graft.ops.IterScope.withConf(spark,
        good -> "on", static -> "/tmp/graft-iterscope-x") { () }
    }
    assert(spark.conf.getOption(good).isEmpty,
      "the key applied before the failing set must be restored (unset)")
    // the owner entry must be gone — a leaked entry would permanently
    // lock the session out of IterScope for every other thread
    @volatile var entered = false
    val t = new Thread(() =>
      graft.ops.IterScope.noAqe(spark) { entered = true },
      "iterscope-after-fail")
    t.start(); t.join(30000)
    assert(entered,
      "a failed entry must not leave the session locked for other threads")
  }

  test("memoized query results survive a release cycle: rebuild serves " +
      "fresh usable frames, not a stale unpersisted cache entry") {
    // q_d_dedup_groups and q_e_index_prep read the r12 shared
    // minedPairs/minedGroups memo; q_d_incremental_dedup and
    // q_d_winnow_incremental are the r13/r9 one-shot gate
    // materializations — same eviction contract
    for (q <- Seq("q_d_pagerank_canonical", "q_e_mmr_topk",
        "q_d_dedup_groups", "q_e_index_prep",
        "q_d_incremental_dedup", "q_d_winnow_incremental",
        "q_d_minhash_dedup_groups")) {
      val first = SparkEntry.queries(q)(spark, dir)
      val rows1 = first.collect().map(_.toString).sorted.toSeq
      assert(rows1.nonEmpty, s"$q must produce rows")
      CacheScope.release(spark)
      // after release the memo entry is evicted — a rebuild
      // must re-materialize and agree, and must be consumable even
      // though the first frame's cache blocks are gone
      val second = SparkEntry.queries(q)(spark, dir)
      val rows2 = second.collect().map(_.toString).sorted.toSeq
      assert(rows1 == rows2, s"$q rebuild after release must agree")
      CacheScope.release(spark)
    }
  }
}
