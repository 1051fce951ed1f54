package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object CacheScopeSpec {
  final case class FrameKey(tag: Any) extends CacheScope.Key[DataFrame]
  final case class IntKey(tag: Any) extends CacheScope.Key[Int]
}

/** Cache lifecycle (VERDICT r2 #4): builder-retained caches must all drop
  * on CacheScope.release — no storage pinned after a run completes, and
  * memoizing query packs must rebuild (not serve an unpersisted frame) on
  * next use.
  */
class CacheScopeSpec extends AnyFunSuite {
  import CacheScopeSpec._
  private lazy val spark = SparkSpec.session
  import spark.implicits._

  test("retain caches, release unpersists everything and evicts memo entries") {
    CacheScope.release(spark)
    val df = CacheScope.memo(spark, FrameKey("x"))(
      CacheScope.retain(Seq(1, 2, 3).toDF("x")))
    df.count()
    assert(df.storageLevel.useMemory || df.storageLevel.useDisk)
    assert(CacheScope.memoCount(spark) == 1)
    CacheScope.release(spark)
    assert(CacheScope.memoCount(spark) == 0, "the memo entry is evicted")
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("plan-identical retains persist once; release evicts both memo entries") {
    CacheScope.release(spark)
    val first = CacheScope.memo(spark, FrameKey("first"))(
      CacheScope.retain(Seq(1, 2, 3).toDF("x")))
    first.count()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // same canonicalized plan: must NOT create a second cache entry (the
    // CacheManager would WARN "already cached" and ignore it anyway)
    val again = CacheScope.memo(spark, FrameKey("again"))(
      CacheScope.retain(Seq(1, 2, 3).toDF("x")))
    again.count()
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore,
      "plan-identical retain must not add a cache entry")
    assert(CacheScope.memoCount(spark) == 2)
    CacheScope.release(spark)
    assert(CacheScope.memoCount(spark) == 0,
      "every entry over the shared frame is evicted on release")
    assert(first.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("a memo build that releases its own session returns its value, " +
    "stores nothing, and the next call rebuilds") {
    val s = spark.newSession()
    var builds = 0
    def build(release: Boolean): Int = {
      builds += 1
      if (release) CacheScope.release(s) // stands in for a concurrent one
      builds
    }
    assert(CacheScope.memo(s, IntKey("self"))(build(release = true)) == 1)
    assert(CacheScope.memoCount(s) == 0,
      "a value built across a release must not be stored")
    assert(CacheScope.memo(s, IntKey("self"))(build(release = false)) == 2,
      "the next call rebuilds")
    assert(CacheScope.memo(s, IntKey("self"))(build(release = false)) == 2,
      "a value built with no release in between is stored and served")
    CacheScope.release(s)
  }

  test("a memo build during which another session's retain auto-releases " +
    "this one stores nothing; the next call rebuilds") {
    val saved = CacheScope.maxSessions
    val (a, b) = (spark.newSession(), spark.newSession())
    import b.implicits._
    var builds = 0
    def build(): Int = { // b's retain pushes a out of the cap of 1
      builds += 1
      CacheScope.retain((1 to (10 + builds)).toDF("x")).count()
      builds
    }
    try {
      CacheScope.maxSessions = 1
      val auto0 = CacheScope.autoReleases.get()
      assert(CacheScope.memo(a, IntKey("cross"))(build()) == 1)
      assert(CacheScope.autoReleases.get() > auto0,
        "b's retain must auto-release a's scope mid-build")
      assert(CacheScope.memoCount(a) == 0,
        "a value built across an auto-release must not be stored")
      CacheScope.maxSessions = saved
      assert(CacheScope.memo(a, IntKey("cross"))(build()) == 2,
        "the next call rebuilds")
      assert(CacheScope.memoCount(a) == 1)
    } finally {
      CacheScope.maxSessions = saved
      Seq(a, b).foreach(CacheScope.release)
    }
  }

  test("release keeps a plan-identical frame ANOTHER session still " +
    "retains; the last scope out drops it (r13 soak fix)") {
    // the shared-CacheManager race the sf0.01 concurrency soak caught:
    // A caches, B's retain skips the re-persist (plan-identical hit),
    // A releases -> before the fix the shared data vanished under B
    // mid-operator (TiledScan's carry/main layout split)
    val a = spark.newSession()
    val b = spark.newSession()
    def frame(s: org.apache.spark.sql.SparkSession) = {
      val sq = s
      import sq.implicits._
      (1 to 1000).toDF("x")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("x"))
    }
    val fa = CacheScope.retain(frame(a))
    fa.count()
    val fb = CacheScope.retain(frame(b))
    assert(fb.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
    CacheScope.release(a)
    assert(fb.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE,
      "A's release must not unpersist the frame B still retains")
    assert(fb.count() == 1000)
    CacheScope.release(b)
    assert(fb.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "the last scope out must drop the shared data")
  }

  test("a throwing plan-identity comparison fails CLOSED: frame stays " +
    "cached, failure counted (r14 #4)") {
    val a = spark.newSession()
    val b = spark.newSession()
    val fa = { val s = a; import s.implicits._
      CacheScope.retain((1 to 100).toDF("x")) }
    fa.count()
    // plan-DISTINCT frame in another session, so release(a) must actually
    // evaluate the comparison against a non-empty `rest`
    val fb = { val s = b; import s.implicits._
      CacheScope.retain((1 to 7).toDF("y")) }
    fb.count()
    val before = CacheScope.compareFailures.get()
    CacheScope.compareHookForTests =
      Some((_, _) => throw new RuntimeException("forced comparison failure"))
    try CacheScope.release(a)
    finally CacheScope.compareHookForTests = None
    assert(CacheScope.compareFailures.get() == before + 1,
      "the forced throw must be counted")
    assert(fa.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "fail CLOSED: a frame whose shared-ness could not be determined " +
        "must stay cached, never be unpersisted-while-possibly-shared")
    // cleanup: drop the deliberately-leaked frame + b's scope
    fa.unpersist(blocking = true)
    CacheScope.release(b)
  }

  test("session high-water auto-releases the least-recently-active scope " +
    "(churn guard, r14 #3)") {
    val saved = CacheScope.maxSessions
    val sessions = (1 to 5).map(_ => spark.newSession())
    try {
      CacheScope.maxSessions = 3
      val auto0 = CacheScope.autoReleases.get()
      val frames = sessions.zipWithIndex.map { case (s, i) =>
        val sq = s
        import sq.implicits._
        // plan-distinct per session (distinct literal count) so refcount
        // sharing can't mask the eviction
        val f = CacheScope.memo(s, FrameKey(i))(
          CacheScope.retain((1 to (100 + i)).toDF("x")))
        f.count()
        f
      }
      val evicted = sessions.indices.filter(i =>
        CacheScope.memoCount(sessions(i)) == 0).toSet
      assert(CacheScope.sessionCount <= 3, "cap must hold")
      assert(CacheScope.autoReleases.get() == auto0 + 2,
        "two oldest scopes auto-released")
      assert(evicted == Set(0, 1), s"oldest-first victims, got $evicted")
      assert(frames(0).storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE,
        "evicted scope's frame must be unpersisted")
      assert(frames(4).storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE,
        "the newest scope must stay cached")
      // an evicted session still works — recompute, not a wrong answer
      assert(frames(0).count() == 100)
    } finally {
      CacheScope.maxSessions = saved
      sessions.foreach(CacheScope.release)
    }
  }

  test("a full dedup + indicator query pass leaves no pinned storage after release") {
    val sf = "/root/testdata/sf0.001"
    // delta vs baseline: other suites may hold their own (non-CacheScope)
    // test fixtures cached in the shared session
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    // both paths cache internally: docShingles (dedup) + finals (indicators)
    SparkEntry.queries("q_d_jaccard_pairs")(spark, sf).collect()
    SparkEntry.queries("q_w7_rsi_final")(spark, sf).collect()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- baseline).nonEmpty,
      "expected live caches mid-run")
    CacheScope.release(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- baseline).isEmpty,
      "caches still pinned after release")
    // memoized packs rebuild cleanly after eviction
    assert(SparkEntry.queries("q_w7_rsi_final")(spark, sf).collect().nonEmpty)
    CacheScope.release(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- baseline).isEmpty)
  }
}
