package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Registry of cached DataFrames with an explicit release point.
  *
  * Query builders legitimately cache frames that several consumers (or
  * several branches of one plan) re-read — but a builder returns a lazy
  * DataFrame, so it can never know when the consuming action finished. An
  * unmanaged `.cache()` therefore pins executor storage for the session
  * lifetime (VERDICT r2 #4 / ADVICE r2): across a 78-query bench run that
  * accumulates a shingle index per dedup query plus the indicator/overlay
  * session caches.
  *
  * The contract: builders call [[retain]] instead of `.cache()`; whoever
  * drives actions (Bench and Verify per run, a long-lived service at
  * request boundaries, tests in teardown) calls [[release]] when done.
  * Frames are persisted MEMORY_AND_DISK — at corpus scale, spilling a
  * reused intermediate beats recomputing it, and storage never OOMs the
  * executor.
  *
  * The same boundary ends every request-scoped memo ([[memo]]). Its
  * contract: keys are case classes extending [[Key]], one per memo site,
  * never joined strings (a DataFrame field compares by reference, as
  * Dataset does not override `equals`); a session's entries are evicted
  * at its [[release]], the high-water auto-release included; and no entry
  * is stored across a release: a value whose build overlapped a release
  * of its session is returned but not kept, so the next call rebuilds.
  * Memos meant to outlive a release (the plan, registration, size and
  * dim memos) stay in `Tables`.
  */
object CacheScope {

  /** A memo key whose entry holds a `V` (case-class equality). */
  trait Key[V] extends Product

  /** What one session holds until its next [[release]], which drops the
    * whole object from [[scopes]]. A memo build stores into the Scope it
    * started in, so a value built across a release lands in an
    * unreachable object: the release closes the race by construction.
    */
  private final class Scope {
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val memos = scala.collection.mutable.HashMap.empty[Key[_], Any]
  }

  /** Least-recently-retaining session first (the auto-release order). */
  private val scopes =
    scala.collection.mutable.LinkedHashMap.empty[SparkSession, Scope]

  /** Session-churn guard (VERDICT r13 #3): scopes hold STRONG session +
    * frame references — they must, or release could not
    * deterministically unpersist — so a caller that creates a session
    * per request and forgets [[release]] would grow this registry (and
    * its memo entries) without bound. There is no
    * session-closed signal to hook (child sessions are abandoned by
    * dropping references, and any weak-reference scheme is defeated by
    * the entry's own frame→session strong edge), so the guard is an
    * explicit high-water: when more than [[maxSessions]] distinct
    * sessions hold live scopes, [[retain]] auto-releases the
    * least-recently-RETAINING session's whole scope, loudly. Retains are
    * the only activity signal this registry sees: a long-lived session
    * that retained once at startup and has served reads ever since looks
    * idle here and is evicted before leaked request-scoped sessions that
    * retained more recently — its cost is a recompute (layout-pinned,
    * never a wrong answer), and it can refresh its slot by re-retaining
    * at any request boundary. Safe by the
    * r14 layout-pinning construction: an eviction under a still-running
    * query is a recompute, never a wrong answer — and plan-identical
    * frames other sessions share survive via the release refcount. Far
    * above any legitimate concurrent fan-out (Bench/Verify use one
    * session; the soak uses 8); a service that trips it has leaked ~64
    * scopes and gets bounded memory plus a recompute tax instead of an
    * OOM.
    */
  private[graft] val DefaultMaxSessions = 64
  @volatile private[graft] var maxSessions: Int = DefaultMaxSessions

  /** Count of high-water auto-releases (observability + probe assert). */
  private[graft] val autoReleases =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Persist `df` and register it for the next [[release]] of its session.
    *
    * Idempotent on plan-identical frames: when a frame with the same
    * canonicalized plan is already cached (`df.storageLevel` does that
    * CacheManager lookup), the re-persist is skipped — composed queries
    * routinely retain a frame one of their building blocks already
    * retained (e.g. a pair miner's shingle index flowing into the
    * group-collapse queries), and re-persisting only emits a CacheManager
    * "already cached" WARN per occurrence. The frame is still registered
    * under this session, so the release refcount below sees it.
    */
  def retain(df: DataFrame): DataFrame = synchronized {
    val cached =
      if (df.storageLevel == StorageLevel.NONE)
        df.persist(StorageLevel.MEMORY_AND_DISK)
      else df
    touchLocked(df.sparkSession).frames += cached
    cached
  }

  /** The value under `key` in `s`'s scope, else `build`'s result, kept
    * until the next [[release]] of `s` unless one ran during the build.
    * `build` runs outside the lock, so sessions never serialize and a
    * build may call [[memo]] and [[retain]] itself. Concurrent misses on
    * one key both build; the first value stored is returned to both.
    */
  def memo[V](s: SparkSession, key: Key[V])(build: => V): V = {
    val (scope, hit) = synchronized {
      val sc = scopes.getOrElse(s, touchLocked(s))
      (sc, sc.memos.get(key))
    }
    hit.getOrElse {
      val v = build
      synchronized(scope.memos.getOrElseUpdate(key, v))
    }.asInstanceOf[V]
  }

  /** `s`'s scope (created if absent), moved to the most-recent end;
    * above the high-water mark, auto-releases the oldest OTHER scopes.
    */
  private def touchLocked(s: SparkSession): Scope = {
    val scope = scopes.remove(s).getOrElse(new Scope)
    scopes.put(s, scope)
    var victim = scopes.keysIterator.find(_ ne s) // the oldest other one
    while (scopes.size > maxSessions && victim.isDefined) {
      autoReleases.incrementAndGet()
      System.err.println(
        s"[CacheScope] more than $maxSessions sessions hold live " +
          "retains — auto-releasing the least-recently-RETAINING " +
          "session's scope (a caller is creating sessions without " +
          "calling CacheScope.release at its request boundary; its " +
          "frames recompute if still in use)")
      releaseLocked(victim.get)
      victim = scopes.keysIterator.find(_ ne s)
    }
    scope
  }

  /** Test hook (ConcurrencySpec): live retained-frame count for `s` —
    * 0 after [[release]] proves per-session cleanup under concurrency.
    */
  private[graft] def liveCount(s: SparkSession): Int =
    synchronized { scopes.get(s).fold(0)(_.frames.size) }

  /** Test/probe hook: distinct sessions currently holding a scope. */
  private[graft] def sessionCount: Int = synchronized { scopes.size }

  /** Test/probe hooks: memo entries of `s`, and of every live scope. */
  private[graft] def memoCount(s: SparkSession): Int =
    synchronized { scopes.get(s).fold(0)(_.memos.size) }
  private[graft] def memoCount: Int =
    synchronized { scopes.valuesIterator.map(_.memos.size).sum }

  /** Observability for [[release]]'s fail-closed path (VERDICT r13 #4 /
    * ADVICE r13): a nonzero count means plan-identity comparison threw
    * and a frame was deliberately LEFT CACHED rather than risk
    * unpersisting one a live scope shares. Monitored, a silent regression
    * of the r13 race fix becomes visible instead of racy.
    */
  private[graft] val compareFailures =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Test hook: override the plan-identity comparison to force its error
    * path (there is no natural way to make `sameResult` throw on an
    * already-analyzed frame). None = the real comparison.
    */
  @volatile private[graft] var compareHookForTests
      : Option[(DataFrame, DataFrame) => Boolean] = None

  /** Unpersist (blocking, so storage-empty assertions are deterministic)
    * every frame registered under `s` and drop its memo entries.
    *
    * Plan-identical frames are REFERENCE-COUNTED across sessions (r13,
    * found by the sf0.01 whole-surface concurrency soak): Spark's
    * CacheManager is keyed by canonicalized plan and shared by every
    * `newSession()` child, so [[retain]] skips re-persisting a frame
    * another session already cached — which meant that session's release
    * could unpersist data a LIVE scope still depended on. For most
    * consumers that is only a recompute; for the ordered-scan family it
    * is a CORRECTNESS break: TiledScan collects its per-tile carry in
    * one job and applies it in a second, relying on the cached
    * InMemoryRelation to pin the physical partition layout between the
    * two — an unpersist in the gap makes the main pass re-plan with
    * freshly SAMPLED range bounds (RangePartitioner's sketch seed varies
    * by rdd id), shifting tiles under a carry map built for the old
    * layout (observed: q_w_rolling_corr boundary rows wrong under the
    * 8-session soak). Release therefore skips the unpersist while any
    * other live entry retains a plan-identical frame; the LAST scope out
    * drops the data (CacheManager uncaches by plan, so whichever entry
    * performs it clears the shared registration).
    *
    * SCOPE of the guard: it protects plan-identical TOP-LEVEL retained
    * frames only — a live plan that consumes the shared InMemoryRelation
    * as a SUBTREE is not seen by this comparison. Since r14 that
    * narrowness is a performance note, not a correctness one: the
    * ordered-scan family pins its tile layout by construction
    * ([[graft.ops.TiledScan]] — one RDD instance for carry and main
    * pass), so any eviction this guard misses costs a recompute, never a
    * wrong answer.
    *
    * A comparison that THROWS fails CLOSED (VERDICT r13 #4): the frame is
    * left cached (worst case a leak until the last scope's clearCache),
    * never unpersisted-while-possibly-shared — the silent-regression form
    * of the r13 race. The path logs loudly and bumps [[compareFailures]].
    */
  def release(s: SparkSession): Unit = synchronized { releaseLocked(s) }

  private def releaseLocked(s: SparkSession): Unit =
    scopes.remove(s).foreach { scope =>
      val rest = scopes.valuesIterator.flatMap(_.frames).toSeq
      scope.frames.foreach { df =>
        val sharedElsewhere =
          try {
            val same = compareHookForTests.getOrElse {
              (a: DataFrame, b: DataFrame) =>
                a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)
            }
            rest.exists { o => (o eq df) || same(o, df) }
          } catch {
            case t: Throwable =>
              compareFailures.incrementAndGet()
              System.err.println(
                "[CacheScope] plan-identity comparison threw during release" +
                  s" — failing CLOSED (frame left cached): $t")
              true
          }
        if (!sharedElsewhere)
          try df.unpersist(blocking = true) catch { case _: Throwable => () }
      }
    }
}
