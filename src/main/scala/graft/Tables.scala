package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Loaders for the driver-generated testdata tables (see TESTDATA.md).
  * Every query receives the scale-factor directory at call time, so the same
  * code runs sf0.001 smoke, sf0.01 oracle, and sf0.1 bench unchanged — and,
  * on a real cluster, an arbitrarily large partitioned dataset (the reads are
  * plain parquet scans; Catalyst handles column pruning/predicate pushdown).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** r14 optimization (guide §1.2/§7.3 — driver-side work): assembling a
    * table frame costs 70–90 ms of DRIVER CPU (file listing, parquet
    * footer/schema read, plan construction — measured at r14; a traced
    * perfbench run reports it as `tables.load_ms`),
    * and the query surface re-creates each table's frame one to eight
    * times PER QUERY EXECUTION. The assembled frame is a LAZY plan:
    * reusing it recomputes from parquet on every action — nothing is
    * persisted and CacheScope is not involved, so this is a plan memo,
    * not result caching. Bounded LRU (access-order, cap 64): session
    * churn can pin at most 64 small plan objects; evicted or capped-out
    * sessions rebuild at the status-quo cost. Keyed by the path's mtime
    * stamp (in-place rewrites invalidate, same discipline as sizeCache/
    * dimChecked) and, for `embeddings`, the configured dim (the scan
    * filter is baked into the plan).
    */
  private val MaxPlanMemo = 64
  private val planMemo =
    new java.util.LinkedHashMap[(SparkSession, String, Long, Int),
        DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, Long, Int),
            DataFrame]): Boolean = size > MaxPlanMemo
    }

  /** Test hook: current plan-memo population (bounded-by-construction). */
  private[graft] def planMemoSize: Int =
    planMemo.synchronized { planMemo.size }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // The NTZ→TimestampType cast below interprets wall-clock micros in the
    // session timezone; oracle equivalence (DuckDB reads NTZ as naive UTC)
    // requires UTC. Every shipped entry point already sets it — pin it here
    // too (idempotent, like the nanosAsLong guard) so a non-UTC caller
    // cannot silently shift `ts` values (ADVICE r7). Runs on every call —
    // including plan-memo hits — because the NTZ cast reads the session
    // timezone at EXECUTION time, not at plan-build time.
    if (spark.conf.get("spark.sql.session.timeZone") != "UTC")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    val memoKey = (spark, path, pathStamp(spark, path),
      if (name == "embeddings") embeddingDim(spark) else 0)
    val hit = planMemo.synchronized { planMemo.get(memoKey) }
    if (hit != null) return hit
    val raw = if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some driver
      // testdata generations (which Spark 4 refuses natively) and plain
      // TIMESTAMP(MICROS) in others — dispatch on the footer schema, not
      // an assumption. Nanos are read as long and floor-truncated to
      // micros — the same value DuckDB produces (ns → us truncation) —
      // and NTZ micros are cast to the session-UTC instant type, so
      // downstream time functions and oracle SQL see identical `ts`
      // values either way. Conf is set once per session (idempotent
      // guard — no mutation race if queries ever run concurrently in one
      // session, VERDICT r1 #7).
      if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(path)
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts",
            expr("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    } else if (name == "embeddings") {
      // Scan-time vector validation (HostileInputProbe): a malformed
      // embedding row — null, empty, or off-dimension, i.e. a failed
      // upstream embed job — would kill every strict-length kernel
      // downstream (cosine_sim's length require, the ANSI emb[j]
      // accesses), and at 100 TB one bad row in 10^11 must not abort the
      // job. Dropping them HERE is one map-only codegen predicate fused
      // into the parquet scan (a no-op on validated corpora) and keeps
      // the kernels strict: a length mismatch past this point is a real
      // bug and should still throw. EmbeddingDim is a deployment
      // constant, like the model dim.
      val dim = embeddingDim(spark)
      val raw0 = spark.read.parquet(path)
      checkDimPlausible(spark, raw0, path, dim)
      raw0
        .where(org.apache.spark.sql.functions.col("embedding").isNotNull &&
          org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.col("embedding")) === dim)
    } else spark.read.parquet(path)
    val built = maybeParallelize(spark, raw, path)
    planMemo.synchronized { planMemo.put(memoKey, built) }
    built
  }

  /** The corpus embed dimension (the testdata fixture's FLOAT[64]).
    * Rows failing the `embeddings` scan validation against it are
    * dropped, not fatal. A deployment whose model embeds at a different
    * dim sets `graft.embedding.dim` on the session — otherwise a valid
    * 128-dim corpus would be silently filtered to zero rows. The oracle
    * harness mirrors the same predicate on its `embeddings` view
    * (scripts/check_oracle.py), so engine and oracle always read the
    * same validated row set.
    */
  val EmbeddingDim = 64

  def embeddingDim(spark: SparkSession): Int =
    spark.conf.getOption("graft.embedding.dim").map(_.toInt)
      .getOrElse(EmbeddingDim)

  /** Loud-failure guard for the scan-time validation above (ADVICE r12):
    * a corpus whose TRUE dim disagrees with the configured one would be
    * silently filtered to zero rows everywhere — a deployment
    * misconfiguration masquerading as empty data. Sample a handful of
    * rows from the raw scan once per (path, dim) per JVM; if the sample
    * is non-empty and NOT ONE row matches the configured dim, fail with
    * a message naming both sides. A mixed corpus (valid rows + hostile
    * malformed rows) still passes — any single matching row clears the
    * probe — so this never rejects what the filter is designed to clean.
    * Cost: one LIMIT-64 single-partition job per distinct (path, dim),
    * memoized; independent of corpus size (no full scan at 100 TB).
    */
  private val dimChecked =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Long), Boolean]

  private def checkDimPlausible(spark: SparkSession, raw: DataFrame,
      path: String, dim: Int): Unit =
    dimChecked.getOrElseUpdate((path, dim, pathStamp(spark, path)), {
      import org.apache.spark.sql.functions.{col, size}
      val sizes = raw.where(col("embedding").isNotNull)
        .select(size(col("embedding")).as("n")).limit(64)
        .collect().map(_.getInt(0))
      if (sizes.nonEmpty && !sizes.contains(dim)) {
        // A bad HEAD does not prove a bad corpus (review r13): before
        // failing, look for any matching row beyond the sampled prefix.
        // On a genuinely misconfigured corpus this second probe scans to
        // the end — acceptable on the error path, where the alternative
        // is silently returning zero rows everywhere; on a mixed corpus
        // it stops at the first valid row.
        val anyValid = raw
          .where(size(col("embedding")) === dim).limit(1).count() > 0
        if (!anyValid) {
          val seen = sizes.distinct.sorted.take(5).mkString(", ")
          throw new IllegalStateException(
            s"embeddings at $path: configured dim $dim (graft.embedding.dim" +
              s"${if (spark.conf.getOption("graft.embedding.dim").isEmpty) " unset, default" else ""})" +
              s" matches no row (first ${sizes.length} observed sizes: " +
              s"$seen) — every row would be dropped by scan validation; " +
              "set graft.embedding.dim to the corpus dim")
        }
      }
      true
    })

  /** Directory/file modification stamp: one cheap getFileStatus per table
    * load, so the size and dim memos below invalidate when the path is
    * REWRITTEN in-place (probe corpora, test fixtures) instead of serving
    * a stale verdict (review r13). Unresolvable path → 0 (the scan will
    * fail with its own error).
    */
  private[graft] def pathStamp(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    catch { case _: java.io.IOException => 0L }
  }

  /** Total content length under `path` (a file or a directory tree),
    * through the Hadoop FileSystem, so `hdfs://`, `s3a://` and `file:`
    * paths (and directory-style parquet) report their true length, where
    * java.io.File returns 0 or 4K. None when the path does not resolve.
    */
  private[graft] def contentBytes(path: String,
      conf: org.apache.hadoop.conf.Configuration): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      Some(p.getFileSystem(conf).getContentSummary(p).getLength)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The driver testdata ships ONE row group per file, so a bare scan is
    * one task no matter how many cores the session has — per-row map work
    * (JSON parse, language-ID, MinHash/SimHash/LSH signatures) and
    * map-side partial aggregation would run 1-of-32. Repartition to the
    * session parallelism when the file is below one default split
    * (decided from file size — no plan materialization). On a real
    * deployment inputs span many row groups (partitions ≫ cores) and
    * this is a no-op; Catalyst still pushes filters through the
    * repartition into the scan.
    *
    * r14 (guide §2.5): the spread key is `xxhash64(<table id column>)`,
    * not round-robin. A keyless `repartition(n)` first SORTS the whole
    * scan task's output (`spark.sql.execution.sortBeforeRepartition`,
    * deliberately left on — turning it off risks row loss/duplication
    * under fetch-failure retries, SPARK-38388) — measured 1.6 s vs 0.9 s
    * for a bare lineitem pass at sf0.1, paid by every consumer of every
    * small table. Hashing the table's id column is deterministic per ROW
    * (retry- and speculation-stable without any sort; re-proven by
    * RetryProbe), spreads as evenly as round-robin for unique ids, and —
    * unlike hashing all columns — keeps column pruning below the
    * exchange intact (only the id column is pinned into the shuffle).
    */
  private val sizeCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Long]

  /** Unique-id spread column per table (see maybeParallelize). */
  private val spreadKey = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** r15 (guide §2.1/§2.6, VERDICT r14 #1): the spread width is SIZE-AWARE
    * instead of always `defaultParallelism`. Width = cores made task count
    * scale linearly with cores over constant tiny data, so fixed per-task
    * and per-stage overhead scaled with the core count — the driver's r14
    * bench ran the whole sf0.1 suite 2.2× SLOWER at local[32] than at
    * local[8] (162.5 s vs 72.5 s), every per-query scaling ratio < 1.
    * Now each spread task gets a floor of [[SpreadChunkBytes]] (1 MiB of
    * parquet) of input, weighted by the table's per-row
    * kernel cost class, and the width is capped at `defaultParallelism`:
    * width grows with DATA, not with cores. A table that fits one chunk
    * is not repartitioned at all (no exchange — a 2 KB dim table never
    * benefits from 32 tasks). On a real deployment (inputs above one
    * split) the whole branch is a no-op, exactly as before.
    *
    * The per-table weights compensate for per-ROW work that file bytes
    * under-state: `documents` feeds shingling/MinHash/tokenize kernels
    * (orders of magnitude more CPU per byte than a columnar aggregate),
    * `embeddings` dense vector math, `events` JSON/regex parsing. Weights
    * and the chunk size are deployment constants like [[EmbeddingDim]]
    * (tables without a weight count 1). Measured at sf0.1
    * (idle host, this round): bench total 119.2 s → see OPTIMIZATION_r15
    * for the after numbers at 32 and 8 cores.
    */
  private val workWeight = Map(
    "documents" -> 32L, "embeddings" -> 8L, "events" -> 4L)
  private val SpreadChunkBytes = 1L << 20

  private def maybeParallelize(spark: SparkSession, df: DataFrame,
      path: String): DataFrame = {
    // Unresolvable path → Long.MaxValue: the scan will fail with its own
    // error, without adding a shuffle here. Keyed by (path, mtime stamp)
    // so an in-place rewrite invalidates the memo (review r13) while
    // repeat loads stay one cheap RPC.
    val bytes = sizeCache.getOrElseUpdate((path, pathStamp(spark, path)),
      contentBytes(path, spark.sparkContext.hadoopConfiguration)
        .getOrElse(Long.MaxValue))
    if (bytes < 32L * 1024 * 1024) {
      import org.apache.spark.sql.functions.{col, xxhash64}
      val name = path.split('/').last.stripSuffix(".parquet")
      val eff = bytes * workWeight.getOrElse(name, 1L)
      val n = math.min(spark.sparkContext.defaultParallelism.toLong,
        math.max(1L, (eff + SpreadChunkBytes - 1) / SpreadChunkBytes)).toInt
      if (n <= 1) df // one chunk of work: spreading it is pure overhead
      else spreadKey.get(name).filter(df.columns.contains) match {
        case Some(k) => df.repartition(n, xxhash64(col(k)))
        case None => df.repartition(n) // unknown table: round-robin
      }
    } else df
  }

  /** Register every table as a temp view (so `spark.sql` text mirrors the
    * DuckDB oracle text, SURVEY §3.3) plus the engine's native SQL
    * functions (rolling_hash, cosine_sim, …) on the session.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    all.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
    graft.GraftExtensions.register(spark)
    registeredDir.synchronized {
      registeredDir.put(spark, sfDir)
    }
    registrations.incrementAndGet()
  }

  /** Test hook: `registerAll` calls in this JVM. */
  private[graft] val registrations = new java.util.concurrent.atomic.AtomicLong

  // Weak-keyed (ADVICE r3): a strong SparkSession key would pin every
  // session a long-lived multi-session service ever registered. Access is
  // synchronized on the map — WeakHashMap is not thread-safe.
  private val registeredDir =
    new java.util.WeakHashMap[SparkSession, String]()

  /** Once-per-session view registration — `registerAll` is idempotent but
    * re-resolves ten parquet footers per call, which the q_sql_* queries
    * would otherwise pay on every execution. Tracks the CURRENT dir per
    * session (not a seen-set): switching it re-registers, so views always
    * reflect the most recent call. A
    * sentinel `tableExists` probe catches a caller dropping the temp
    * views out from under the memo (registration is then redone, not
    * skipped).
    */
  def ensureRegistered(spark: SparkSession, sfDir: String): Unit = {
    val hit = registeredDir.synchronized {
      Option(registeredDir.get(spark)).contains(sfDir)
    }
    if (!hit || !spark.catalog.tableExists(all.head)) registerAll(spark, sfDir)
  }

  /** S7: driver-rows→frame adapter (reference data_loader.py:232-265 —
    * building a frame from fetched storage rows). Declared schema, no
    * inference; the entry point tests and small fixtures go through.
    */
  def fromRows(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row],
      ddl: String): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))
}
