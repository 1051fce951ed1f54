package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted bucketed+sorted layout for the hot time-series table — the
  * SURVEY §4 "sort elimination" row upgraded from accepted-cost to done.
  *
  * The reference leans on Cassandra clustering (`Basic_tables.sh:16,32` —
  * `CLUSTERING ORDER BY (time DESC)`): rows arrive pre-partitioned by key
  * and pre-sorted by time, so per-key scans and latest-N reads never
  * sort. The Spark-native equivalent is a bucketed table: pay ONE
  * layout shuffle at write time, then
  *
  *  - key-equality filters prune to a single bucket's files
  *    (`SelectedBucketsCount: 1 out of N` in the scan),
  *  - per-key aggregations reuse the bucket hash-partitioning — no
  *    Exchange before the agg,
  *  - windows ordered `(key, ts, ...)` reuse the on-disk sort order —
  *    no Exchange AND no Sort (the scan's outputOrdering satisfies the
  *    window's requirement when each bucket is one sorted file),
  *  - two tables bucketed on the same key sort-merge-join with neither
  *    shuffle nor sort (BucketingSpec proves that shape).
  *
  * At 100 TB this is the difference between every per-user query paying
  * the events-table shuffle and paying it once at ingest: the layout
  * write IS the shuffle, amortized over every query that follows.
  */
object BucketedLayout {

  val NBuckets = 8

  /** JVM-global built-table memo, keyed by catalog table NAME. The
    * catalog entry and the warehouse files are SHARED across
    * `spark.newSession()` children (SharedState), so the memo must be
    * too: a per-session memo let a second concurrent session miss its
    * own memo, see the table in the shared catalog, and DROP+rebuild it
    * out from under the first session mid-read (found writing the r13
    * ConcurrencySpec). Build-or-reuse runs under one lock; reuse is
    * sound because the build is deterministic from (sfDir, spec) AND the
    * name now embeds the source corpus' identity: a fingerprint of the
    * FULL sfDir string (two dirs differing only in non-alphanumeric
    * chars no longer alias to one table) and the source file's mtime
    * stamp (an in-place /tmp probe-corpus rewrite mints a NEW table name,
    * so a stale bucketed layout can never serve a rewritten corpus —
    * ADVICE r13, medium). A new JVM rebuilds (in-memory catalog does not
    * persist table metadata — on a real deployment this is a real
    * metastore table written by the ingest job, not per-run).
    */
  private val built = scala.collection.concurrent.TrieMap.empty[String, Unit]
  private val buildLock = new Object

  /** Last built name per (prefix, sfDir): when a corpus rewrite mints a
    * new stamped name, the superseded table is dropped so the shared
    * warehouse does not accumulate one orphan layout per rewrite.
    */
  private val current =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  /** Idempotently persist `events` bucketed by `user_id` into [[NBuckets]]
    * buckets, each bucket ONE file sorted by `(user_id, ts, event_id)`,
    * and return the catalog table name. One file per bucket matters: the
    * scan only reports its outputOrdering (enabling sort elimination)
    * when no per-bucket merge is needed, so the writer repartitions on
    * the bucket expression first — the repartition hash and the bucket
    * hash are both Murmur3 on `user_id`, so every task holds exactly one
    * bucket's rows.
    */
  def ensureEventsByUser(spark: SparkSession, sfDir: String): String =
    ensureBucketedTable(spark,
      namePrefix = "events_by_user_", sfDir = sfDir,
      sortCols = Seq("user_id", "ts", "event_id")) {
      graft.Tables(spark, sfDir, "events")
    }

  /** Shared scaffold for the layout's bucketed tables: JVM-memoized
    * (shared catalog — see [[built]]), stale-location-safe, one sorted
    * file per bucket on `bucketCol` into
    * [[NBuckets]] buckets. One file per bucket matters: the scan only
    * reports its outputOrdering (enabling sort elimination) when no
    * per-bucket merge is needed, so the writer repartitions on the bucket
    * expression first — the repartition hash and the bucket hash are both
    * Murmur3 on `bucketCol`, so every task holds exactly one bucket's
    * rows.
    */
  private def ensureBucketedTable(spark: SparkSession,
      namePrefix: String, sfDir: String, sortCols: Seq[String],
      bucketCol: String = "user_id")(
      build: => DataFrame): String = {
    // autoBucketedScan only credits exchange-elimination: a pruning-only
    // query (filter on the bucket key, no join/agg) gets its bucketed
    // read DISABLED by the planner ("Bucketed: false"), which also drops
    // bucket pruning — the exact benefit S5-style point reads need. Pin
    // it off for sessions using this layout (idempotent; only affects
    // bucketed-table scans, and every bucketed read here wants its
    // bucketing honored).
    // Second flag: since 3.0 the scan does not CLAIM its on-disk sort
    // order unless it is on (multiple files per bucket would need a merge
    // the scan doesn't do). The claim is only made when each bucket is at
    // most one file — exactly what the writer below guarantees — so
    // enabling it is sound here and is what turns the window's Sort into
    // a no-op.
    configureBucketedScans(spark)
    // Corpus-identity suffix (ADVICE r13, medium): fingerprint the FULL
    // sfDir (no sanitize-aliasing across dirs) plus the source file's
    // mtime stamp, so an in-place corpus rewrite gets a fresh table name
    // instead of a stale memoized layout.
    val stamp = graft.Tables.pathStamp(spark, s"$sfDir/events.parquet")
    val fp = java.lang.Integer.toUnsignedString(
      scala.util.hashing.MurmurHash3.stringHash(s"$sfDir@$stamp"), 16)
    val name = namePrefix +
      sfDir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "") + "_" + fp
    // fast path outside the lock: built by this JVM and still cataloged
    if (built.contains(name) && spark.catalog.tableExists(name)) return name
    buildLock.synchronized {
      // re-check under the lock — another session may have just built it
      if (built.contains(name) && spark.catalog.tableExists(name)) name
      else {
        // a superseded stamp's layout for the same (prefix, dir) is dead
        // weight in the shared warehouse — drop it before building anew
        current.get((namePrefix, sfDir)).filter(_ != name).foreach { old =>
          spark.sql(s"DROP TABLE IF EXISTS $old")
          built.remove(old)
        }
        // ... and so are orphans left by PREVIOUS JVMs: the in-memory
        // `current` map dies with its JVM, but warehouse directories
        // persist, so a corpus rewrite + restart would otherwise strand
        // one stale layout per (rewrite x restart). Sweep the warehouse
        // for same-base names with a different stamp, sparing any name a
        // live same-JVM memo owns (two dirs can sanitize to one base and
        // must not clobber each other's current layout). Sequential-JVM
        // only, like every plain-parquet rewrite here (single
        // maintenance-writer contract, SCALE.md).
        val base = namePrefix +
          sfDir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "") + "_"
        val wh = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"))
        val whFs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (whFs.exists(wh)) {
          val liveNames = current.values.toSet + name
          whFs.listStatus(wh).iterator
            .filter(_.isDirectory)
            .map(_.getPath.getName)
            .filter(n => n.startsWith(base) &&
              n.drop(base.length).matches("[0-9a-f]+") &&
              !liveNames.contains(n))
            .foreach { orphan =>
              spark.sql(s"DROP TABLE IF EXISTS $orphan")
              built.remove(orphan)
              whFs.delete(new org.apache.hadoop.fs.Path(wh, orphan), true)
            }
        }
        // A fresh JVM's in-memory catalog forgets the table while the
        // warehouse directory persists on disk — saveAsTable then fails
        // LOCATION_ALREADY_EXISTS. Drop any catalog entry AND the stale
        // location before rebuilding (a real metastore deployment keeps
        // the metadata and never enters this branch).
        spark.sql(s"DROP TABLE IF EXISTS $name")
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), name)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        build
          .repartition(NBuckets, col(bucketCol))
          .write
          .bucketBy(NBuckets, bucketCol)
          .sortBy(sortCols.head, sortCols.tail: _*)
          .mode(SaveMode.Overwrite)
          .saveAsTable(name)
        built.put(name, ())
        current.put((namePrefix, sfDir), name)
        name
      }
    }
  }

  /** The two scan flags the layout's plan-shape claims depend on (see
    * [[ensureEventsByUser]] for why each is sound here). Idempotent;
    * callers building their own co-bucketed tables use this too.
    *
    * CONTRACT — these are SESSION-GLOBAL flags, sound only under the
    * invariant this layer maintains (one sorted file per bucket, enforced
    * by the repartition-before-bucketBy write and restored by
    * [[compactBuckets]]): `autoBucketedScan=false` removes the planner's
    * freedom to fall back to a non-bucketed scan, and the legacy
    * `outputOrdering=true` trusts each bucket's file order. A session
    * that ALSO reads an unrelated bucketed table with many unsorted files
    * per bucket would lose auto-scan adaptivity on it and must not assume
    * its ordering — call sites mixing foreign bucketed tables should
    * restore the defaults around those reads.
    */
  def configureBucketedScans(spark: SparkSession): Unit = {
    val k = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    if (spark.conf.get(k, "true") != "false") spark.conf.set(k, "false")
    val k2 = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    if (spark.conf.get(k2, "false") != "true") spark.conf.set(k2, "true")
  }

  /** Bucket id encoded in a bucketed data file's name (the writer's
    * `part-00000-<uuid>_00003.c000.snappy.parquet` convention — the scan
    * parses the same suffix to route files to bucket partitions).
    */
  private val BucketedName = """.*_(\d+)(?:\..*)?$""".r

  private def bucketIdOf(name: String): Int = name match {
    case BucketedName(id) => id.toInt
    case _ => sys.error(s"not a bucketed data file name: $name")
  }

  /** One bucket's file health inside a bucketed table's directory. */
  final case class BucketState(bucket: Int, nFiles: Int, bytes: Long)

  private def tableMeta(spark: SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))

  private def dataFiles(spark: SparkSession, table: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path,
         Array[org.apache.hadoop.fs.FileStatus]) = {
    val loc = new org.apache.hadoop.fs.Path(tableMeta(spark, table).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(loc).filter(Compaction.isDataFile)
    (fs, loc, files)
  }

  /** Per-bucket file count and bytes — the input to a compaction-cadence
    * decision. Driver cost is one directory listing, O(#files).
    */
  def bucketState(spark: SparkSession, table: String): Seq[BucketState] = {
    val (_, _, files) = dataFiles(spark, table)
    files.groupBy(f => bucketIdOf(f.getPath.getName)).toSeq
      .map { case (b, fs) => BucketState(b, fs.length, fs.map(_.getLen).sum) }
      .sortBy(_.bucket)
  }

  /** Append a delta into an existing bucketed+sorted table (the ingest
    * half of the layout lifecycle). The write honors the table's bucket
    * spec — every appended file carries its bucket id, so BUCKET PRUNING
    * and the join/agg partitioning claims survive the append untouched.
    * What degrades, by design, is the SORT claim: a bucket now holds >1
    * file, the scan stops reporting its on-disk order (it would need a
    * merge), and per-key window plans regain a Sort until
    * [[compactBuckets]] restores the one-file invariant. Results stay
    * correct throughout — the layout trades plan COST, never answers.
    *
    * The delta is clustered on the bucket expression first so each task
    * holds exactly one bucket's rows: one appended file per touched
    * bucket per batch, not one per (task × bucket).
    */
  def appendDelta(spark: SparkSession, table: String,
      delta: DataFrame): Unit = {
    val spec = tableMeta(spark, table).bucketSpec.getOrElse(
      sys.error(s"$table is not bucketed"))
    val cols = spark.table(table).columns
    delta.select(cols.map(col): _*)
      .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
      .write.mode(SaveMode.Append).insertInto(table)
  }

  /** Restore the one-sorted-file-per-bucket contract after appends: for
    * each bucket holding >1 file, read JUST that bucket's files, re-sort
    * on the table's sort columns, and swap in a single correctly-named
    * bucketed file. O(unhealthy buckets) rewrites touching only those
    * buckets' bytes; healthy buckets are never read or written. The
    * per-bucket rewrites run serially here (bounded by the bucket count,
    * a config constant — 8); a production maintenance job runs them
    * concurrently, and on a transactional format this whole method is
    * OPTIMIZE. Swap order is add-then-delete: a concurrent reader may
    * briefly see duplicates — same single-maintenance-writer contract as
    * every plain-parquet rewrite in this repo (SCALE.md).
    */
  def compactBuckets(spark: SparkSession, table: String): Compaction.Report = {
    val spec = tableMeta(spark, table).bucketSpec.getOrElse(
      sys.error(s"$table is not bucketed"))
    val (fs, loc, files) = dataFiles(spark, table)
    val byBucket = files.groupBy(f => bucketIdOf(f.getPath.getName))
    val unhealthy = byBucket.filter(_._2.length > 1).toSeq.sortBy(_._1)
    if (unhealthy.isEmpty)
      return Compaction.Report(byBucket.size, 0, 0, 0, 0L)
    val sortCols = (spec.bucketColumnNames ++ spec.sortColumnNames)
      .distinct.map(col)
    unhealthy.foreach { case (b, old) =>
      val tmp = new org.apache.hadoop.fs.Path(loc, f".compact_tmp_$b%05d")
      spark.read.parquet(old.map(_.getPath.toString): _*)
        .repartition(1)
        .sortWithinPartitions(sortCols: _*)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val written = fs.listStatus(tmp).filter(Compaction.isDataFile)
      require(written.length == 1, s"expected one compacted file for bucket $b")
      val name = f"part-00000-${java.util.UUID.randomUUID()}_$b%05d" +
        ".c000.snappy.parquet"
      val dst = new org.apache.hadoop.fs.Path(loc, name)
      // a FileSystem may refuse a rename by returning false: the bucket's
      // old files are its only copy until the compacted file is in place
      require(fs.rename(written.head.getPath, dst),
        s"bucket compaction: rename ${written.head.getPath} -> $dst returned false")
      old.foreach(f => fs.delete(f.getPath, false))
      fs.delete(tmp, true)
    }
    spark.catalog.refreshTable(table)
    Compaction.Report(
      partitionsScanned = byBucket.size,
      partitionsCompacted = unhealthy.size,
      filesBefore = unhealthy.map(_._2.length).sum,
      filesAfter = unhealthy.size,
      bytesRewritten = unhealthy.map(_._2.map(_.getLen).sum).sum)
  }

  /** S5 on the clustered layout: latest-N events for one user. The
    * `user_id = ?` predicate prunes the scan to ONE bucket's file
    * (`SelectedBucketsCount: 1 out of 8`) — the other 7/8ths of the
    * table are never opened, the Cassandra partition-key read path
    * re-expressed as bucket pruning. Returns the `(ts, event_id)`-desc
    * ordered, limited frame — the ordering is load-bearing (LIMIT without
    * a total order would be nondeterministic and break the hash oracle).
    */
  def latestN(spark: SparkSession, sfDir: String, userId: Long,
      n: Int): DataFrame = {
    val t = ensureEventsByUser(spark, sfDir)
    spark.table(t)
      .where(col("user_id") === userId)
      .select("event_id", "ts", "event_type", "value")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(n)
  }

  /** Companion dimension table for the co-located join: per-user value
    * tiers derived from orders-style spend, bucketed on the SAME key with
    * the SAME bucket count as the events layout. Co-bucketing is the
    * whole point — equal (nBuckets, key) lets the join run bucket-to-
    * bucket with no shuffle on either side, and one sorted file per
    * bucket removes the SMJ's sorts too.
    */
  def ensureUserTiers(spark: SparkSession, sfDir: String): String =
    ensureBucketedTable(spark,
      namePrefix = "user_tiers_", sfDir = sfDir,
      sortCols = Seq("user_id")) {
      // DECIMAL-exact spend (the VWAP discipline): the tier cuts are
      // threshold compares, and a float sum's order-dependent last
      // bits could flip a user sitting exactly on a boundary between
      // engines / partitionings. Decimal sums are order-free exact.
      graft.Tables(spark, sfDir, "events")
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase",
          col("value").cast(org.apache.spark.sql.types.DecimalType(28, 4)))
          .otherwise(lit(0).cast(
            org.apache.spark.sql.types.DecimalType(28, 4)))).as("spend"))
        .withColumn("tier",
          when(col("spend") >= 1000, lit("gold"))
            .when(col("spend") >= 100, lit("silver"))
            .otherwise(lit("bronze")))
        .select(col("user_id"), col("spend").cast("double").as("spend"),
          col("tier"))
    }

  /** The co-located fact⋈dim join: events and user tiers are bucketed on
    * the same (key, nBuckets), so the sort-merge join runs bucket-to-
    * bucket with NO Exchange on either side and NO Sort (both scans
    * report their on-disk order) — the standing shuffle a 100 TB
    * per-user enrichment would otherwise pay on every run, paid once at
    * layout-write time instead. Returns per-tier purchase rollups.
    */
  def tierSpend(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = spark.table(ensureEventsByUser(spark, sfDir))
    val tiers = spark.table(ensureUserTiers(spark, sfDir))
    ev.where(col("event_type") === "purchase")
      .join(tiers, "user_id")
      .groupBy("tier")
      .agg(
        count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"),
        (round(sum(col("value").cast(
          org.apache.spark.sql.types.DecimalType(28, 4))).cast("double"), 2)
          + lit(0.0)).as("revenue"))
  }

  /** Per-user activity profile fused with inter-event gap analysis in ONE
    * exchange-free, sort-free plan: the window (`user_id` partition,
    * `(ts, event_id)` order) is satisfied by the scan's bucket
    * partitioning + on-disk sort order, and the per-user aggregate reuses
    * the same partitioning — zero Exchange, zero Sort anywhere below the
    * caller's final presentation orderBy. The plan a 100 TB per-key
    * pipeline must produce: layout pays the shuffle once, every
    * downstream per-key op rides it.
    */
  def userActivity(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = ensureEventsByUser(spark, sfDir)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    spark.table(t)
      .withColumn("gap_s",
        col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"),
        sum((col("gap_s") > 3600).cast("long")).as("n_session_breaks"),
        (round(avg(col("gap_s")), 2) + lit(0.0)).as("avg_gap_s"))
  }
}
