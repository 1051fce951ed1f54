package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for append-mode partitioned layouts — the table
  * maintenance job every streaming ingest needs (the reference's archive
  * path accumulates one object per flush interval per partition forever;
  * `kafka_spark_processor/spark_processor.py` leaves the same debris).
  *
  * A micro-batch sink appends a handful of rows per partition per
  * trigger; after a day a `channel=X/product_id=Y` leaf holds thousands
  * of KB-sized files and every downstream scan pays per-file open cost,
  * per-file footer reads, and a task per file. Compaction is the
  * write-amortized fix: rewrite ONLY the partitions whose file count
  * drifted past a threshold, each into the minimal number of
  * target-sized files, and leave every healthy partition's bytes
  * untouched.
  *
  * Scale shape (the part that must survive 100 TB):
  *  - the driver's work is FILE METADATA only — one recursive listing,
  *    O(#partitions + #files), the same cost any plain-parquet reader
  *    already pays to plan a scan (a transactional table format reads
  *    its log instead; this is the plain-parquet equivalent);
  *  - the rewrite is ONE Spark job, not a job per partition: all
  *    unhealthy leaves are read together (explicit path list — pruning
  *    by construction, no filter needed), hash-clustered on the
  *    partition columns so each leaf's rows land in one task, and
  *    committed atomically per-partition via dynamic partition
  *    overwrite. I/O is O(bytes in unhealthy partitions), zero bytes
  *    read or written for healthy ones;
  *  - `maxRecordsPerFile` bounds output file size for oversized
  *    partitions (the writer rolls files), so compaction can't build
  *    the opposite pathology (one giant unsplittable file).
  *
  * Caveats by design:
  *  - refuses a directory carrying a streaming file-sink `_spark_metadata`
  *    transaction log: batch readers of such a directory trust the log,
  *    and files swapped underneath it would be invisible (or fail) —
  *    compact file-sink output only after the log is retired, or ingest
  *    into a table format whose OPTIMIZE is transactional;
  *  - on plain parquet the per-partition commit is as atomic as the
  *    underlying FileSystem rename (the LWW upsert's staged bucket swap
  *    rests on the same rename and checks each rename's result, SCALE.md).
  */
object Compaction {

  /** One leaf partition's health: its directory, parsed partition values
    * (in layout order), file count and byte size.
    */
  final case class LeafState(path: String, nFiles: Int, bytes: Long)

  /** What a compaction pass did. `filesBefore`/`filesAfter` count ONLY
    * the rewritten partitions' data files; `bytesRewritten` is the input
    * byte size of those partitions (the job's read I/O).
    */
  final case class Report(
      partitionsScanned: Int,
      partitionsCompacted: Int,
      filesBefore: Int,
      filesAfter: Int,
      bytesRewritten: Long)

  /** The committer-debris convention, defined once for the sources layer:
    * a data file is a plain file whose name is not a hidden/underscore
    * marker (temp dirs, _SUCCESS, checksums) — Spark's own
    * InMemoryFileIndex filter. [[BucketedLayout]] shares this definition.
    */
  private[sources] def isDataFile(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Recursive leaf listing: a leaf is a directory that directly holds
    * data files. Hidden/underscore entries (committer temp dirs, SUCCESS
    * markers) are ignored, matching Spark's own InMemoryFileIndex filter.
    */
  private def leaves(fs: FileSystem, dir: Path): Seq[(Path, Seq[FileStatus])] = {
    val entries = fs.listStatus(dir).filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    val below = entries.filter(_.isDirectory)
      .flatMap(d => leaves(fs, d.getPath)).toSeq
    val files = entries.filter(isDataFile).toSeq
    if (files.nonEmpty) (dir -> files) +: below else below
  }

  /** Partition column names parsed from one leaf's path relative to the
    * root (`.../channel=ticker/product_id=BTC-USD` → `channel`,
    * `product_id`).
    */
  private def partitionColsOf(root: Path, leaf: Path): Seq[String] = {
    var segs = List.empty[String]
    var p = leaf
    while (p != null && p.toUri.getPath != root.toUri.getPath) {
      segs = p.getName :: segs
      p = p.getParent
    }
    segs.map { s =>
      val i = s.indexOf('=')
      require(i > 0, s"not a partition directory segment: $s under $root")
      s.substring(0, i)
    }
  }

  /** Inspect a partitioned layout without touching data: per-leaf file
    * count and bytes, the input to a compaction-cadence decision.
    */
  def layoutState(spark: SparkSession, root: String): Seq[LeafState] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    leaves(fs, rootPath).map { case (p, fsts) =>
      LeafState(p.toString, fsts.size, fsts.map(_.getLen).sum)
    }
  }

  /** Compact every leaf partition holding more than `maxFilesPerPartition`
    * data files down to the minimal file count, in one dynamic-overwrite
    * job. Returns what was done; a second invocation on the result is a
    * no-op (`partitionsCompacted == 0`).
    */
  def compactPartitionedLayout(
      spark: SparkSession,
      root: String,
      format: String = "parquet",
      maxFilesPerPartition: Int = 1,
      maxRecordsPerFile: Long = 0L): Report = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(rootPath, "_spark_metadata")),
      s"$root carries a streaming file-sink _spark_metadata log; batch " +
        "readers trust the log and would not see compacted files. Retire " +
        "the log (age the data into a batch layout) before compacting, " +
        "or ingest into a transactional table format instead.")
    val all = leaves(fs, rootPath)
    val unhealthy = all.filter(_._2.size > maxFilesPerPartition)
    if (unhealthy.isEmpty)
      return Report(all.size, 0, 0, 0, 0L)

    val partCols = partitionColsOf(rootPath, unhealthy.head._1)
    require(partCols.nonEmpty,
      s"$root is not partitioned; coalesce-and-rewrite the whole layout instead")
    val filesBefore = unhealthy.map(_._2.size).sum
    val bytesIn = unhealthy.map(_._2.map(_.getLen).sum).sum

    // Read ONLY the unhealthy leaves (path-list pruning; basePath keeps the
    // partition columns in the schema), cluster each leaf's rows into one
    // task, and let dynamic overwrite swap exactly those leaf dirs.
    // Partition-column TYPE INFERENCE must be off for this read: the
    // rewrite's correctness depends on directory names round-tripping
    // byte-identically. With inference on (the default), a numeric-looking
    // value like `hour=01` reads back as Int 1 and rewrites to `hour=1/` —
    // dynamic overwrite only swaps partitions PRESENT in the written data,
    // so the original `hour=01/` (and all its files) would survive next to
    // the new directory and every subsequent scan would see the rows
    // twice. Reading the values as plain strings keeps the rewrite a pure
    // file-layout change. Inference happens when load() resolves the
    // relation, so the flag is restored with the overwrite mode after the
    // job.
    val prevOverwrite =
      spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    val inferK = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prevInfer = spark.conf.getOption(inferK)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // The inference flag is session-global, and partition-schema
      // resolution happens inside load() — so the flag is flipped for
      // exactly that call and restored before the job runs, keeping the
      // window in which a CONCURRENTLY PLANNED partitioned read in this
      // session would see string partition columns as narrow as the
      // listing itself (the job's own plan keeps the captured schema).
      val df = try {
        spark.conf.set(inferK, "false")
        spark.read
          .option("basePath", root)
          .format(format)
          .load(unhealthy.map(_._1.toString): _*)
      } finally prevInfer match {
        case Some(v) => spark.conf.set(inferK, v)
        case None => spark.conf.unset(inferK)
      }
      val writer = df
        .repartition(partCols.map(col): _*)
        .write
        .mode("overwrite")
        .format(format)
        .partitionBy(partCols: _*)
      (if (maxRecordsPerFile > 0L)
        writer.option("maxRecordsPerFile", maxRecordsPerFile)
      else writer).save(root)
    } finally prevOverwrite match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }

    val after = leaves(fs, rootPath).toMap
    val filesAfter = unhealthy.map { case (p, _) =>
      after.get(p).map(_.size).getOrElse(0)
    }.sum
    Report(all.size, unhealthy.size, filesBefore, filesAfter, bytesIn)
  }
}
