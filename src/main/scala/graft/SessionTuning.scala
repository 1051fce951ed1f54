package graft

/** Scale-adaptive session defaults shared by the shipped entry points
  * (Bench, Verify).
  *
  * r15 (guide §2.2 / VERDICT r14 #1): `spark.sql.shuffle.partitions`
  * was pinned to the CORE COUNT, so reduce-side width — like the
  * pre-r15 scan spread — scaled with cores over constant data: at sf0.1
  * every shuffle partition carried ~0.5 MB and per-task/per-stage fixed
  * costs dominated (guide: partitions belong in the 100 MB–1 GB range,
  * not "a few MB"). AQE cannot repair this for EXPLICIT repartition
  * sites (`repartition(col)` keeps its user-specified partition count —
  * only ENSURE_REQUIREMENTS/REBALANCE shuffles are coalescible), and
  * the engine keys several indexes that way on purpose (one exchange
  * reused by every downstream hop). Interleaved A/B at local[32], 20
  * slowest queries, min-of-3: width 32 = 34.4 s, width 8 = 28.5 s,
  * width 4 = 26.7 s.
  *
  * The width is therefore derived from DATA SIZE first:
  *
  *   width = clamp(ceil(bytes / 2 MiB), 1, max(cpus, ceil(bytes / 256 MiB)))
  *
  * Three regimes, stated precisely:
  * - bytes < cpus · 2 MiB (the sub-core band — every bench SF): width =
  *   ceil(bytes/2 MiB), the SAME at every core count, so low-core vs
  *   high-core runs compare task-for-task and the r14 pathology (task
  *   count inflating with cores over constant tiny data) cannot recur;
  * - cpus · 2 MiB ≤ bytes ≤ cpus · 256 MiB (the mid band): width = cpus
  *   — every core has at least one ≥2 MiB chunk of work, which is
  *   ordinary parallelism (width tracks cores exactly when there is
  *   enough data to feed them), NOT the tiny-data inflation above: a
  *   low-core run here has genuinely less parallelism, and the ratio
  *   reflects that truthfully;
  * - bytes > cpus · 256 MiB: the bytes/256 MiB term takes over and the
  *   width lands in the tuning guide's partition-size range (100 TB ⇒
  *   ~400k initial partitions, AQE coalescing takes it from there —
  *   tile-count consumers stay bounded separately via
  *   [[graft.ops.TiledScan.defaultTiles]]);
  * - unknown size (the path does not resolve through the Hadoop
  *   FileSystem): core count — the pre-r15 status quo, never worse.
  *
  * Bytes are sized through the Hadoop FileSystem
  * ([[Tables.contentBytes]], the same sizing the table spread uses), so
  * `hdfs://`, `s3a://` and `file:` URIs size like bare local paths. No
  * session exists yet when the width is chosen, so a fresh Hadoop
  * `Configuration` resolves the path.
  */
object SessionTuning {
  private val FineChunk = 2L * 1024 * 1024
  private val ScaleChunk = 256L * 1024 * 1024

  def shufflePartitions(sfDir: String, cpus: Int): Int = {
    val bytes = Tables.contentBytes(sfDir,
      new org.apache.hadoop.conf.Configuration()).getOrElse(0L)
    if (bytes <= 0) cpus
    else {
      val fine = (bytes + FineChunk - 1) / FineChunk
      val cap = math.max(cpus.toLong, (bytes + ScaleChunk - 1) / ScaleChunk)
      math.max(1L, math.min(fine, cap)).toInt
    }
  }
}
