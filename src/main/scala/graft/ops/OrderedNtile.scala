package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.types.IntegerType

/** Distributed NTILE over grouped, ordered data — without one-task-per-key.
  *
  * `ntile(b) OVER (PARTITION BY key ORDER BY …)` sorts every key's rows in
  * ONE task; with a low-cardinality key (5 event types at the 100× probe:
  * 22.3× ratio, 19.9 s) the whole input serializes onto #keys cores.
  * NTILE needs only (per-key rank, per-key count) — both computable on a
  * [[TiledScan]] layout over (keyCols, orderCols):
  *
  *  1. per-(tile, key) row counts — O(nParts + #keys) rows (a key spans
  *     contiguous tiles under the range partitioner), a bounded driver
  *     read — fold into per-(tile, key) rank offsets and per-key totals,
  *     broadcast back.
  *  2. one streaming pass: rank = offset + running within-tile count,
  *     bucket from the standard SQL NTILE arithmetic (n = q·b + rem:
  *     first `rem` buckets take q+1 rows) — integer-exact, so the
  *     assignment is bit-identical to the window's on any engine.
  *
  * Callers must make (keyCols ++ orderCols) a strict total order (tie-break
  * on a unique id) — same contract as the window form needs for an
  * engine-stable assignment anyway.
  */
object OrderedNtile {

  /** `maxKeys` caps the driver-side (tile, key) count read: the fold in
    * step 1 holds O(#keys + nParts) rows in driver memory, which is fine
    * for the grouping keys this op exists for (single-digit event-type
    * domains) but unbounded for an arbitrary key. The TRANSFER itself is
    * bounded, not just checked after the fact: a counts-only pre-job
    * (O(nParts) longs to the driver — one run-count per tile, read off
    * the layout the entry job uses) fails fast when the
    * global run total exceeds the cap, BEFORE any (tile, key) entry is
    * collected; a per-task require backstops the entry job itself.
    * Callers with genuinely high-cardinality keys don't need this op at
    * all: enough distinct keys means the plain window's one-task-per-key
    * shape is already parallel.
    */
  def withNtile(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column],
      buckets: Int, binCol: String, nPartsOpt: Option[Int] = None,
      maxKeys: Int = 1 << 16): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    require(maxKeys >= 1, "maxKeys must be >= 1")
    val spark = df.sparkSession
    val nParts = nPartsOpt.getOrElse(TiledScan.defaultTiles(spark))
    val inSchema = df.schema
    val keyIdx = keyCols.map(inSchema.fieldIndex)
    val rows = TiledScan.layout(df, keyCols, orderCols, nParts)

    val maxRows = maxKeys.toLong + nParts
    val capMsg =
      s"OrderedNtile: key cardinality exceeds maxKeys=$maxKeys — this op " +
        "trades a bounded driver read for tile-parallel sorting and only " +
        "makes sense for low-cardinality keys; with this many distinct " +
        "keys the plain ntile window is already parallel (or raise " +
        "maxKeys if driver memory allows)"
    // A sorted tile holds each of its keys as ONE contiguous run; a key
    // spans contiguous tiles under the range partitioner, so all tiles
    // together hold at most #keys + nParts - 1 runs.
    def keyRuns(it: Iterator[Row]): Iterator[(List[Any], Long)] = {
      val keys = it.map(r => keyIdx.map(r.get).toList).buffered
      Iterator.continually(keys).takeWhile(_.hasNext).map { ks =>
        val k = ks.next(); var n = 1L
        while (ks.hasNext && ks.head == k) { ks.next(); n += 1L }
        (k, n)
      }
    }
    // Counts-only pre-job: one run-count long per tile to the driver —
    // trivially bounded at O(nParts) — so the cap fails fast BEFORE any
    // (tile, key) entry is materialized or shipped. A per-task require
    // alone cannot bound the SUM across tasks (each task sees only its
    // own runs: nParts tasks could each stay under the cap while the
    // collect receives nParts x maxRows entries).
    val runCounts =
      TiledScan.perTile(rows)(keyRuns(_).foldLeft(0L)((n, _) => n + 1))
    require(runCounts.sum <= maxRows, capMsg)
    // O(nParts + #keys) driver read: each tile's (key, row count) runs.
    // The pre-job above already bounded the global total; the per-task
    // require is defense-in-depth only.
    val runs = TiledScan.perTile(rows)(keyRuns(_).zipWithIndex.map {
      case (run, i) => require(i < maxRows, capMsg); run
    }.toArray)
    require(runs.map(_.length.toLong).sum <= maxRows, capMsg)
    // rank offset of (tile, key) = rows of that key in earlier tiles;
    // `seen` ends as the per-key totals
    val seen = scala.collection.mutable.HashMap.empty[List[Any], Long]
    val offsets: Map[(Int, List[Any]), Long] = (for {
      (tile, pid) <- runs.iterator.zipWithIndex
      (k, c) <- tile.iterator
    } yield {
      val off = seen.getOrElse(k, 0L); seen(k) = off + c; (pid, k) -> off
    }).toMap
    val bc = spark.sparkContext.broadcast((offsets, seen.toMap))

    val outSchema = inSchema.add(binCol, IntegerType, nullable = false)
    // binning pass over the layout the counts came from (TiledScan's
    // layout pinning): the mapPartitionsWithIndex pid is the offsets key
    val binned = rows.mapPartitionsWithIndex { (pid, rows) =>
      val (offs, tots) = bc.value
      var curKey: List[Any] = null
      var local = 0L; var off = 0L; var n = 0L
      rows.map { r =>
        val k = keyIdx.map(r.get).toList
        if (k != curKey) {
          curKey = k; local = 0L
          off = offs((pid, k)); n = tots(k)
        }
        local += 1
        val rank = off + local
        // SQL NTILE: q = n/b, rem = n%b; buckets 1..rem take q+1 rows
        val q = n / buckets; val rem = n - q * buckets
        val bin =
          if (rank <= (q + 1) * rem) (rank - 1) / (q + 1) + 1
          else rem + (rank - (q + 1) * rem - 1) / q + 1
        Row.fromSeq(r.toSeq :+ bin.toInt)
      }
    }
    spark.createDataset(binned)(Encoders.row(outSchema))
  }
}
