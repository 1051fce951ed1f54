package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.types.DoubleType

/** Distributed ROLLING-FRAME aggregates (`ROWS BETWEEN n-1 PRECEDING AND
  * CURRENT ROW`) over grouped, ordered data — without one-task-per-key.
  *
  * Same tile/carry shape as [[OrderedLag]] (see its doc for the
  * low-cardinality-window rationale and [[TiledScan]] for the carry
  * contract): a rolling frame of N rows is a FINITE-memory scan, so a
  * per-tile streaming pass with an (N−1)-row ring buffer plus an
  * (N−1)-row carry from preceding tiles reproduces the window exactly.
  *
  * BIT-EXACTNESS CONTRACT: Spark's `SlidingWindowFunctionFrame`
  * re-initializes the aggregate and re-accumulates the whole frame in
  * partition order FOR EVERY OUTPUT ROW (no streaming retract for
  * declarative aggregates). This op does the identical per-row
  * re-accumulation through [[RollingKernel]], the aggregates' update
  * arithmetic in the identical oldest→newest order, so every output
  * double is bit-equal to the window's (OrderedRollingSpec pins this,
  * null cases included). Per-row cost is O(frame · #rolls) — the same as WindowExec
  * evaluating the same aggregates — but the sort parallelism is nParts
  * tiles instead of #keys tasks.
  *
  * Value columns must be DoubleType; keys non-null; (keyCols ++
  * orderCols) a strict total order. Null values occupy frame SLOTS but
  * don't contribute (single-column aggs skip null x; covariance skips a
  * pair when EITHER side is null), exactly like the window aggregates.
  */
object OrderedRolling {

  /** One output column: `func` over the trailing `frame`-row window of
    * column `x` (and `y` for the two-column funcs).
    * `func`: "avg" | "stddev_samp" | "sum" | "covar_samp" |
    * "frame_array".
    *
    * `frame_array` collects the frame's non-null x values as
    * array<double> in SCAN order — oldest-scanned first, exactly
    * `collect_list` over the trailing window under the SAME ordering,
    * whatever that ordering is (ADVICE r9: the previous emit walked the
    * ring newest-scanned-first, which silently reversed arrays for ASC
    * callers). `skip` drops the rows nearest the current row — `skip = 0`
    * ends at the current row. Combined with a DESCENDING order this
    * expresses FORWARD-looking collect frames: sorting (ts desc) makes
    * "the previous `skip+frame` scanned rows" be the rows at
    * ascending-time offsets 0..skip+frame-1 from the current row, emitted
    * in DESCENDING time — callers wanting ascending-time arrays reverse()
    * the result (the serving sliding-window shape: x = frame 288 skip 0,
    * y = frame 36 skip 288, both reversed in [[graft.serve.Serving]]).
    */
  final case class Roll(name: String, func: String, frame: Int,
      x: String, y: String = null, skip: Int = 0) {
    require(frame >= 1, "frame must be >= 1")
    require(Set("avg", "stddev_samp", "sum", "covar_samp", "frame_array")(
      func), s"unsupported: $func")
    require((func == "covar_samp") == (y != null),
      "covar_samp needs a y column; single-column funcs must not pass y")
    require(skip == 0 || func == "frame_array",
      "skip is only meaningful for frame_array")
    require(skip >= 0, "skip must be >= 0")
  }

  def withRollups(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[Column], rolls: Seq[Roll],
      nPartsOpt: Option[Int] = None): DataFrame = {
    require(rolls.nonEmpty)
    val spark = df.sparkSession
    val nParts = nPartsOpt.getOrElse(TiledScan.defaultTiles(spark))
    val memory = rolls.map(r => r.frame + r.skip).max - 1

    val valueCols: Seq[String] =
      rolls.flatMap(r => Seq(r.x) ++ Option(r.y)).distinct
    val prep = TiledScan.prepare(df, keyCols, orderCols, valueCols,
      memory = memory, nParts = nParts)
    import prep.{carry, keyIdx}
    prep.valIdx.zip(valueCols).foreach { case (i, c) =>
      require(prep.inSchema(i).dataType == DoubleType,
        s"rolling value column $c must be double, got " +
          prep.inSchema(i).dataType)
    }
    // per-roll positions in the tracked-values array
    val xPos = rolls.map(r => valueCols.indexOf(r.x)).toArray
    val yPos = rolls.map(r => Option(r.y).map(valueCols.indexOf).getOrElse(-1))
      .toArray
    val rowValIdx = prep.valIdx.toArray

    val outSchema = rolls.foldLeft(prep.inSchema) { case (s, roll) =>
      val t = if (roll.func == "frame_array")
        org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
      else DoubleType
      s.add(roll.name, t, nullable = true)
    }
    val rollArr = rolls.toArray

    // main pass over prep.rows — the SAME RDD the carry was collected
    // from (TiledScan layout-pinning doc): the mapPartitionsWithIndex pid
    // is the carry map's key by construction, eviction-proof
    val result = prep.rows.mapPartitionsWithIndex { (pid, rows) =>
      val ring = scala.collection.mutable.ArrayDeque.from(
        carry.getOrElse[Array[(Seq[Any], Array[Any])]](pid, Array.empty))
      rows.map { r =>
        val key = keyIdx.map(r.get)
        val cur = new Array[Any](rowValIdx.length)
        var c = 0
        while (c < rowValIdx.length) {
          cur(c) = if (r.isNullAt(rowValIdx(c))) null
            else r.getDouble(rowValIdx(c))
          c += 1
        }
        // trailing same-key prefix of the ring (newest-last): ring may
        // hold older keys from the carry; sorted contiguity means the
        // same-key rows are exactly the trailing run
        var same = 0
        while (same < ring.size &&
            ring(ring.size - 1 - same)._1 == key) same += 1
        val out = new Array[Any](rollArr.length)
        var i = 0
        while (i < rollArr.length) {
          val roll = rollArr(i)
          val xp = xPos(i); val yp = yPos(i)
          val take = math.min(roll.frame - 1, same)
          // frame = [ring tail of `take` rows] ++ [current row], oldest
          // first — accumulated exactly like the Spark aggregate would
          val base = ring.size - take
          def slot(p: Int)(j: Int): Any =
            if (j < take) ring(base + j)._2(p) else cur(p)
          out(i) = roll.func match {
            case "avg" => RollingKernel.avg(take + 1, slot(xp))
            case "sum" => RollingKernel.sum(take + 1, slot(xp))
            case "stddev_samp" => RollingKernel.stddevSamp(take + 1, slot(xp))
            case "covar_samp" =>
              RollingKernel.covarSamp(take + 1, slot(xp), slot(yp))
            case "frame_array" =>
              // collect_list semantics over offsets skip..skip+frame-1
              // from the current row (offset 0 = current), bounded by the
              // same-key run; nulls skipped, empty frame -> empty array
              // (collect_list is never null). Offsets walk DESCENDING so
              // the array comes out oldest-scanned-first — collect_list's
              // order under the same sort, for ASC and DESC callers alike.
              val buf = new scala.collection.mutable.ArrayBuffer[Any](
                roll.frame)
              var off = math.min(roll.skip + roll.frame - 1, same)
              while (off >= roll.skip) {
                val v = if (off == 0) cur(xp)
                  else ring(ring.size - off)._2(xp)
                if (v != null) buf += v
                off -= 1
              }
              buf.toSeq
          }
          i += 1
        }
        if (memory > 0) {
          if (ring.size == memory) ring.removeHead()
          ring.append((key, cur))
        }
        Row.fromSeq(r.toSeq ++ out)
      }
    }
    spark.createDataset(result)(Encoders.row(outSchema))
  }
}
