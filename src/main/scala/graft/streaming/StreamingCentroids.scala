package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental per-cell centroid maintenance over an embedding stream —
  * the streaming face of the vector pillar (the IVF/SemDeDup coarse
  * quantizer kept fresh as vectors arrive, instead of re-running Lloyd
  * over the full corpus per drop).
  *
  * Each vector is assigned to its cell UPSTREAM (the same codegen'd
  * BestCell map pass the batch index build uses — assignment is stateless,
  * so it rides the stream's map stage); this operator then folds
  * (count, per-dim sum) per cell in `flatMapGroupsWithState` and emits the
  * cell's running mean after every micro-batch. Sums, not means, are the
  * carried state, so NO information is lost at batch boundaries: on
  * dyadic-rational inputs (where double addition is exact in any order)
  * the stream's final centroid equals a batch groupBy(cell).avg over the
  * same rows under ANY micro-batch split — proven exactly in
  * StreamingSpec. On general doubles the agreement is last-ulp
  * (summation order inside a batch is the group iterator's), same as any
  * distributed mean.
  *
  * Scale posture: state is #cells × (dim + 1) doubles — the quantizer
  * config, not the corpus; the only shuffle is the groupByKey hash
  * exchange every stateful op pays. Emission is Update-mode (one row per
  * cell per batch that touched it).
  */
object StreamingCentroids {

  case class VecIn(cell: Long, vec: Seq[Double])
  case class CellState(n: Long, sums: Array[Double])
  case class CellCentroid(cell: Long, n: Long, centroid: Seq[Double])

  /** Fold a batch of vectors into the carried (count, sums) state. The
    * first vector seen fixes the dimensionality; every later vector must
    * match it (LOUD failure beats a silently ragged centroid).
    */
  private[streaming] def fold(st: CellState, vs: Iterator[Seq[Double]])
      : CellState = {
    var n = st.n
    var sums = if (st.sums.isEmpty) Array.empty[Double] else st.sums.clone()
    vs.foreach { v =>
      if (sums.isEmpty) sums = new Array[Double](v.length)
      require(v.length == sums.length,
        s"dim mismatch: ${v.length} vs ${sums.length}")
      var i = 0
      while (i < v.length) { sums(i) += v(i); i += 1 }
      n += 1
    }
    CellState(n, sums)
  }

  /** Attach to a stream of cell-assigned vectors. */
  def attach(vecs: Dataset[VecIn]): Dataset[CellCentroid] = {
    import vecs.sparkSession.implicits._
    vecs
      .groupByKey(_.cell)
      .flatMapGroupsWithState[CellState, CellCentroid](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (cell: Long, rows: Iterator[VecIn], state: GroupState[CellState]) =>
          val st0 = state.getOption.getOrElse(CellState(0L, Array.empty))
          val st = fold(st0, rows.map(_.vec))
          state.update(st)
          if (st.n == 0) Iterator.empty
          else Iterator(
            CellCentroid(cell, st.n, st.sums.map(_ / st.n).toSeq))
      }
  }

}
