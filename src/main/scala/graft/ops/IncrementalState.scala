package graft.ops

import org.apache.spark.sql.DataFrame

/** The release side of the incremental-state contract, shared by
  * [[TextDedup.SpanState]], [[TextDedup.ShingleState]],
  * [[TextDedup.JaccardState]], [[VectorOps.SemState]] and
  * [[VectorOps.IvfState]]. Each state lists its state tables
  * (`frames`) and the intermediates its delta run persisted
  * (`internals`); freeing them is the same for every state. Build,
  * delta maintenance and the digest stay with each algorithm: their
  * signatures differ, and [[graft.queries.Pins]] owns the digest side.
  *
  * Frames are freed through [[Materialize.release]], so the
  * localCheckpoint RDD blocks that `Dataset.unpersist` cannot reach are
  * freed too, under any stage mode. */
trait IncrementalState {

  /** The state tables, including those a maintenance run carries into
    * its successor BY REFERENCE (frozen centroids or df order, base
    * segments). */
  def frames: Seq[DataFrame]

  /** Delta-run intermediates (empty for a full build). */
  def internals: Seq[DataFrame]

  /** Free EVERY frame of this state, including ones a successor shares.
    * Only for ending a whole chain; between chain links use
    * [[releaseSuperseded]], or the next maintenance run reads a freed
    * checkpoint block and dies (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). */
  def release(): Unit = releaseExcept(Nil)

  /** The service-chain release: free this SUPERSEDED state's frames
    * except those `next` holds by reference (`eq`). Call after `next`'s
    * tables have been materialized — a lazy successor checkpoint still
    * reads its predecessor's blocks until its first execution. */
  def releaseSuperseded(next: IncrementalState): Unit =
    releaseExcept(next.frames)

  private def releaseExcept(kept: Seq[DataFrame]): Unit = {
    internals.foreach(_.unpersist(blocking = false))
    frames.filterNot(f => kept.exists(_ eq f)).foreach(Materialize.release)
  }
}
