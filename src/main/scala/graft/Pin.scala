package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The engine's one persist…unpersist lifetime. */
object Pin {

  /** Persist `df` at `MEMORY_AND_DISK`, run `body` on it, and release it
    * when `body` returns or throws — a failed or cancelled job
    * ([[Jobs.concurrently]]) does not leave the frame cached for the
    * rest of the session.
    *
    * A DataFrame is a lazy plan, so the one condition is on what `body`
    * returns: something that no longer reads the pinned frame — a
    * checkpointed frame, a collected value or a finished write. A lazy
    * frame over it would recompute the pinned plan once released.
    */
  def during[T](df: DataFrame)(body: DataFrame => T): T = {
    val pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(pinned) finally pinned.unpersist(false)
  }
}
