package graft

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** The engine's one way to overlap independent Spark job chains. */
object Jobs {

  private val calls = new AtomicLong()

  /** Run independent job chains concurrently (guide §2.6 — "overlap
    * independent jobs"): each thunk runs on its own driver thread under
    * its own job group, so the scheduler back-fills one chain's
    * straggler tail with the next chain's tasks. Returns the thunks'
    * results in input order.
    *
    * Any failure propagates, and the siblings' in-flight jobs are
    * cancelled and their threads interrupted first — without that,
    * the surviving threads would keep running (and writing) to
    * completion. Group ids carry a per-call sequence number, so two
    * overlapping calls with the same label never cancel each other's
    * jobs.
    */
  def concurrently[T](s: SparkSession, what: String,
      thunks: (() => T)*): Seq[T] = {
    val pool = Executors.newFixedThreadPool(thunks.size)
    val onPool = ExecutionContext.fromExecutor(pool)
    // the result-combining callbacks run on whichever thread completes a
    // thunk, so a sibling that fails after the pool is shut down does
    // not have its callback rejected by the pool
    implicit val ec: ExecutionContext = ExecutionContext.parasitic
    val call = calls.incrementAndGet()
    val groups = thunks.indices.map(i => s"$what #$call [$i]")
    try {
      val futs = thunks.zip(groups).map { case (t, g) =>
        Future {
          s.sparkContext.setJobGroup(g, g, interruptOnCancel = true)
          try t() finally s.sparkContext.clearJobGroup()
        }(onPool)
      }
      try Await.result(Future.sequence(futs), Duration.Inf)
      catch { case e: Throwable =>
        groups.foreach(s.sparkContext.cancelJobGroup)
        pool.shutdownNow()
        throw e
      }
    } finally { pool.shutdown() }
  }
}
