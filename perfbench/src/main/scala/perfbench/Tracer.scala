package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId

/** Spans around the calls the benchmark makes into the engine's layers,
  * plus the Spark work each span caused.
  *
  * Every span runs its body under its own job group, and the listener
  * attributes a job (and that job's stages, tasks and bytes) to the span
  * named by the job's group. Attribution never samples a global counter,
  * so the asynchronous listener bus cannot move work across spans. Jobs
  * submitted under any other group are counted as unattributed.
  *
  * Spans live in memory and are written out once, at the end of the run.
  * A disabled tracer runs bodies unchanged and registers no listener.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean,
    workload: String, seed: Long) {
  import Tracer._

  private val sc = spark.sparkContext
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var current: Option[Span] = None
  @volatile private var unattributedJobs = 0L

  // RDD blocks: stored bytes per block, blocks stored, peak total
  private val blockBytes = mutable.HashMap[String, Long]()
  private var storedNow = 0L
  private var storedPeak = 0L
  private var blocksStored = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.flatMap(g => Option(byGroup.get(g))) match {
        case Some(s) =>
          s.synchronized(s.jobs += 1)
          e.stageIds.foreach(stageSpan.put(_, s))
        case None => unattributedJobs += 1
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.synchronized {
          s.tasks += 1
          if (m != null) {
            s.taskNs += m.executorRunTime * 1000000L
            s.inputBytes += m.inputMetrics.bytesRead
            s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case _: RDDBlockId =>
          Tracer.this.synchronized {
            val key = info.blockId.name
            val bytes = if (info.storageLevel.isValid)
              info.memSize + info.diskSize else 0L
            val before = blockBytes.getOrElse(key, 0L)
            if (bytes > 0L && before == 0L) blocksStored += 1
            if (bytes > 0L) blockBytes(key) = bytes else blockBytes.remove(key)
            storedNow += bytes - before
            storedPeak = math.max(storedPeak, storedNow)
          }
        case _ =>
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Runs `body` as a span named `name`, nested under the current one. */
  def apply[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        System.nanoTime() - origin)
      s.attrs ++= attrs
      spans += s
      byGroup.put(s.group, s)
      enter(Some(s))
      try body
      finally {
        s.endNs = System.nanoTime() - origin
        enter(parent)
      }
    }

  /** Adds attributes to the innermost open span. */
  def note(attrs: (String, Any)*): Unit =
    current.foreach(_.attrs ++= attrs)

  private def enter(s: Option[Span]): Unit = {
    current = s
    s match {
      case Some(x) => sc.setJobGroup(x.group, x.name)
      case None => sc.clearJobGroup()
    }
  }

  /** Waits for the listener to see every event posted so far. */
  def drain(): Unit = if (enabled) ListenerDrain(sc)

  /** Starts a new window for the block counters (one timed pass). */
  def resetBlocks(): Unit = { drain(); synchronized {
    blocksStored = 0L
    storedPeak = storedNow
  } }

  /** (RDD blocks stored, peak stored MB) since [[resetBlocks]]. */
  def blocks(): (Long, Double) = { drain(); synchronized {
    (blocksStored, storedPeak / Mb)
  } }

  /** Finished spans, after draining the listener. */
  def finished(): Seq[Span] = { drain(); spans.toSeq }

  /** Finished spans under each `pass` span, one group per pass in order;
    * the pass spans themselves are left out.
    */
  def byPass(): Seq[Seq[Span]] = {
    val all = finished()
    val byId = all.map(s => s.id -> s).toMap
    def passOf(s: Span): Option[Int] =
      if (s.name == "pass") Some(s.id)
      else if (s.parent < 0) None
      else passOf(byId(s.parent))
    val groups = all.filter(_.name != "pass").groupBy(passOf)
    all.filter(_.name == "pass").map(p => groups.getOrElse(Some(p.id), Nil))
  }

  def toJson(summary: Seq[(String, Any)]): String = {
    drain()
    Json(Seq(
      "workload" -> workload,
      "seed" -> seed,
      "unattributed_jobs" -> unattributedJobs,
      "summary" -> summary,
      "spans" -> spans.map(s => s.synchronized(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "workload" -> workload, "seed" -> seed,
        "jobs" -> s.jobs, "tasks" -> s.tasks, "task_s" -> s.taskNs / 1e9,
        "input_mb" -> s.inputBytes / Mb,
        "shuffle_write_mb" -> s.shuffleWriteBytes / Mb,
        "spill_mb" -> s.spillBytes / Mb,
        "attrs" -> s.attrs.toSeq)))))
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val Mb: Double = 1024.0 * 1024.0

  final class Span(val id: Int, val name: String, val parent: Int,
      val startNs: Long) {
    @volatile var endNs: Long = startNs
    val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
    var jobs = 0L
    var tasks = 0L
    var taskNs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    def group: String = s"perfbench-span-$id"
    def seconds: Double = (endNs - startNs) / 1e9
  }
}
