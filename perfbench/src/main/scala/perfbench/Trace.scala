package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Engine counters for one harness call (an op call, a commit, a read,
  * a micro-batch ...), summed over the jobs attributed to it. */
final class CallStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var queueMs = 0L
  var scanBytes = 0L
  var recordsRead = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  /** Union of the attributed jobs' [start, end] intervals, ms. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def jobWallMs(from: Long, until: Long): Long = {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, from), math.min(b, until)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** One traced call. Times are wall-clock ms for job attribution and
  * nanoTime for durations. */
final case class Call(id: Int, name: String, layer: String, parent: Int,
                      startMs: Long, startNs: Long, var endMs: Long = 0L,
                      var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's recorder: a span stack around the harness's calls
  * into graft, plus a SparkListener that attributes every job, stage
  * and task to the open top-level call. Jobs started on the
  * harness thread carry the call id as a local property; jobs from
  * other threads (streaming micro-batches) are attributed by time,
  * which is exact here because the client is one closed loop.
  * Nothing is recorded unless `enabled`. Spans stay in memory and are
  * written once at the end. */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var enabled = false
  val calls = mutable.ArrayBuffer.empty[Call]
  private var stack: List[Call] = Nil
  private val stats = mutable.HashMap.empty[Int, CallStats]
  private val stageCall = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageFirstTask = mutable.HashMap.empty[Int, Long]
  private val jobCall = mutable.HashMap.empty[Int, (Int, Long)]
  private val PropKey = "perfbench.call"

  /** Times `body` as one span. Top-level spans (no open parent) own
    * the jobs that start while they are open. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val c = synchronized {
        val c = Call(calls.size, name, layer, stack.headOption.map(_.id).getOrElse(-1),
          System.currentTimeMillis(), System.nanoTime())
        calls += c
        stack = c :: stack
        c
      }
      val prev = sc.getLocalProperty(PropKey)
      if (c.parent < 0) sc.setLocalProperty(PropKey, c.id.toString)
      try body
      finally {
        c.endNs = System.nanoTime()
        c.endMs = System.currentTimeMillis()
        sc.setLocalProperty(PropKey, prev)
        synchronized { stack = stack.tail }
      }
    }

  def statsOf(callId: Int): CallStats = synchronized(stats.getOrElse(callId, new CallStats))

  private def owner(props: java.util.Properties, timeMs: Long): Option[Int] = {
    val p = Option(props).flatMap(ps => Option(ps.getProperty(PropKey)))
    p.map(_.toInt).orElse {
      calls.reverseIterator
        .find(c => c.parent < 0 && c.startMs <= timeMs && (c.endMs == 0L || timeMs <= c.endMs))
        .map(_.id)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    owner(e.properties, e.time).foreach { id =>
      val s = stats.getOrElseUpdate(id, new CallStats)
      s.jobs += 1
      jobCall(e.jobId) = (id, e.time)
      e.stageIds.foreach(st => stageCall(st) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobCall.remove(e.jobId).foreach { case (id, start) =>
      stats(id).jobIntervals += ((start, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageCall.get(e.stageInfo.stageId).foreach { id =>
      stats(id).stages += 1
      stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    if (stageCall.contains(e.stageId) && !stageFirstTask.contains(e.stageId)) {
      stageFirstTask(e.stageId) = e.taskInfo.launchTime
      stageSubmit.get(e.stageId).foreach { sub =>
        stats(stageCall(e.stageId)).queueMs += math.max(0L, e.taskInfo.launchTime - sub)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageCall.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stats(id)
      s.tasks += 1
      s.taskNs += m.executorRunTime * 1000000L
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.scanBytes += m.inputMetrics.bytesRead
      s.recordsRead += m.inputMetrics.recordsRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Blocks until the listener has seen every event posted before the
    * call: runs one marker job and waits for its end event. */
  def drain(): Unit = {
    val marker = "perfbench-drain-" + System.nanoTime()
    @volatile var seen = false
    val l = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = seen = true
      override def onJobStart(e: SparkListenerJobStart): Unit = ()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(5)
    sc.removeSparkListener(l)
    Thread.sleep(50)
  }

  /** File count of the scans in an executed plan (AQE stages included). */
  def filesRead(plan: SparkPlan): Long = {
    def walk(p: SparkPlan): Long = {
      val own = p.metrics.get("numFiles").map(_.value).getOrElse(0L)
      val inner = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => 0L
      }
      own + inner + p.children.map(walk).sum + p.subqueries.map(walk).sum
    }
    walk(plan)
  }
}

/** Serializes the traced spans with their engine counters. Every span
  * carries the job wall time (union of job intervals) inside its own
  * window; top-level spans also carry the summed task counters. */
object Traces {
  def calls(t: Tracer): Seq[scala.collection.Map[String, Any]] = {
    val byId = t.calls.map(c => c.id -> c).toMap
    def root(c: Call): Call = if (c.parent < 0) c else root(byId(c.parent))
    t.calls.toSeq.map { c =>
      val r = root(c)
      val s = t.statsOf(r.id)
      val m = scala.collection.mutable.LinkedHashMap[String, Any](
        "id" -> c.id, "name" -> c.name, "layer" -> c.layer, "parent" -> c.parent,
        "start_ms" -> c.startMs, "end_ms" -> c.endMs, "wall_s" -> c.seconds,
        "job_wall_s" -> s.jobWallMs(c.startMs, c.endMs) / 1e3)
      if (c.parent < 0) m ++= Seq(
        "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
        "task_s" -> s.taskNs / 1e9, "task_cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3,
        "queue_s" -> s.queueMs / 1e3, "scan_bytes" -> s.scanBytes,
        "records_read" -> s.recordsRead, "shuffle_write_bytes" -> s.shuffleWrite,
        "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill)
      m
    }
  }
}
