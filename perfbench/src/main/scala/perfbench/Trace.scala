package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Scheduler-side counters for one operation, summed over the tasks and
  * jobs that ran while it was open. */
final case class SparkCounts(
    jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    jobIntervals: Vector[(Long, Long)] = Vector.empty,
    executorRunMs: Long = 0, executorCpuNs: Long = 0, gcMs: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    spillBytes: Long = 0, peakExecMem: Long = 0,
    // per stage: (wrote no shuffle output, each task's run ms)
    stageTasks: Map[Int, (Boolean, Vector[Long])] = Map.empty,
    lastTaskEndMs: Long = 0,
    // Catalyst phase times (ms) of the queries that finished
    planPhasesMs: Map[String, Long] = Map.empty) {

  /** Wall time not covered by any job, for an op spanning [t0, t1] ms. */
  def driverOnlyMs(t0: Long, t1: Long): Long = {
    val ivs = jobIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    math.max(0L, (t1 - t0) - covered)
  }

  /** Longest stage's max task time over its median task time. */
  def stageSkew: Double =
    if (stageTasks.isEmpty) 0.0
    else {
      val ts = stageTasks.values.maxBy(_._2.sum)._2.sorted
      val med = if (ts.isEmpty) 0.0 else ts(ts.size / 2).toDouble
      if (med <= 0) 1.0 else ts.last / med
    }

  /** Optimisation and physical planning time (ms) of the queries that
    * finished, as the QueryExecutionListener reports them. Analysis is
    * left out: it runs when a DataFrame is built, and its tracker phase
    * stretches from the first analysis of a plan to the last. */
  def planMs: Long = planPhasesMs.getOrElse("optimization", 0L) + planPhasesMs.getOrElse("planning", 0L)

  /** Executor run time of stages that write no shuffle output: the
    * result stages, where a write's encode and upload happen. */
  def resultStageRunMs: Long =
    stageTasks.values.collect { case (true, ts) => ts.sum }.sum
}

/** Records scheduler events into per-operation [[SparkCounts]]. Ops run
  * one at a time (a single closed-loop client), so everything the bus
  * delivers between [[begin]] and [[end]] belongs to the open op. */
final class Counters extends SparkListener with QueryExecutionListener {
  private var cur = SparkCounts()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val stageShuffleWrites = scala.collection.mutable.Map[Int, Boolean]()

  def begin(spark: SparkSession): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized { cur = SparkCounts(); jobStart.clear(); stageShuffleWrites.clear() }
  }

  def end(spark: SparkSession): SparkCounts = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized(cur)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    cur = cur.copy(jobs = cur.jobs + 1, stages = cur.stages + e.stageInfos.size)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 =>
      cur = cur.copy(jobIntervals = cur.jobIntervals :+ (t0 -> e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val noShuffleOut = m.shuffleWriteMetrics.bytesWritten == 0 &&
        stageShuffleWrites.getOrElse(e.stageId, true)
      stageShuffleWrites(e.stageId) = noShuffleOut
      val (_, prev) = cur.stageTasks.getOrElse(e.stageId, (true, Vector.empty[Long]))
      cur = cur.copy(
        tasks = cur.tasks + 1,
        executorRunMs = cur.executorRunMs + m.executorRunTime,
        executorCpuNs = cur.executorCpuNs + m.executorCpuTime,
        gcMs = cur.gcMs + m.jvmGCTime,
        inputBytes = cur.inputBytes + m.inputMetrics.bytesRead,
        inputRecords = cur.inputRecords + m.inputMetrics.recordsRead,
        shuffleWriteBytes = cur.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = cur.shuffleReadBytes +
          m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        spillBytes = cur.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        peakExecMem = math.max(cur.peakExecMem, m.peakExecutionMemory),
        stageTasks = cur.stageTasks.updated(e.stageId,
          (noShuffleOut, prev :+ m.executorRunTime)),
        lastTaskEndMs = math.max(cur.lastTaskEndMs, e.taskInfo.finishTime))
    }
  }

  private def addPhases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    cur = cur.copy(planPhasesMs = ph.foldLeft(cur.planPhasesMs) { case (acc, (k, v)) =>
      acc.updated(k, acc.getOrElse(k, 0L) + v)
    })
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPhases(qe)
}

/** One timed region: `layer` names the module whose public functions the
  * region calls into; `parent` is the enclosing span, `op` the op id. */
final case class Span(id: Int, name: String, layer: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, it only runs the body, so untraced
  * runs pay nothing for the calls. */
final class Tracer(var enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, layer, parent, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Per layer: summed span time minus the time its child spans cover. */
  def selfSecondsByLayer: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum
    }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},""" +
      s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}
