package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.DoubleAdder
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans and counters of one traced run. Everything is a
  * no-op while `on` is false, so the untraced path pays one volatile
  * read per call site. Times are epoch nanoseconds; Spark's listener
  * times (epoch ms) are scaled to match. Spans carry no op id: ops run
  * one at a time, so each span belongs to the op whose interval holds
  * its start, resolved when the spans are written. */
object Trace {
  @volatile var on = false

  final case class Span(name: String, layer: String, depth: Int,
                        start: Long, end: Long)

  val spans = new ConcurrentLinkedQueue[Span]()
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private val maxes = new ConcurrentHashMap[String, java.lang.Double]()

  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  def add(k: String, v: Double): Unit =
    if (on) sums.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  def max(k: String, v: Double): Unit =
    if (on) maxes.merge(k, v, (a, b) => math.max(a, b))

  def span(name: String, layer: String, depth: Int, start: Long, end: Long): Unit =
    if (on) spans.add(Span(name, layer, depth, start, end))

  def timed[A](name: String, layer: String, depth: Int)(f: => A): A =
    if (!on) f else {
      val t0 = now()
      try f finally span(name, layer, depth, t0, now())
    }

  def sum(k: String): Double = Option(sums.get(k)).map(_.sum).getOrElse(0.0)
  def peak(k: String): Double = Option(maxes.get(k)).map(_.doubleValue).getOrElse(0.0)

  def reset(): Unit = { spans.clear(); sums.clear(); maxes.clear() }

  /** Per-op flat split of wall time: each instant goes to the deepest
    * span active then (latest start on ties); instants no span covers
    * are `unattributed`. The result sums to the ops' total wall time. */
  def selfTimes(ops: Seq[(Long, Long)], all: Seq[Span]): Map[String, Double] = {
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val sorted = all.sortBy(_.start)
    ops.foreach { case (o0, o1) =>
      val mine = sorted.filter(s => s.end > o0 && s.start < o1)
        .map(s => s.copy(start = math.max(s.start, o0), end = math.min(s.end, o1)))
      val cuts = (mine.flatMap(s => Seq(s.start, s.end)) ++ Seq(o0, o1)).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val live = mine.filter(s => s.start <= a && s.end >= b)
          val layer = if (live.isEmpty) "unattributed"
            else live.maxBy(s => (s.depth, s.start)).layer
          out(layer) += (b - a) / 1e9
        case _ =>
      }
    }
    out.toMap
  }
}

/** Job, stage, task and block events → scheduler, exchange, kernel,
  * cache and pin counters, plus a span per job. */
final class TraceListener extends SparkListener {
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  private val liveBlocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var liveBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the result stage is named after the job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobStart.put(e.jobId, (e.time, site))
    Trace.add("scheduler.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, site) =>
      // the snapshot pin is the only localCheckpoint the sync path runs
      val pin = site.startsWith("localCheckpoint")
      val layer = if (pin) "pin" else "jobs"
      Trace.span(s"job ${e.jobId}: $site", layer, 2, t0 * 1000000L, e.time * 1000000L)
      if (pin) Trace.add("pin.snapshot_s", (e.time - t0) / 1e3)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Trace.add("exchange.stages", 1)
    stageSubmit.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.add("scheduler.tasks", 1)
    Option(stageSubmit.get(e.stageId)).foreach(s =>
      Trace.add("scheduler.delay_s", math.max(0L, e.taskInfo.launchTime - s) / 1e3))
    val m = e.taskMetrics
    if (m != null) {
      Trace.add("scheduler.run_s", m.executorRunTime / 1e3)
      Trace.add("kernels.task_cpu_s", m.executorCpuTime / 1e9)
      Trace.add("kernels.gc_s", m.jvmGCTime / 1e3)
      Trace.add("kernels.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      Trace.max("kernels.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      Trace.add("exchange.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      Trace.add("exchange.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      Trace.add("exchange.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val key = b.blockId.name
      val size = b.memSize + b.diskSize
      val old = Option(liveBlocks.remove(key)).map(_.longValue).getOrElse(0L)
      if (b.storageLevel.isValid && size > 0) {
        liveBlocks.put(key, size)
        if (old == 0L) Trace.add("caches.blocks_written", 1)
      }
      liveBytes += (if (b.storageLevel.isValid) size else 0L) - old
      Trace.max("caches.storage_bytes_peak", liveBytes.toDouble)
    }
  }
}

/** Plan-compile spans from QueryPlanningTracker, and the SQLMetrics of
  * each final (post-AQE) physical plan: scan, sort, aggregate, join
  * build and broadcast. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (phase, p) =>
      Trace.span(s"plans.$phase", "plans", 2, p.startTimeMs * 1000000L, p.endTimeMs * 1000000L)
      Trace.add("plans.compile_s", (p.endTimeMs - p.startTimeMs) / 1e3)
    }
    walk(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def walk(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => ()
      case _ =>
        visit(p)
        p.children.foreach(walk)
    }
    p.subqueries.foreach(walk)
  }

  private def secs(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map { m =>
      if (m.metricType == "nsTiming") m.value / 1e9 else m.value / 1e3
    }.getOrElse(0.0)

  private def count(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  private def visit(p: SparkPlan): Unit = p.nodeName match {
    case n if n.startsWith("Scan") || n.startsWith("BatchScan") =>
      Trace.add("tables.scan_s", secs(p, "scanTime"))
      Trace.add("tables.scan_bytes", count(p, "filesSize"))
      Trace.add("tables.scan_rows", count(p, "numOutputRows"))
    case "Sort" => Trace.add("kernels.sort_s", secs(p, "sortTime"))
    case n if n.endsWith("Aggregate") => Trace.add("kernels.agg_s", secs(p, "aggTime"))
    case "ShuffledHashJoin" => Trace.add("kernels.join_build_s", secs(p, "buildTime"))
    case "BroadcastExchange" =>
      Trace.add("kernels.join_build_s", secs(p, "buildTime"))
      Trace.add("kernels.broadcast_s", secs(p, "collectTime") + secs(p, "broadcastTime"))
    case _ =>
  }
}
