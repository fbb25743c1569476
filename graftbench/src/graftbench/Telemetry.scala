package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.Access
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch microseconds, monotone within the process. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

object Stats {
  /** Percentile with linear interpolation between closest ranks. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)

  /** Weighted percentile: the smallest value whose cumulative weight
    * reaches `q` of the total. */
  def wpct(xs: Iterable[(Double, Long)], q: Double): Double = {
    val s = xs.toArray.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) 0.0
    else {
      val target = q * total
      var acc = 0L
      s.find { case (_, w) => acc += w; acc >= target }.map(_._1).getOrElse(s.last._1)
    }
  }

  /** Length of the union of `iv` clipped to [lo, hi). */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}

/** Minimal JSON writer for the run record and the span file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case x => quote(x.toString)
  }
  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** One traced interval. `parentKey` names a parent that is only known once
  * the run ends (a trigger's addBatch phase, built from its progress event);
  * it is resolved through [[Tracer.key]] when the spans are written. */
final case class Span(trace: String, id: Long, parent: Long, name: String,
    layer: String, startUs: Long, endUs: Long,
    attrs: Map[String, Any] = Map.empty, parentKey: String = "")

/** In-memory span store; spans are written as JSON when the run ends. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val keys = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (on) spans.add(s)
  def key(k: String, id: Long): Unit = if (on) keys.put(k, id)

  def timed[T](trace: String, parent: Long, name: String, layer: String,
      attrs: Map[String, Any] = Map.empty)(body: Long => T): T = {
    val id = nextId()
    val t0 = Clock.nowUs()
    try body(id) finally add(Span(trace, id, parent, name, layer, t0, Clock.nowUs(), attrs))
  }

  /** Spans with parents resolved and self time (duration minus the part
    * covered by children). */
  def resolved: Seq[(Span, Long)] = {
    val all = spans.asScala.toSeq.map { s =>
      if (s.parent == 0 && s.parentKey.nonEmpty)
        s.copy(parent = Option(keys.get(s.parentKey)).map(_.longValue).getOrElse(0L))
      else s
    }
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
      (s, (s.endUs - s.startUs) - Stats.covered(c, s.startUs, s.endUs))
    }
  }

  def write(path: String): Unit = {
    val body = resolved.sortBy(_._1.startUs).map { case (s, self) =>
      Json(Map("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "self_us" -> self, "attrs" -> s.attrs))
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

/** Per-label engine counters. A label is the harness operation (a query of
  * a pass, a drain, the live window) that was running when the event was
  * posted; jobs carry it as their job group. */
final class LayerCounters {
  var jobs, stages, tasks, failedTasks, sqlExecs = 0L
  var taskMs, cpuNs, shuffleRead, shuffleWrite, spill, blocks = 0L
  var planningMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Time in [fromUs, toUs) during which no task of these labels ran. */
  def idleUs(fromUs: Long, toUs: Long): Long =
    (toUs - fromUs) - Stats.covered(
      taskIntervals.map { case (a, b) => (a * 1000L, b * 1000L) }, fromUs, toUs)

  def +(o: LayerCounters): LayerCounters = {
    val r = new LayerCounters
    r.jobs = jobs + o.jobs; r.stages = stages + o.stages; r.tasks = tasks + o.tasks
    r.failedTasks = failedTasks + o.failedTasks; r.sqlExecs = sqlExecs + o.sqlExecs
    r.taskMs = taskMs + o.taskMs; r.cpuNs = cpuNs + o.cpuNs
    r.shuffleRead = shuffleRead + o.shuffleRead; r.shuffleWrite = shuffleWrite + o.shuffleWrite
    r.spill = spill + o.spill; r.blocks = blocks + o.blocks; r.planningMs = planningMs + o.planningMs
    r.taskIntervals ++= taskIntervals
    r.taskIntervals ++= o.taskIntervals
    r
  }
}

/** Spark listener for the traced run: job, stage, task, block and SQL
  * execution events, attributed by job group (jobs, stages, tasks) or by the
  * operation label set between deterministic listener-bus drains (SQL
  * executions and stored blocks, which carry no job group). */
final class EngineProbe(tracer: Tracer) extends SparkListener {
  @volatile var label: String = "setup"
  private val byLabel = mutable.HashMap.empty[String, LayerCounters]
  private val stageLabel = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String, java.util.Properties)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execStart = mutable.HashMap.empty[Long, (Long, String)]

  private def counters(l: String): LayerCounters = byLabel.getOrElseUpdate(l, new LayerCounters)
  def snapshot(l: String): LayerCounters = synchronized(byLabel.getOrElse(l, new LayerCounters))

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(byGroup).getOrElse(label)
  /** Job groups the harness set; streaming jobs carry the engine's own run
    * id as their group and fall back to the current label. */
  private def byGroup(g: String): Boolean = g.startsWith("gb:")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val l = groupOf(e.properties).stripPrefix("gb:")
    counters(l).jobs += 1
    e.stageIds.foreach { s => stageLabel(s) = l; stageJob(s) = e.jobId }
    jobStart(e.jobId) = (e.time, l, e.properties)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, l, props) =>
      val id = tracer.nextId()
      val batch = Option(props).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      val run = Option(props).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      val key = (run, batch) match {
        case (Some(r), Some(b)) => s"addBatch:$r:$b"
        case _ => s"label:$l"
      }
      tracer.add(Span(l, id, 0L, s"job ${e.jobId}", "spark", t0 * 1000L, e.time * 1000L,
        Map("job" -> e.jobId, "ok" -> (e.jobResult == JobSucceeded)) ++
          batch.map("batch" -> _), key))
      tracer.key(s"job:${e.jobId}", id)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val l = stageLabel.getOrElse(info.stageId, label)
    counters(l).stages += 1
    for (a <- info.submissionTime; b <- info.completionTime)
      tracer.add(Span(l, tracer.nextId(), 0L, s"stage ${info.stageId}", "spark",
        a * 1000L, b * 1000L, Map("tasks" -> info.numTasks),
        parentKey = stageJob.get(info.stageId).map(j => s"job:$j").getOrElse("")))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageLabel.getOrElse(e.stageId, label))
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    Option(e.taskMetrics).foreach { m =>
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      counters(label).blocks += b.memSize + b.diskSize
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStart(s.executionId) = (s.time, label)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      execStart.remove(x.executionId).foreach { case (t0, l) =>
        val c = counters(l)
        val phases = Access.planningPhases(x)
        c.sqlExecs += 1
        c.planningMs += phases.values.map { case (a, b) => b - a }.sum
        val id = tracer.nextId()
        tracer.add(Span(l, id, 0L, s"sql ${x.executionId}", "spark", t0 * 1000L,
          x.time * 1000L, Map("execution" -> x.executionId), s"label:$l"))
        phases.foreach { case (p, (a, b)) =>
          tracer.add(Span(l, tracer.nextId(), id, p, "spark.planning", a * 1000L, b * 1000L))
        }
      }
    }
    case _ =>
  }
}

/** Streaming progress, accumulated through a listener: the query's own
  * `recentProgress` keeps only the last 100 updates. */
final class StreamProbe extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(runId: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

/** One micro-batch as the engine reported it. */
final case class Trigger(batchId: Long, startUs: Long, durMs: Map[String, Long],
    rows: Long, start: String, end: String, latest: String,
    stateRows: Long, stateMem: Long, stateCommitMs: Long, stateUpdateMs: Long,
    stateDropped: Long, queryId: String) {
  def totalMs: Long = durMs.getOrElse("triggerExecution", 0L)
  def endUs: Long = startUs + totalMs * 1000L
}

object Trigger {
  def apply(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Trigger = {
    val src = p.sources.head
    val st = p.stateOperators.headOption
    Trigger(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, Option(src.startOffset).getOrElse("{}"), src.endOffset, src.latestOffset,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
      st.map(_.commitTimeMs).getOrElse(0L), st.map(_.allUpdatesTimeMs).getOrElse(0L),
      st.map(_.numRowsDroppedByWatermark).getOrElse(0L), p.id.toString)
  }

  /** Phases in the order the micro-batch engine runs them. */
  val phases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Trigger span plus its phases laid end to end from the trigger start;
    * engine jobs of the batch attach to its addBatch phase by key. */
  def trace(tracer: Tracer, trace: String, parent: Long, t: Trigger): Unit = {
    val id = tracer.nextId()
    tracer.add(Span(trace, id, parent, s"trigger ${t.batchId}", "microbatch",
      t.startUs, t.endUs, Map("rows" -> t.rows)))
    var at = t.startUs
    phases.foreach { p =>
      t.durMs.get(p).foreach { ms =>
        val pid = tracer.nextId()
        val layer = if (p == "latestOffset" || p == "getBatch") "graft.sources.replay" else "microbatch"
        tracer.add(Span(trace, pid, id, p, layer, at, at + ms * 1000L))
        if (p == "addBatch") tracer.key(s"addBatch:${t.queryId}:${t.batchId}", pid)
        at += ms * 1000L
      }
    }
  }
}

/** Highest heap in use right after a GC, over the pools of heap type. */
final class HeapMonitor extends NotificationListener {
  @volatile private var peak = 0L
  @volatile var armed = false
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }
  override def handleNotification(n: Notification, hb: Any): Unit =
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }
  def peakMb: Double = peak / 1048576.0
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
