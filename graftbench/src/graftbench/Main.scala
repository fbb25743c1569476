package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.Access

import graft.GraftSession

/** What one run measured. End-to-end metrics are reported from untraced
  * runs; layer metrics from the traced run. Every operation is checked, and
  * a failed check counts against `attempted`. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val record = mutable.LinkedHashMap.empty[String, Any]
  def check(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
}

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val args: Map[String, String]) {
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val work: String = args("work")
  val cores: Int = args("cores").toInt
  val t0Us: Long = args("t0-ms").toLong * 1000L
  val tracer = new Tracer(traced)
  val streams = new StreamProbe
  val engine = new EngineProbe(tracer)
  val heap = new HeapMonitor
  val out = new Outcome
  spark.streams.addListener(streams)
  if (traced) spark.sparkContext.addSparkListener(engine)

  def drain(): Unit = Access.drainListenerBus(spark.sparkContext)

  /** Marks the start of the timed window: set-up ends here. */
  private var gc0 = 0L
  var windowStartUs = 0L
  def startWindow(): Unit = {
    drain()
    windowStartUs = Clock.nowUs()
    out.e2e("setup_s") = (windowStartUs - t0Us) / 1e6
    gc0 = heap.gcMs
    heap.armed = true
  }
  /** Ends the timed window; one GC at the end guarantees a live-set reading. */
  def endWindow(): Unit = {
    System.gc()
    Thread.sleep(50) // the GC notification is delivered on a JMX thread
    heap.armed = false
    out.e2e("peak_heap_mb") = heap.peakMb
    out.layers("jvm.gc_s") = (heap.gcMs - gc0) / 1000.0
    out.record("window_s") = (Clock.nowUs() - windowStartUs) / 1e6
  }

  /** Engine counters of the timed operations, reported per operation. Each
    * operation is the labels it ran under and its interval (epoch us). */
  def engineLayers(ops: Seq[(Seq[String], Long, Long)]): Unit = if (traced && ops.nonEmpty) {
    drain()
    val cs = ops.map { case (ls, a, b) => (ls.map(engine.snapshot).reduce(_ + _), a, b) }
    val n = ops.length.toDouble
    def per(f: LayerCounters => Double) = cs.map(c => f(c._1)).sum / n
    val L = out.layers
    L("spark.sql_executions") = per(_.sqlExecs.toDouble)
    L("spark.jobs") = per(_.jobs.toDouble)
    L("spark.stages") = per(_.stages.toDouble)
    L("spark.tasks") = per(_.tasks.toDouble)
    L("spark.planning_s") = per(_.planningMs / 1000.0)
    L("spark.task_time_s") = per(_.taskMs / 1000.0)
    L("spark.task_cpu_s") = per(_.cpuNs / 1e9)
    L("spark.shuffle_read_bytes") = per(_.shuffleRead.toDouble)
    L("spark.shuffle_write_bytes") = per(_.shuffleWrite.toDouble)
    L("spark.spill_bytes") = per(_.spill.toDouble)
    L("spark.failed_tasks") = cs.map(_._1.failedTasks).sum.toDouble
    L("spark.blocks_stored_bytes") = per(_.blocks.toDouble)
    val wallMs = cs.map { case (_, a, b) => (b - a) / 1000.0 }.sum
    L("spark.core_busy") = if (wallMs > 0) cs.map(_._1.taskMs).sum / (wallMs * cores) else 0.0
    L("spark.idle_s") = cs.map { case (c, a, b) => c.idleUs(a, b) / 1e6 }.sum / n
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = GraftSession.local(args("cores").toInt, "graftbench")
    val ctx = new Ctx(spark, args)
    val rt = ManagementFactory.getRuntimeMXBean
    ctx.out.record ++= Seq(
      "workload" -> args("workload"), "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.traced, "cores" -> ctx.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "spark_version" -> spark.version)
    try args("workload") match {
      case "stream-catchup" => CatchUp.run(ctx)
      case "stream-live" => Live.run(ctx)
      case "curation" => Curation.run(ctx)
      case w => sys.error(s"unknown workload $w")
    } finally {
      if (ctx.traced) ctx.tracer.write(args("spans"))
      val o = ctx.out
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args("result")), Json(Map(
        "attempted" -> o.attempted, "failed" -> o.failed, "e2e" -> o.e2e,
        "layers" -> o.layers, "record" -> o.record)))
      spark.stop()
    }
  }
}
