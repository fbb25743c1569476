package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, get_json_object, struct, sum, to_json}

import graft.sources.replay.ShardPositions
import graft.streaming.{Consumer, ConsumerConfig, Producer, Record, StreamingOps}

/** stream-live: an open-loop record service (a separate process) feeds the
  * consumer over the network; decode, dedup within the watermark, and write
  * each micro-batch with the producer. */
object Live {
  /** When each record was due: the service's schedule, read from its
    * topology answer. Record `pos` of `shard` is due at
    * t0 + phase(shard) + pos * gap (epoch microseconds). */
  final case class Schedule(t0Us: Long, gapUs: Long, phaseUs: IndexedSeq[Long]) {
    def dueUs(shard: Int, pos: Long): Long = t0Us + phaseUs(shard) + pos * gapUs
  }

  object Schedule {
    def parse(topology: String): Schedule = {
      val t = kv(topology)
      Schedule(t("t0Micros").toLong, t("gapMicros").toLong,
        t("phaseMicros").split(",").map(_.toLong).toIndexedSeq)
    }
  }

  /** A delivered batch: when its output was written, and its offsets. */
  final case class Delivered(emitUs: Long, start: String, end: String)

  /** Latency (ms) of every record of the batches: its batch's emission
    * time minus its due time, from the batch's per-shard offset range. */
  def latencies(batches: Seq[Delivered], s: Schedule): Seq[Double] =
    batches.flatMap { b =>
      val from = ShardPositions.parse(b.start)
      ShardPositions.parse(b.end).positions.toSeq.flatMap { case (shard, until) =>
        (from(shard) until until).map(p => (b.emitUs - s.dueUs(shard, p)) / 1000.0)
      }
    }

  /** The latency arithmetic on a synthetic two-batch, four-shard sequence
    * whose answers are worked out by hand. */
  def latencySelfTest(): Boolean = {
    def pos(xs: (Int, Long)*) = ShardPositions(SortedMap(xs: _*)).json()
    val s = Schedule(1000000L, 1000L, IndexedSeq(0L, 250L, 500L, 750L))
    val got = latencies(Seq(
      Delivered(1003000L, pos(0 -> 0, 1 -> 0, 2 -> 0, 3 -> 0), pos(0 -> 2, 1 -> 1, 2 -> 0, 3 -> 1)),
      Delivered(1004500L, pos(0 -> 2, 1 -> 1, 2 -> 0, 3 -> 1), pos(0 -> 3, 1 -> 1, 2 -> 2, 3 -> 1))),
      s)
    got.sorted == Seq(2.0, 2.25, 2.5, 2.75, 3.0, 3.0, 4.0) &&
      Stats.pct(got, 0.5) == 2.75 && math.abs(Stats.pct(got, 0.9) - 3.4) < 1e-9
  }

  def get(url: String): String = {
    val conn = new java.net.URI(url).toURL.openConnection()
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(30000)
    val in = conn.getInputStream
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
  }

  /** A service answer's `key=value` lines. */
  private def kv(text: String): Map[String, String] =
    text.linesIterator.map(_.split("=", 2)).collect { case Array(k, v) => k.trim -> v.trim }.toMap

  val WarmSeconds = 5.0
  val MaxWarmSeconds = 20.0
  val CaughtUp = 2.5
  val Watermark = "10 seconds"

  def run(c: Ctx): Unit = {
    implicit val spark: SparkSession = c.spark
    import spark.implicits._
    val base = c.args("url")
    val root = c.tracer.nextId()
    val setupStart = Clock.nowUs()
    val setup = c.tracer.nextId()
    c.tracer.key("label:setup", setup)
    val sink = s"${c.work}/sink"
    val emitted = new ConcurrentHashMap[Long, java.lang.Long]()
    val writeMs = new ConcurrentHashMap[Long, java.lang.Double]()

    val shards = kv(get(s"$base/topology"))("numShards").toInt
    val decoded = StreamingOps.decode(Consumer.source(ConsumerConfig(
      streamPath = s"${c.work}/unused", numShards = shards,
      controlPlaneUrl = Some(s"$base/topology"), dataPlaneUrl = Some(s"$base/records"))))
    val deduped = StreamingOps.dedupWithinWatermark(decoded, Watermark)
    get(s"$base/start")
    val sched = Schedule.parse(get(s"$base/topology"))
    val q = deduped.writeStream
      .option("checkpointLocation", s"${c.work}/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val records = b.select(col("user_id").cast("string").as("key"),
          to_json(struct(col("event_id"), col("ts_us"), col("user_id"), col("event_type"),
            col("value"), col("props"))).cast("binary").as("data"),
          col("sequenceNumber"), col("subSequenceNumber"), col("shardId"),
          col("arrival").as("approximateArrivalTimestamp")).as[Record]
        val t0 = Clock.nowUs()
        Producer.write(records, s"$sink/batch=$id")
        val t1 = Clock.nowUs()
        emitted.put(id, t1)
        writeMs.put(id, (t1 - t0) / 1000.0)
        val qid = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        c.tracer.add(Span(s"batch$id", c.tracer.nextId(), 0L, "Producer.write",
          "graft.streaming", t0, t1, parentKey = s"addBatch:$qid:$id"))
        ()
      }.start()

    // Warm-up ends once the consumer has caught up with the start-up
    // backlog: two batches in a row whose oldest record waited at most
    // `CaughtUp` trigger durations (at least `WarmSeconds`, at most
    // `MaxWarmSeconds`).
    val warmFrom = System.nanoTime()
    def warmS = (System.nanoTime() - warmFrom) / 1e9
    def caughtUp: Boolean = {
      val done = c.streams.of(q.runId).map(Trigger(_))
        .filter(t => t.rows > 0 && emitted.containsKey(t.batchId)).takeRight(2)
      done.length == 2 && done.forall { t =>
        val oldest = latencies(Seq(Delivered(emitted.get(t.batchId), t.start, t.end)), sched).max
        oldest <= CaughtUp * t.totalMs
      }
    }
    while (warmS < MaxWarmSeconds && (warmS < WarmSeconds || !caughtUp)) Thread.sleep(100)
    c.out.record("warm_s") = warmS
    c.tracer.add(Span("setup", setup, root, "setup", "bench", setupStart, Clock.nowUs()))
    get(s"$base/stats?reset=1")
    c.startWindow()
    c.engine.label = "window"
    Thread.sleep((c.seconds * 1000).toLong)
    val windowEndUs = Clock.nowUs()
    val check = c.tracer.nextId()
    c.tracer.key("label:check", check)
    c.engine.label = "check"
    val gen = kv(get(s"$base/stats"))
    c.endWindow()
    // Bring the query to rest before stopping it, so no batch is cut short.
    get(s"$base/freeze")
    val restBy = System.nanoTime() + 20e9.toLong
    while ((q.status.isTriggerActive || q.status.isDataAvailable) && System.nanoTime() < restBy)
      Thread.sleep(50)
    q.stop()
    c.drain()
    c.out.check(q.exception.isEmpty) // the query itself did not fail
    val windowSpan = c.tracer.nextId()
    c.tracer.key("label:window", windowSpan)
    c.tracer.add(Span("window", windowSpan, root, "live window", "graft.streaming",
      c.windowStartUs, windowEndUs))
    // Batches that ran and wrote; idle progress reports carry no addBatch.
    val committed = c.streams.of(q.runId).map(Trigger(_))
      .filter(t => t.durMs.contains("addBatch") && emitted.containsKey(t.batchId))
    committed.foreach(t => Trigger.trace(c.tracer, s"batch${t.batchId}", root, t))
    val window = committed.filter(t => t.startUs >= c.windowStartUs && t.endUs <= windowEndUs)

    // Output check, per committed micro-batch: the ids it wrote are exactly
    // the first occurrences the service scheduled in its offset range, no
    // id is written twice, and batches tile the stream without gaps from
    // offset 0 on (batch 0 starts at the stream's beginning).
    val written = spark.read.parquet(sink)
      .where(col("batch").isin(committed.map(_.batchId): _*))
      .select(col("batch"), get_json_object(col("data").cast("string"), "$.event_id")
        .cast("long").as("id"))
    val perBatch = written.groupBy("batch")
      .agg(count("id").as("n"), countDistinct("id").as("d"), sum("id").as("s"))
      .collect().map(r => r.getAs[Number]("batch").longValue ->
        (r.getAs[Long]("n"), r.getAs[Long]("d"), Option(r.getAs[Number]("s")).fold(0L)(_.longValue)))
      .toMap
    val totals = written.agg(count("id"), countDistinct("id")).head()
    val noRepeats = totals.getLong(0) == totals.getLong(1)
    var prevEnd: Option[String] = None
    committed.foreach { t =>
      val from = ShardPositions.parse(t.start)
      val ranges = ShardPositions.parse(t.end).positions.map { case (s, e) =>
        s"$s:${from(s)}:$e" }.mkString(",")
      val want = kv(get(s"$base/expect?ranges=$ranges"))
      val (n, d, s) = perBatch.getOrElse(t.batchId, (0L, 0L, 0L))
      val contiguous = prevEnd match {
        case Some(p) => ShardPositions.parse(p).positions == from.positions
        case None => t.batchId == 0 && from.positions.values.forall(_ == 0L)
      }
      prevEnd = Some(t.end)
      c.out.check(noRepeats && contiguous && n == d &&
        n == want("n").toLong && s == want("sum").toLong)
    }
    c.out.check(committed.nonEmpty)
    c.out.check(latencySelfTest())

    val lat = latencies(window.map(t => Delivered(emitted.get(t.batchId), t.start, t.end)), sched)
    // Delivery rate between the first and the last batch written in the
    // window: the rows of every batch after the first, over that interval.
    val emits = window.map(t => emitted.get(t.batchId).longValue)
    c.out.e2e("throughput_rec_per_s") =
      if (window.length < 2) window.map(_.rows).sum / ((windowEndUs - c.windowStartUs) / 1e6)
      else window.drop(1).map(_.rows).sum / ((emits.last - emits.head) / 1e6)
    c.out.e2e("latency_p50_ms") = Stats.pct(lat, 0.5)
    c.out.e2e("latency_p90_ms") = Stats.pct(lat, 0.9)
    StreamMetrics.record(c, window)
    val L = c.out.layers
    L("state.rows_total") = window.map(_.stateRows).maxOption.getOrElse(0L).toDouble
    L("state.memory_bytes") = window.map(_.stateMem).maxOption.getOrElse(0L).toDouble
    L("state.commit_ms") = Stats.median(window.map(_.stateCommitMs.toDouble))
    L("state.update_ms") = Stats.median(window.map(_.stateUpdateMs.toDouble))
    L("state.rows_dropped_by_watermark") = window.map(_.stateDropped).sum.toDouble
    L("producer.write_ms_p50") = Stats.median(window.map(t => writeMs.get(t.batchId).doubleValue))
    L("producer.rows_written") = window.map(t => perBatch.get(t.batchId).fold(0L)(_._1)).sum.toDouble
    L("producer.files_written") = window.map { t =>
      Option(new java.io.File(s"$sink/batch=${t.batchId}").list()).fold(0)(
        _.count(f => f.startsWith("part-") && f.endsWith(".parquet")))
    }.sum.toDouble
    L("replay.dataplane_pages") = gen("pages").toDouble
    L("replay.dataplane_page_ms_p50") = gen("page_ms_p50").toDouble
    L("gen.late_ms_p99") = gen("late_ms_p99").toDouble
    c.tracer.add(Span("check", check, root, "check", "bench", windowEndUs, Clock.nowUs()))
    c.engineLayers(Seq((Seq("window"), c.windowStartUs, windowEndUs)))
    c.out.record ++= Seq("offered_rec_per_s" -> 1e6 * sched.phaseUs.length / sched.gapUs,
      "generator" -> gen, "window_triggers" -> window.length,
      "committed_batches" -> committed.length, "latency_samples" -> lat.length)
    c.tracer.add(Span("workload", root, 0L, "stream-live", "bench", setupStart, Clock.nowUs()))
  }
}
