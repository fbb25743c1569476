package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{Trigger => SparkTrigger}

import graft.sources.replay.{ShardPositions, ShardStore}
import graft.streaming.{Consumer, ConsumerConfig}

/** Metrics every stream workload derives from its micro-batches. */
object StreamMetrics {
  def ms(ts: Seq[Trigger], phase: String): Seq[Double] =
    ts.map(_.durMs.getOrElse(phase, 0L).toDouble)

  /** Mean of a phase's whole-millisecond durations. The engine truncates
    * each to the millisecond, so a median of sub-millisecond phases reads 0;
    * the mean still estimates their true mean. */
  def meanMs(ts: Seq[Trigger], phase: String): Double =
    if (ts.isEmpty) 0.0 else ms(ts, phase).sum / ts.length

  /** Records behind the stream head after each batch. */
  def lag(t: Trigger): Long =
    if (t.latest == null || t.end == null) 0L
    else {
      val l = ShardPositions.parse(t.latest).positions
      val e = ShardPositions.parse(t.end).positions
      l.map { case (s, v) => math.max(0L, v - e.getOrElse(s, 0L)) }.sum
    }

  def record(c: Ctx, ts: Seq[Trigger]): Unit = {
    val L = c.out.layers
    L("replay.latest_offset_ms") = meanMs(ts, "latestOffset")
    L("replay.get_batch_ms") = meanMs(ts, "getBatch")
    L("replay.records_per_trigger") = Stats.median(ts.map(_.rows.toDouble))
    L("replay.lag_records_p90") = Stats.pct(ts.map(lag(_).toDouble), 0.9)
    L("microbatch.plan_ms") = Stats.median(ms(ts, "queryPlanning"))
    L("microbatch.add_batch_ms") = Stats.median(ms(ts, "addBatch"))
    L("microbatch.wal_commit_ms") = Stats.median(ms(ts, "walCommit"))
    L("microbatch.commit_offsets_ms") = Stats.median(ms(ts, "commitOffsets"))
    L("microbatch.self_ms") = Stats.median(ts.map(t =>
      (t.totalMs - Trigger.phases.map(t.durMs.getOrElse(_, 0L)).sum).toDouble))
    L("microbatch.triggers") = ts.length.toDouble
    c.out.e2e("op_p50_ms") = Stats.median(ts.map(_.totalMs.toDouble))
    c.out.e2e("op_p90_ms") = Stats.pct(ts.map(_.totalMs.toDouble), 0.9)
    c.out.record("trigger_ms") = ts.map(_.totalMs)
  }
}

/** stream-catchup: repeated fresh-checkpoint drains of a 1.2M-record
  * backlog on 16 shards, 100k records per trigger, into the noop sink. */
object CatchUp {
  val Shards = 16
  val PerTrigger = 100000L

  def run(c: Ctx): Unit = {
    implicit val spark: SparkSession = c.spark
    val root = c.tracer.nextId()
    val setupStart = Clock.nowUs()
    val setup = c.tracer.nextId()
    c.tracer.key("label:setup", setup)
    val (path, n) = c.tracer.timed("setup", setup, "fixture", "bench") { _ =>
      Fixtures.events(spark, c.seed, s"${c.work}/events")
    }
    val storeLoadS = c.tracer.timed("setup", setup, "ShardStore.shards", "graft.sources.replay") { _ =>
      val t = System.nanoTime()
      ShardStore.shards(path, Shards, hconf = spark.sparkContext.hadoopConfiguration)
      (System.nanoTime() - t) / 1e9
    }
    c.out.record("records") = n

    var drains = 0
    /** One drain; returns its interval and batches, or None if it failed. */
    def drain(): Option[(String, Long, Long, Seq[Trigger])] = {
      drains += 1
      val label = s"drain$drains"
      c.engine.label = label
      c.tracer.timed(label, root, "drain", "graft.streaming") { span =>
        c.tracer.key(s"label:$label", span)
        val t0 = Clock.nowUs()
        val result = try {
          val ds = Consumer.source(ConsumerConfig(streamPath = path, numShards = Shards,
            maxRecordsPerTrigger = Some(PerTrigger)))
          val q = Consumer.commitFlow(ds).writeStream.format("noop")
            .option("checkpointLocation", s"${c.work}/ckpt/$label")
            .trigger(SparkTrigger.AvailableNow()).start()
          q.awaitTermination()
          c.drain()
          Some(c.streams.of(q.runId).map(Trigger(_)))
        } catch { case e: Exception =>
          System.err.println(s"[graftbench] $label failed: $e")
          None
        }
        val t1 = Clock.nowUs()
        // Output check: every replicated record delivered exactly once.
        val ok = result.exists(_.map(_.rows).sum == n)
        c.out.check(ok)
        result.filter(_ => ok).map { ts =>
          ts.foreach(Trigger.trace(c.tracer, label, span, _))
          (label, t0, t1, ts)
        }
      }
    }

    val warm = drain().map { case (_, a, b, _) => (b - a) / 1e6 }
    c.out.record("warm_drain_s") = warm.toSeq
    c.tracer.add(Span("setup", setup, root, "setup", "bench", setupStart, Clock.nowUs()))
    c.startWindow()
    val timed = scala.collection.mutable.ArrayBuffer.empty[Option[(String, Long, Long, Seq[Trigger])]]
    do timed += drain() while (Clock.nowUs() - c.windowStartUs < c.seconds * 1e6)
    c.endWindow()
    val ok = timed.flatten.toSeq
    val triggers = ok.flatMap(_._4)
    c.out.e2e("throughput_rec_per_s") = Stats.median(ok.map { case (_, a, b, _) => n / ((b - a) / 1e6) })
    // A backlog record is available when its drain starts and is delivered
    // when its batch ends; a batch's records share that latency.
    val lat = ok.flatMap { case (_, a, _, ts) => ts.map(t => ((t.endUs - a) / 1000.0, t.rows)) }
    c.out.e2e("latency_p50_ms") = Stats.wpct(lat, 0.5)
    c.out.e2e("latency_p90_ms") = Stats.wpct(lat, 0.9)
    StreamMetrics.record(c, triggers)
    c.out.layers("replay.store_load_s") = storeLoadS
    c.out.record("drain_s") = ok.map { case (_, a, b, _) => (b - a) / 1e6 }
    c.engineLayers(ok.map { case (l, a, b, _) => (Seq(l), a, b) })
    c.tracer.add(Span("workload", root, 0L, "stream-catchup", "bench", setupStart, Clock.nowUs()))
  }
}
