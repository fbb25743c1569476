package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, shiftright, sum, xxhash64}

import graft.SparkEntry

/** curation: registered queries in a fixed order, one client, closed loop.
  * At these table sizes every query spends about half its wall time with no
  * task running (driver, planning and per-job overhead), and its stages run
  * about one task each; q159 and q353 run iterative loops of 27 and 36 jobs,
  * q124 and q123 about ten jobs each. */
object Curation {
  val Queries: Seq[String] = Seq("q159_pagerank", "q124_jaccard_prefix",
    "q123_editdist_join", "q353_image_dup_clusters")

  /** Tables each query reads; their rows are the pass's input records. */
  private val Inputs: Map[String, Seq[String]] = Map(
    "q159_pagerank" -> Seq("orders", "lineitem"), "q124_jaccard_prefix" -> Seq("documents"),
    "q123_editdist_join" -> Seq("customer"), "q353_image_dup_clusters" -> Seq("documents"))

  /** Warm passes after the checked first pass; pass times settle after it
    * in one JVM (see the run record's `passes`). */
  val WarmPasses = 1

  /** Row count and an order-insensitive digest of a query's output. */
  final case class Digest(rows: Long, xor: Long, sum: Long)

  final case class QueryRun(query: String, startUs: Long, endUs: Long, digest: Option[Digest])
  final case class Pass(index: Int, kind: String, startUs: Long, endUs: Long, runs: Seq[QueryRun])

  def run(c: Ctx): Unit = {
    val spark: SparkSession = c.spark
    val root = c.tracer.nextId()
    val setupStart = Clock.nowUs()
    val setup = c.tracer.nextId()
    c.tracer.key("label:setup", setup)
    val tables = s"${c.work}/tables"
    c.tracer.timed("setup", setup, "fixture", "bench") { _ =>
      Fixtures.curation(spark, c.seed, tables)
    }
    val checkDir = s"${c.work}/check"

    def runPass(i: Int, kind: String): Pass = c.tracer.timed(s"pass$i", root, "pass", "graft",
        Map("kind" -> kind)) { span =>
      val p0 = Clock.nowUs()
      val runs = Queries.map { q =>
        val label = s"pass$i/$q"
        c.engine.label = label
        spark.sparkContext.setJobGroup(s"gb:$label", label)
        val t0 = Clock.nowUs()
        val digest = c.tracer.timed(s"pass$i", span, q, "graft.operators") { qspan =>
          c.tracer.key(s"label:$label", qspan)
          try {
            val df = SparkEntry.queries(q)(spark, tables)
            val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
            val obs = Observation(s"digest_${i}_$q")
            val observed = df.observe(obs, count(lit(1)).as("rows"), bit_xor(h).as("x"),
              sum(shiftright(h, 24)).as("s"))
            if (kind == "check") observed.coalesce(1).write.parquet(s"$checkDir/$q")
            else observed.write.format("noop").mode("overwrite").save()
            val m = obs.get
            Some(Digest(m("rows").asInstanceOf[Long], Option(m("x")).fold(0L)(_.asInstanceOf[Long]),
              Option(m("s")).fold(0L)(_.asInstanceOf[Long])))
          } catch { case e: Exception =>
            System.err.println(s"[graftbench] $label failed: $e")
            None
          }
        }
        spark.sparkContext.clearJobGroup()
        c.drain()
        QueryRun(q, t0, Clock.nowUs(), digest)
      }
      Pass(i, kind, p0, Clock.nowUs(), runs)
    }

    val passes = mutable.ArrayBuffer.empty[Pass]
    passes += runPass(0, "check")
    val pin: Map[String, Option[Digest]] = passes.head.runs.map(r => r.query -> r.digest).toMap
    (1 to WarmPasses).foreach(i => passes += runPass(i, "warm"))
    c.tracer.add(Span("setup", setup, root, "setup", "bench", setupStart, Clock.nowUs()))
    c.startWindow()
    // At least two timed passes, so the median is not a single sample.
    do passes += runPass(passes.length, "timed")
    while (Clock.nowUs() - c.windowStartUs < c.seconds * 1e6 || passes.length < WarmPasses + 3)
    c.endWindow()

    // Output check: every pass reproduces the checked pass's digests; the
    // checked pass itself is compared with the DuckDB oracle after exit.
    passes.foreach(p => c.out.check(p.runs.forall(r => r.digest.isDefined && r.digest == pin(r.query))))
    val timed = passes.filter(_.kind == "timed").toSeq
    val passMs = timed.map(p => (p.endUs - p.startUs) / 1000.0)
    val inputRows = Queries.flatMap(Inputs).map(Fixtures.curationRows).sum.toDouble
    c.out.e2e("throughput_rec_per_s") = inputRows / (Stats.median(passMs) / 1000.0)
    c.out.e2e("op_p50_ms") = Stats.median(passMs)
    c.out.e2e("op_p90_ms") = Stats.pct(passMs, 0.9)
    // The curated output is complete when its pass ends: every input row of
    // a pass waits for the whole pass.
    c.out.e2e("latency_p50_ms") = c.out.e2e("op_p50_ms")
    c.out.e2e("latency_p90_ms") = c.out.e2e("op_p90_ms")

    c.out.record("passes") = passes.map(p => Map("pass" -> p.index, "kind" -> p.kind,
      "wall_s" -> (p.endUs - p.startUs) / 1e6,
      "queries" -> p.runs.map(r => r.query -> (r.endUs - r.startUs) / 1e6).toMap)).toSeq
    c.out.record("digests") = pin.map { case (q, d) =>
      q -> d.map(x => Map("rows" -> x.rows, "xor" -> x.xor, "sum" -> x.sum)) }
    c.out.record("oracle") = Map("tables" -> tables, "outputs" -> checkDir,
      "queries" -> Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)

    if (c.traced) {
      c.engineLayers(timed.map(p => (Queries.map(q => s"pass${p.index}/$q"), p.startUs, p.endUs)))
      Queries.foreach { q =>
        val rs = timed.map(p => (p.runs.find(_.query == q).get, c.engine.snapshot(s"pass${p.index}/$q")))
        val L = c.out.layers
        L(s"op.$q.wall_s") = Stats.median(rs.map { case (r, _) => (r.endUs - r.startUs) / 1e6 })
        L(s"op.$q.jobs") = Stats.median(rs.map(_._2.jobs.toDouble))
        L(s"op.$q.task_time_s") = Stats.median(rs.map(_._2.taskMs / 1000.0))
        L(s"op.$q.idle_s") = Stats.median(rs.map { case (r, k) => k.idleUs(r.startUs, r.endUs) / 1e6 })
      }
    }
    c.tracer.add(Span("workload", root, 0L, "curation", "bench", setupStart, Clock.nowUs()))
  }
}
