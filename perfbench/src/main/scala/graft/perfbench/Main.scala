package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark runner: one workload, one client, closed loop.
  *
  * Usage (normally through perfbench/run.py, which generates the inputs
  * and checks the oracle side):
  * {{{
  *   graft.perfbench.Main --workload <name> --seconds <s> --trace <0|1>
  *     --inputs <generated dir> --work <scratch dir> --report <json path>
  * }}}
  * The workload reads only the generated inputs; Spark runs local[4]
  * with 4 shuffle partitions and graft's spark.graft.* confs at their
  * defaults. The report holds every end-to-end metric, the per-operation
  * samples, the output checks and, when traced, the per-layer metrics. */
object Main {
  final case class Args(workload: String, seconds: Double, trace: Boolean,
      inputs: String, work: String, report: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seconds").toDouble, kv("trace") == "1",
      kv("inputs"), kv("work"), kv("report"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = new Ctx(spark, a, sessionS)
    val wl: Workload = a.workload match {
      case "ingest_maintain" => new IngestMaintain(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val report = ctx.execute(wl)
      Files.write(Paths.get(a.report), Json(report).getBytes("UTF-8"))
      if (ctx.tracer.enabled)
        Files.write(Paths.get(a.work, "spans.jsonl"),
          ctx.tracer.spanLines().mkString("", "\n", "\n").getBytes("UTF-8"))
    } finally spark.stop()
  }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The seeded inputs written by gen.py. */
final class Inputs(val dir: String) {
  val params: JValue = JsonMethods.parse(
    new String(Files.readAllBytes(Paths.get(dir, "params.json")), "UTF-8"))
  implicit val formats: Formats = DefaultFormats

  def sf: String = Paths.get(dir, "sf").toString
  def path(rel: String*): String = Paths.get(dir, rel: _*).toString
  def windows: List[JValue] = (params \ "windows").children
  def probes: List[JValue] = (params \ "probes").children
  def str(v: JValue, k: String): String = (v \ k).extract[String]
  def long(v: JValue, k: String): Long = (v \ k).extract[Long]
  def longs(v: JValue, k: String): List[Long] = (v \ k).extract[List[Long]]
}

/** One failed output check or operation, for the report. */
final case class Failure(what: String, detail: String)

/** Shared run state: the session, inputs, tracer, samples and checks. */
final class Ctx(val spark: SparkSession, val args: Main.Args, sessionS: Double) {
  val inputs = new Inputs(args.inputs)
  val tracer = new Tracer(spark, args.trace)
  val work: Path = Paths.get(args.work)
  /** Operation latencies in ms by (class, kind). */
  val samples = mutable.LinkedHashMap.empty[(String, String), ArrayBuffer[Double]]
  val failures = ArrayBuffer.empty[Failure]
  var attempted = 0L
  var checksRun = 0
  private var timedNs = 0L
  private val checkMs = mutable.LinkedHashMap.empty[String, Double]
  private val setupMs = mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Times one closed-loop operation of kind `kind` in class `cls`
    * (small/large); an exception is a failed operation, not a crash of
    * the run. */
  def op(cls: String, kind: String)(body: => Unit): Boolean = {
    attempted += 1
    tracer.newOp()
    val t0 = System.nanoTime()
    val ok = try { span(s"op.$cls.$kind")(body); true }
      catch { case NonFatal(e) => failures += Failure(s"$cls/$kind", e.toString); false }
    val dt = System.nanoTime() - t0
    timedNs += dt
    if (ok) samples.getOrElseUpdate((cls, kind), ArrayBuffer.empty) += dt / 1e6
    ok
  }

  /** A class's latency: the geometric mean over its kinds of each kind's
    * median, so every kind of operation moves it by its own ratio. */
  def classMs(cls: String): Double =
    Stats.geomean(samples.collect { case ((c, _), xs) if c == cls => Stats.median(xs.toSeq) }.toSeq)

  /** An output check, run outside the timed regions. */
  def check(name: String)(body: => Option[String]): Unit = {
    checksRun += 1
    val t0 = System.nanoTime()
    val res = try body catch { case NonFatal(e) => Some(e.toString) }
    checkMs(name) = (System.nanoTime() - t0) / 1e6
    res.foreach(d => failures += Failure(name, d))
  }

  /** Times one step of the set-up, for the report. */
  def setupStep[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupMs(name) = (System.nanoTime() - t0) / 1e6
  }

  def timedSeconds: Double = timedNs / 1e9

  def execute(wl: Workload): Json.Obj = {
    val t0 = System.nanoTime()
    wl.setup(work.resolve("state"))
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    tracer.recording = true
    if (args.trace) wl.runTraced() else wl.runTimed(deadline)
    tracer.recording = false
    val c0 = System.nanoTime()
    wl.checks()
    val checksS = (System.nanoTime() - c0) / 1e9
    val byClass = Seq("small", "large").map(c =>
      c -> samples.collect { case ((`c`, _), xs) => xs.toSeq }.flatten.toSeq)
    val e2e = Json.obj(
      "setup_s" -> setupS,
      "small_gmean_ms" -> classMs("small"),
      "large_gmean_ms" -> classMs("large"),
      "items_per_s" -> wl.items / timedSeconds,
      "stored_bytes_per_row" -> wl.storedBytesPerRow,
      "peak_rss_mb" -> Fs.peakRssMb())
    val perLayer: Map[String, Any] =
      if (!args.trace) Map.empty
      else {
        val layers = tracer.perLayer()
        Metrics.spanNames.flatMap { n =>
          val m = layers.getOrElse(n, Map.empty[String, Double])
          Metrics.measures.map(x => s"$n.$x" -> m.getOrElse(x, 0.0))
        }.toMap ++ Metrics.counterNames.map(n => n -> wl.counters.getOrElse(n, 0.0))
      }
    Json.obj(
      "workload" -> args.workload,
      "trace" -> args.trace,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.map(f => Json.obj("what" -> f.what, "detail" -> f.detail)),
      "checks_run" -> checksRun,
      "check_ms" -> ListMap(checkMs.toSeq: _*),
      "setup_ms" -> ListMap(setupMs.toSeq: _*),
      "session_s" -> sessionS,
      "timed_s" -> timedSeconds,
      "checks_s" -> checksS,
      "end_to_end" -> e2e,
      "classes" -> Json.obj(wl.classes.toSeq: _*),
      "tails" -> Json.obj(byClass.map { case (c, xs) =>
        c -> Stats.tail(xs).map { case (p, v) => Json.obj("percentile" -> p, "ms" -> v) }
      }: _*),
      "samples" -> ListMap(samples.toSeq.map { case ((c, k), v) => s"$c/$k" -> v.toSeq }: _*),
      "per_layer" -> ListMap(perLayer.toSeq.sortBy(_._1): _*),
      "detail" -> wl.detail)
  }
}

/** A workload: state built in setup, a closed-loop timed phase, a fixed
  * traced schedule, and output checks run after either. */
trait Workload {
  /** Builds the workload's state under `dir`. */
  def setup(dir: Path): Unit
  /** Runs operations until the deadline (the untraced run). */
  def runTimed(deadline: Long): Unit
  /** Runs a fixed, seed-determined schedule (the traced run), so the
    * per-span job counts repeat exactly for a seed. */
  def runTraced(): Unit
  def checks(): Unit
  /** What the small and large operation classes are, for the report. */
  def classes: Map[String, String]
  /** Work items completed in the timed region (rows, ops or docs). */
  def items: Double
  def storedBytesPerRow: Double
  /** Traced-run counters (ratios and totals) beyond the span measures. */
  def counters: Map[String, Double]
  def detail: Json.Obj
}

object Metrics {
  val measures: Seq[String] = Seq("ms", "jobs", "driver_ms", "shuffle_bytes", "spill_bytes")
  /** Every span the benchmark opens around a call into graft. */
  val spanNames: Seq[String] = Seq(
    // ingest_maintain
    "streaming.upsert_dv", "io.append", "io.delete_dv", "io.delete_rewrite",
    "io.view.refresh", "text.index.refresh", "similarity.index.refresh",
    "streaming.indexed_ingest", "text.functions", "dedup.near_dups",
    "dedup.components", "dedup.decontaminate", "io.export",
    // query_mix
    "queries.plan", "queries.exec", "etl.gold", "operators.join",
    "operators.window", "io.read", "text.probe", "similarity.topk")
  /** Counters reported by the traced run, beside the span measures. */
  val counterNames: Seq[String] = Seq(
    "io.bytes_written", "io.files_live", "io.view.incremental_ratio",
    "io.prune.files_ratio", "text.probe.files_ratio",
    "similarity.probe.files_ratio", "dedup.candidate_precision")
}
