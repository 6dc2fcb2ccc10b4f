package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into graft's public API.
  *
  * A span is (id, name, start, end, parent, op id). While a span is open
  * its id sits in the `perfbench.span` local property, so every Spark job
  * the call issues carries it; [[JobListener]] attributes each job's wall
  * interval, shuffle-write bytes and spill bytes to that span. Spans are
  * kept in memory and written out when the run ends.
  *
  * A disabled tracer runs the body and records nothing: the untraced runs
  * that report end-to-end metrics register no listener and set no
  * property. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var opId = 0L
  private val listener = new JobListener
  /** Spans are recorded only while set (the schedule, not setup or checks). */
  var recording = false
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Starts a new operation: spans opened until the next call share its id. */
  def newOp(): Long = { opId += 1; opId }

  def span[T](name: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val sc = spark.sparkContext
      val s = new Span(nextId, name, opId, stack.headOption.map(_.id).getOrElse(0L),
        System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Prop, prev)
        spans += s
      }
    }

  /** Waits for the listener bus, then folds jobs into per-name measures:
    * ms (span wall), jobs, driver_ms (span wall not covered by any of
    * its jobs), shuffle_bytes and spill_bytes. */
  def perLayer(): Map[String, Map[String, Double]] = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val jobsBySpan = listener.jobs.asScala.values.toSeq.groupBy(_.span)
    spans.toSeq.groupBy(_.name).map { case (name, ss) =>
      var ms, driverMs, shuffle, spill = 0.0
      var jobs = 0
      ss.foreach { s =>
        val js = jobsBySpan.getOrElse(s.id, Nil)
        jobs += js.size
        ms += (s.endNs - s.startNs) / 1e6
        val covered = union(js.map(j => (math.max(j.startMs, s.startMs),
          math.min(j.endMs, s.endMs))).filter(iv => iv._2 > iv._1))
        driverMs += math.max(0.0, (s.endNs - s.startNs) / 1e6 - covered)
        js.foreach { j => shuffle += j.shuffleBytes; spill += j.spillBytes }
      }
      name -> Map("ms" -> ms, "jobs" -> jobs.toDouble, "driver_ms" -> driverMs,
        "shuffle_bytes" -> shuffle, "spill_bytes" -> spill)
    }
  }

  /** Every span as one JSON line (name, start, end, parent, op, jobs). */
  def spanLines(): Seq[String] = {
    val jobsBySpan = listener.jobs.asScala.values.toSeq.groupBy(_.span)
    spans.toSeq.sortBy(_.id).map { s =>
      Json(Json.obj("id" -> s.id, "name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "jobs" -> jobsBySpan.getOrElse(s.id, Nil).map(_.jobId).sorted))
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"

  final class Span(val id: Long, val name: String, val op: Long,
      val parent: Long, val startNs: Long, val startMs: Long) {
    var endNs = 0L
    var endMs = 0L
  }

  final class JobRec(val jobId: Int, val span: Long, val startMs: Long) {
    @volatile var endMs: Long = startMs
    @volatile var shuffleBytes: Long = 0L
    @volatile var spillBytes: Long = 0L
  }

  /** Total length of the union of [start, end) intervals. */
  private def union(ivs: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Attributes jobs (and their stages' shuffle/spill) to the span whose
    * id the submitting thread carried in [[Prop]]. */
  final class JobListener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, JobRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      sid.foreach { id =>
        val rec = new JobRec(e.jobId, id.toLong, e.time)
        jobs.put(e.jobId, rec)
        e.stageIds.foreach(st => stageJob.putIfAbsent(st, rec))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { rec =>
        Option(e.stageInfo.taskMetrics).foreach { m =>
          rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }
}
