package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Wall clock in milliseconds since the epoch, at nanosecond resolution,
  * so harness spans and Spark listener event times share one axis.
  */
object Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epochMs + (System.nanoTime() - nano0) / 1e6
}

/** Largest heap-used-after-GC seen since the last reset, summed over the
  * heap pools each collection reports.
  */
object HeapMonitor {
  @volatile private var peak = -1L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapMonitor.synchronized { if (used > peak) peak = used }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = -1L }

  /** Peak since reset in MB; None when no collection ran. */
  def peakMb: Option[Double] = synchronized { if (peak < 0) None else Some(peak / 1048576.0) }
}

/** A timed interval: `parent` is the id of the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** Spark job and task counters, recorded per job so they can be summed
  * over any harness span the job started in.
  */
final class JobListener extends SparkListener {
  final case class Job(id: Int, startMs: Double, var endMs: Double = Double.NaN,
                       var tasks: Int = 0, var runMs: Double = 0, var gcMs: Double = 0,
                       var shuffleWrite: Long = 0, var spill: Long = 0,
                       var maxTaskMs: Double = 0)
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time.toDouble)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration.toDouble)
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Finished jobs that started inside [fromMs, toMs]. */
  def within(fromMs: Double, toMs: Double): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= fromMs - 1 && j.startMs <= toMs + 1)
      .map(_.copy()).toSeq
  }
}

/** In-memory span recorder for one traced run; written out at the end. */
final class Tracer(listener: JobListener) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var next = 1
  val runId = 1
  private val runStart = Clock.ms

  /** Times `body` as a span under `parent`; the body gets the new span's
    * id for its own children. Spark jobs that start inside it become its
    * children in [[finish]].
    */
  def span[T](name: String, kind: String, parent: Int = runId)(body: Int => T): (T, Span) = {
    next += 1
    val id = next
    val t0 = Clock.ms
    val r = body(id)
    val s = Span(id, parent, name, kind, t0, Clock.ms)
    spans += s
    (r, s)
  }

  /** Records an interval timed elsewhere; returns its id. */
  def record(name: String, kind: String, parent: Int, startMs: Double, endMs: Double): Int = {
    next += 1
    spans += Span(next, parent, name, kind, startMs, endMs)
    next
  }

  /** Recorded spans, one child span per Spark job (under the innermost
    * span the job started in), and the run span itself.
    */
  def finish(sc: org.apache.spark.SparkContext): Seq[Span] = {
    org.apache.spark.perfbench.BusDrain(sc)
    val jobSpans = listener.within(runStart, Clock.ms).map { j =>
      val owner = spans.filter(s => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1)
        .sortBy(_.durMs).headOption.map(_.id).getOrElse(runId)
      next += 1
      Span(next, owner, s"job ${j.id}", "spark-job", j.startMs, j.endMs,
        Map("tasks" -> j.tasks.toDouble, "executor_run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
          "shuffle_write_bytes" -> j.shuffleWrite.toDouble,
          "spill_bytes" -> j.spill.toDouble, "max_task_ms" -> j.maxTaskMs))
    }
    spans.toSeq ++ jobSpans :+ Span(runId, -1, "run", "run", runStart, Clock.ms)
  }

  /** Self time of `s`: its duration minus the union of its children. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var end = Double.NegativeInfinity
    kids.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    s.durMs - covered
  }
}

object Spans {
  def toJson(spans: Seq[Span], self: Span => Double): String =
    spans.sortBy(s => (s.startMs, s.id)).map { s =>
      val attrs = (s.attrs + ("self_ms" -> self(s))).toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": ${Report.num(v)}""" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""kind": "${s.kind}", "start_ms": ${Report.num(s.startMs)}, """ +
        s""""end_ms": ${Report.num(s.endMs)}, $attrs}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
