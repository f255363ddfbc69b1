package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory spans recorded around the benchmark's own calls into each
  * layer. Disabled (every call a pass-through) in untraced runs. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, stmt: Long, name: String,
                        startNs: Long, endNs: Long, group: String)

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] { // (span id, statement id)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  /** Runs `body` inside a span; a top-level span opens a new statement.
    * `group` names the Spark job group the span's work runs under. */
  def span[A](name: String, group: String = "")(body: => A): A = {
    if (!enabled) return body
    val (parent, stmt0) = current.get()
    val id = ids.incrementAndGet()
    val stmt = if (parent == 0L) id else stmt0
    current.set((id, stmt))
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, stmt, name, t0, System.nanoTime(), group))
      current.set((parent, stmt0))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Self time per span name: duration minus the union of its children. */
  def selfMs: Map[String, Seq[Double]] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var end = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a >= end) { covered += b - a; end = b }
          else if (b > end) { covered += b - end; end = b }
        }
        (s.endNs - s.startNs - covered) / 1e6
      }
    }
  }

  /** Spans as JSON; a span with a job group carries that group's
    * listener counts. */
  def json(countsOf: String => Map[String, Double]): String = all.map { s =>
    val counts = (if (s.group.isEmpty) Map.empty[String, Double] else countsOf(s.group))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"stmt":${s.stmt},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counts":$counts}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Scheduler and execution counts, per Spark job group, from listener
  * events. Only counters the benchmark reads are kept. */
final class Counters extends SparkListener {
  final class C {
    val jobs, stages, tasks = new AtomicLong
    val taskNs, cpuNs, gcMs, shufWrite, shufRead, spill, recordsWritten, queueMs = new AtomicLong
    val stageWallMs = new AtomicLong
    def toMap: Map[String, Double] = Map(
      "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble, "tasks" -> tasks.get.toDouble,
      "task_s" -> taskNs.get / 1e9, "cpu_s" -> cpuNs.get / 1e9, "gc_s" -> gcMs.get / 1e3,
      "shuffle_write_mb" -> shufWrite.get / 1e6, "shuffle_read_mb" -> shufRead.get / 1e6,
      "spill_mb" -> spill.get / 1e6, "records_written" -> recordsWritten.get.toDouble,
      "queue_ms" -> queueMs.get.toDouble, "stage_wall_s" -> stageWallMs.get / 1e3)
  }
  private val groups_ = new java.util.concurrent.ConcurrentHashMap[String, C]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val events = new AtomicLong

  private def of(g: String): C = groups_.computeIfAbsent(if (g == null) "" else g, _ => new C)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    of(g).jobs.incrementAndGet()
    js.stageIds.foreach(s => stageGroup.put(s, if (g == null) "" else g))
  }
  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    stageSubmit.put(ss.stageInfo.stageId, System.currentTimeMillis())
  }
  override def onTaskStart(ts: SparkListenerTaskStart): Unit = {
    val sub = stageSubmit.remove(ts.stageId) // 0 unless this is the stage's first task
    if (sub > 0) of(stageGroup.get(ts.stageId)).queueMs.addAndGet(ts.taskInfo.launchTime - sub)
  }
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val c = of(stageGroup.get(sc.stageInfo.stageId))
    c.stages.incrementAndGet()
    for (s <- sc.stageInfo.submissionTime; e <- sc.stageInfo.completionTime)
      c.stageWallMs.addAndGet(e - s)
  }
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val c = of(stageGroup.get(te.stageId))
    c.tasks.incrementAndGet()
    val m = te.taskMetrics
    if (m != null) {
      c.taskNs.addAndGet(m.executorRunTime * 1000000L)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      c.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  /** Waits until no listener event arrived for a short quiet period. */
  def quiesce(maxMs: Long = 5000): Unit = {
    val t0 = System.currentTimeMillis()
    var last = -1L
    while (events.get != last && System.currentTimeMillis() - t0 < maxMs) {
      last = events.get
      Thread.sleep(100)
    }
  }

  def groups: Seq[String] = groups_.keys.asScala.toSeq

  def group(g: String): Map[String, Double] = Option(groups_.get(g)).map(_.toMap).getOrElse(new C().toMap)

  /** Sum over every group. */
  def total(): Map[String, Double] =
    groups_.values.asScala.map(_.toMap)
      .foldLeft(new C().toMap)((a, b) => a.map { case (k, v) => k -> (v + b(k)) })

  def reset(): Unit = groups_.clear()
}
