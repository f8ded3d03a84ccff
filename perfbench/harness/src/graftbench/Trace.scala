package graftbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Harness-side tracing. Spans (pass → op → phase) are opened around
  * the calls into the engine and kept in memory; each phase sets a
  * Spark job group naming its span, so a listener can hang every job
  * it launches under that span together with the job's task metrics.
  * Everything is written out once, at the end of the run.
  *
  * With tracing off, only the job counter runs: spans are not
  * recorded, no job group is set and task events are ignored. */
final class Trace(spark: SparkSession, cores: Int, enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nanoAnchor = System.nanoTime()
  private val msAnchor = System.currentTimeMillis()

  private final class Span(val id: Int, val parent: Int, val name: String,
                           val layer: String, val kind: String, val t0: Long) {
    var t1: Long = -1L
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var recording = false

  private val listener = new Listener
  sc.addSparkListener(listener)

  private val seenFiles = mutable.Set.empty[String]

  def beginPass(traced: Boolean): Unit = {
    PerfbenchBridge.drain(sc)
    listener.takeJobCount() // jobs launched since the last pass ended
    recording = enabled && traced
    if (recording) open("pass", "harness", "pass")
  }

  /** Drains the listener bus and returns the number of jobs the pass
    * launched. */
  def endPass(): Long = {
    if (recording) close(stack.top.id)
    PerfbenchBridge.drain(sc)
    recording = false
    listener.takeJobCount()
  }

  def open(name: String, layer: String, kind: String): Int =
    if (!recording) -1
    else {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, layer, kind,
        System.nanoTime())
      spans += s
      stack.push(s)
      s.id
    }

  def close(id: Int): Unit = if (id >= 0) {
    val s = stack.pop()
    require(s.id == id, s"span ${s.id} closed out of order (expected $id)")
    s.t1 = System.nanoTime()
  }

  def phase[T](name: String, layer: String)(body: => T): T = {
    val id = open(name, layer, "phase")
    if (id >= 0) sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    try body
    finally {
      if (id >= 0) sc.clearJobGroup()
      close(id)
    }
  }

  /** Files under `root` not seen by an earlier call. */
  def newFiles(root: String): Int = {
    def walk(f: File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f.getPath)
    walk(new File(root)).count(seenFiles.add)
  }

  private def sec(ns: Long): Double = (ns - nanoAnchor) / 1e9
  private def secMs(ms: Long): Double = (ms - msAnchor) / 1e3

  def write(out: ObjectNode): Unit = {
    PerfbenchBridge.drain(sc)
    out.put("cores", cores)
    val arr = out.putArray("spans")
    for (s <- spans) arr.addObject()
      .put("id", s.id).put("parent", s.parent).put("name", s.name)
      .put("layer", s.layer).put("kind", s.kind)
      .put("t0", sec(s.t0)).put("t1", sec(s.t1))
    val jobs = out.putArray("jobs")
    for (j <- listener.jobs.values.toSeq.sortBy(_.id)) {
      val o = jobs.addObject()
        .put("id", j.id).put("parent", j.parent)
        .put("t0", secMs(j.start)).put("t1", secMs(j.end))
        .put("stages", j.stages).put("tasks", j.tasks).put("failed_tasks", j.failed)
      for ((k, v) <- j.metrics) o.put(k, v)
    }
  }

  private final class JobRec(val id: Int, val parent: Int, val start: Long) {
    var end = start
    var stages = 0
    var tasks = 0
    var failed = 0
    val metrics = mutable.LinkedHashMap(
      "task_run_s" -> 0.0, "task_cpu_s" -> 0.0, "gc_s" -> 0.0, "sched_delay_s" -> 0.0,
      "shuffle_write_mb" -> 0.0, "shuffle_read_mb" -> 0.0, "spill_mb" -> 0.0,
      "input_mb" -> 0.0, "output_mb" -> 0.0)
    def add(k: String, v: Double): Unit = metrics(k) += v
  }

  private final class Listener extends SparkListener {
    private val started = new AtomicLong
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    private val stageJob = mutable.Map.empty[Int, JobRec]

    def takeJobCount(): Long = started.getAndSet(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet()
      if (recording) {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        val parent = g.filter(_.startsWith("span-")).fold(-1)(_.stripPrefix("span-").toInt)
        val j = new JobRec(e.jobId, parent, e.time)
        jobs(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = j)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageJob.get(e.stageId)) {
        j.tasks += 1
        if (e.reason != Success) j.failed += 1
        val m = e.taskMetrics
        val info = e.taskInfo
        if (m != null) {
          j.add("task_run_s", m.executorRunTime / 1e3)
          j.add("task_cpu_s", m.executorCpuTime / 1e9)
          j.add("gc_s", m.jvmGCTime / 1e3)
          j.add("sched_delay_s", math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)) / 1e3)
          j.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          j.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
          j.add("spill_mb", m.diskBytesSpilled / 1e6)
          j.add("input_mb", m.inputMetrics.bytesRead / 1e6)
          j.add("output_mb", m.outputMetrics.bytesWritten / 1e6)
        }
      }
  }
}
