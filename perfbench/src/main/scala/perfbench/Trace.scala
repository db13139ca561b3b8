package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bus

/** Bench-owned tracing. Spans wrap the benchmark's calls into the engine's
  * public API; nothing inside the engine is instrumented. Each span carries
  * its id as a Spark job tag on the calling thread, so every job, stage and
  * SQL execution it triggers (AQE stage jobs and broadcast threads inherit
  * the thread's tags) is attributed to the innermost open span.
  *
  * Until [[start]] (and after [[stop]]) a span is a plain call: no tag, no
  * record, and no listener is registered.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  @volatile private var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()
  private val sc = spark.sparkContext
  val collector = new Collector

  /** Register the listener and start recording spans. */
  def start(): Unit = if (!on) {
    sc.addSparkListener(collector)
    on = true
  }

  /** Stop recording and unregister, after the bus has delivered every event. */
  def stop(): Unit = if (on) {
    on = false
    Bus.drain(sc)
    sc.removeSparkListener(collector)
  }

  def span[A](name: String, tag: String = "")(f: => A): A =
    if (!on) f
    else {
      val parent = current.get()
      val s = new Span(ids.incrementAndGet(), name, tag,
        if (parent == null) 0L else parent.id,
        if (parent == null) 0L else parent.root,
        System.currentTimeMillis(), System.nanoTime())
      if (parent != null) sc.removeJobTag(TagPrefix + parent.id)
      sc.addJobTag(TagPrefix + s.id)
      current.set(s)
      try f
      finally {
        s.durNs = System.nanoTime() - s.t0
        sc.removeJobTag(TagPrefix + s.id)
        if (parent != null) sc.addJobTag(TagPrefix + parent.id)
        current.set(parent)
        spans.add(s)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Spans as JSON lines: name, tag, start, end, parent, span id, root. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try allSpans.sortBy(_.id).foreach { s =>
      w.write(f"""{"id":${s.id},"parent":${s.parent},"root":${s.root},""" +
        s""""name":"${s.name}","tag":"${s.tag}","start_ms":${s.startMs},""" +
        f""""end_ms":${s.startMs + s.durMs}%.3f}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  val TagPrefix = "perfbench-span-"

  final class Span(val id: Long, val name: String, val tag: String,
      val parent: Long, rootOrZero: Long, val startMs: Long, val t0: Long) {
    val root: Long = if (rootOrZero == 0L) id else rootOrZero
    @volatile var durNs: Long = 0L
    def durMs: Double = durNs / 1e6
  }

  /** Per-task metrics summed over one stage attempt. */
  final class StageRec(val stageId: Int, val span: Long) {
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var inputRecords = 0L
    var inputBytes = 0L
    var outputRecords = 0L
    var outputBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  final case class JobRec(jobId: Int, span: Long, startMs: Long, var endMs: Long)

  private def spanOf(tags: Iterable[String]): Long =
    tags.collectFirst { case t if t.startsWith(TagPrefix) =>
      t.stripPrefix(TagPrefix).toLong }.getOrElse(0L)

  private def spanOf(p: java.util.Properties): Long =
    if (p == null) 0L
    else Option(p.getProperty("spark.job.tags"))
      .fold(0L)(s => spanOf(s.split(",").toSeq))

  /** Listener state, written only on the listener-bus thread and read
    * after [[Trace.stop]] has drained the bus.
    */
  final class Collector extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
    val sqlExecSpan = mutable.Map.empty[Long, Long]
    // (execution id, planning ms) per ended SQL execution (one per action)
    val actions = mutable.ArrayBuffer.empty[(Long, Long)]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = JobRec(e.jobId, spanOf(e.properties), e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      stages(k) = new StageRec(e.stageInfo.stageId, spanOf(e.properties))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
        s.tasks += 1
        s.taskMs += e.taskInfo.duration
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputRecords += m.inputMetrics.recordsRead
          s.inputBytes += m.inputMetrics.bytesRead
          s.outputRecords += m.outputMetrics.recordsWritten
          s.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        sqlExecSpan(s.executionId) = spanOf(s.jobTags)
      }
      // the same query execution a QueryExecutionListener receives, but
      // keyed by execution id, which the start event ties to a span
      case s: SparkListenerSQLExecutionEnd => synchronized {
        actions += ((s.executionId, Bus.planningMs(s)))
      }
      case _ =>
    }
  }
}
