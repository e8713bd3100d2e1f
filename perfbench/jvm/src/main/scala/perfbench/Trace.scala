package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call from the benchmark into a layer of the engine. */
final case class Span(id: Long, parent: Long, name: String, req: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled (the untraced run) it only runs the
  * body; enabled it keeps every span until [[Out]] writes them at exit. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, req: String = "", parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, parent, name, req, t0, System.nanoTime()))
    }
}

/** Per-tag Spark work counters. A tag is the `perfbench.tag` local property
  * the benchmark sets around a direct call, or `batch:<id>` for the jobs of
  * a streaming micro-batch. */
final class TagCounters {
  val jobs = new LongAdder
  val tasks = new LongAdder
  val shuffleBytes = new LongAdder
  val outputBytes = new LongAdder
}

/** SparkListener: executor run time overall; job and task counts, shuffle
  * and output bytes per tag. */
final class WorkListener extends SparkListener {
  val tags = new ConcurrentHashMap[String, TagCounters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  val runMs = new LongAdder

  private def counters(tag: String) = tags.computeIfAbsent(tag, _ => new TagCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty("perfbench.tag")))
      .orElse(props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(b => s"batch:$b"))
    tag.foreach { t =>
      counters(t).jobs.increment()
      e.stageIds.foreach(s => stageTag.put(s, t))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) runMs.add(m.executorRunTime)
    Option(stageTag.get(e.stageId)).foreach { t =>
      val c = counters(t)
      c.tasks.increment()
      if (m != null) {
        c.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
        c.outputBytes.add(m.outputMetrics.bytesWritten)
      }
    }
  }

  def tagSummary: Map[String, Map[String, Long]] =
    tags.asScala.map { case (t, c) =>
      t -> Map("jobs" -> c.jobs.sum, "tasks" -> c.tasks.sum,
        "shuffle_bytes" -> c.shuffleBytes.sum, "output_bytes" -> c.outputBytes.sum)
    }.toMap
}

/** Micro-batch progress as the streaming listener reports it. */
final case class BatchProgress(batchId: Long, rows: Long, durations: Map[String, Long])

final class ProgressListener extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add(BatchProgress(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

/** A measurement window: wall time, executor run time and GC time inside it. */
final case class Window(name: String, startNs: Long, endNs: Long, runMs: Long, gcMs: Long)

object Window {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Runs `body` and returns its window. The listener bus is asynchronous:
    * a short settle after the body lets the last task events land. */
  def measure[T](name: String, l: WorkListener)(body: => T): (T, Window) = {
    val (r0, g0) = (l.runMs.sum, gcMs)
    val start = System.nanoTime()
    val out = body
    val end = System.nanoTime()
    Thread.sleep(300)
    (out, Window(name, start, end, l.runMs.sum - r0, gcMs - g0))
  }
}
