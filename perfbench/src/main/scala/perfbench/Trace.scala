package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Just enough JSON to write the run record; the Python side parses it. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

final case class Span(id: Int, parent: Int, name: String, op: String,
    pass: Int, startNs: Long, endNs: Long)

/** Spans the benchmark records around its own calls into each layer.
  * While a span is open its id is the Spark local property
  * [[Tracer.Property]], so the jobs it starts carry it to the listener.
  * A disabled tracer runs the body and records nothing. */
final class Tracer(sc: org.apache.spark.SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  var enabled = false

  def apply[T](name: String, op: String, pass: Int, parent: Int)(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = nextId
      nextId += 1
      val outer = sc.getLocalProperty(Tracer.Property)
      sc.setLocalProperty(Tracer.Property, id.toString)
      val t0 = System.nanoTime()
      try body(id)
      finally {
        done += Span(id, parent, name, op, pass, t0, System.nanoTime())
        sc.setLocalProperty(Tracer.Property, outer)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Tracer { val Property = "perfbench.span" }

/** Per-span counters filled by [[Collector]] and [[QeListener]]. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, inputRecords, outputBytes, outputRecords = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillDiskBytes = 0L
  var analysisMs, optimizerMs, planningMs = 0L

  def json: String = Json.obj(
    "jobs" -> jobs.toString, "stages" -> stages.toString, "tasks" -> tasks.toString,
    "run_ms" -> runMs.toString, "cpu_ns" -> cpuNs.toString, "gc_ms" -> gcMs.toString,
    "input_bytes" -> inputBytes.toString, "input_records" -> inputRecords.toString,
    "output_bytes" -> outputBytes.toString, "output_records" -> outputRecords.toString,
    "shuffle_write_bytes" -> shuffleWriteBytes.toString,
    "shuffle_read_bytes" -> shuffleReadBytes.toString,
    "fetch_wait_ms" -> fetchWaitMs.toString, "spill_disk_bytes" -> spillDiskBytes.toString,
    "analysis_ms" -> analysisMs.toString, "optimizer_ms" -> optimizerMs.toString,
    "planning_ms" -> planningMs.toString)
}

/** Scheduler, task and block-manager events, attributed to the span
  * named by the job's local property. Events of jobs started outside
  * any span are dropped. */
final class Collector extends SparkListener {
  private val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L

  private def counters(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
      .map(_.toInt).getOrElse(-1)
    if (span >= 0) {
      counters(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(span)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillDiskBytes += m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockManagerId.toString + "/" + info.blockId.name
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    blockBytes += size - blocks.getOrElse(id, 0L)
    if (size == 0L) blocks.remove(id) else blocks(id) = size
    blockPeak = math.max(blockPeak, blockBytes)
  }

  def addPhases(span: Int, qe: QueryExecution): Unit = synchronized {
    val c = counters(span)
    val phases = qe.tracker.phases
    phases.get("analysis").foreach(p => c.analysisMs += p.durationMs)
    phases.get("optimization").foreach(p => c.optimizerMs += p.durationMs)
    phases.get("planning").foreach(p => c.planningMs += p.durationMs)
  }

  /** Peak block-manager bytes since the last call; restarts from the
    * bytes held now. */
  def takeBlockPeak(): Long = synchronized {
    val p = blockPeak
    blockPeak = blockBytes
    p
  }

  def forSpan(span: Int): Option[Counters] = synchronized(bySpan.get(span))
}

/** Catalyst phase times of each finished query execution, charged to the
  * execution span that is current when the event is delivered. The
  * traced run drains the listener bus after every execution, so that
  * span is the one that ran the query. */
final class QeListener(collector: Collector) extends QueryExecutionListener {
  @volatile var current: Int = -1
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (current >= 0) collector.addPhases(current, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (current >= 0) collector.addPhases(current, qe)
}

/** Stop-the-world pause time, from the garbage collectors'
  * notifications. */
final class GcWatch {
  private val pauseMs = new AtomicLong(0L)

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          // G1's concurrent cycle reports wall time the mutator keeps running through
          if (!info.getGcName.contains("Concurrent")) pauseMs.addAndGet(info.getGcInfo.getDuration)
        }
      }, null, null)
    case _ => ()
  }

  def pauseTotalMs: Long = pauseMs.get
}
