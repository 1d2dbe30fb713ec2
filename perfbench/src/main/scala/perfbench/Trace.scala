package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the harness's records (numbers, strings,
  * booleans, sequences and maps; NaN/inf become null). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}

/** Spans at the benchmark's calls into each layer: name, layer, start,
  * end, parent, run id. Kept in memory while the run measures and written
  * as JSONL at the end. Disabled, `span` is a plain call. */
final class Tracer(var enabled: Boolean, runId: String) {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, name, layer, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def lines: Seq[String] = spans.toSeq.sortBy(_.id).map { s =>
    Json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        startNs: Long, endNs: Long)
}

/** Spark runtime counters attributed by job group: the harness sets its
  * own group around each call, and every job, stage and task of the call
  * is credited to that group. */
final class GroupCounters extends SparkListener {
  final class Counter {
    var jobs, stages, tasks, failedTasks = 0L
    var taskMs, schedDelayMs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "task_s" -> taskMs / 1e3,
      "sched_delay_s" -> schedDelayMs / 1e3, "gc_s" -> gcMs / 1e3,
      "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill)
  }

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, Counter]()
  private def counter(g: String) = counters.computeIfAbsent(g, _ => new Counter)

  private def groupOf(stageId: Int): Option[Counter] =
    Option(stageGroup.get(stageId)).map(counter)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    val c = counter(g)
    c.synchronized(c.jobs += 1)
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    groupOf(e.stageInfo.stageId).foreach(c => c.synchronized(c.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    groupOf(e.stageId).foreach { c =>
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        val m = e.taskMetrics
        val info = e.taskInfo
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          if (info != null && info.finishTime > 0) {
            // the scheduler delay the Spark UI reports
            val overhead = m.executorDeserializeTime + m.resultSerializationTime
            c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
              overhead - info.gettingResultTime)
          }
        }
      }
    }

  /** Counters per group, after every pending event has been delivered. */
  def snapshot(sc: SparkContext): Map[String, Map[String, Any]] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    counters.asScala.map { case (g, c) => g -> c.synchronized(c.toMap) }.toMap
  }

  /** Jobs credited to one group so far. */
  def jobs(sc: SparkContext, group: String): Long = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Option(counters.get(group)).map(c => c.synchronized(c.jobs)).getOrElse(0L)
  }
}
