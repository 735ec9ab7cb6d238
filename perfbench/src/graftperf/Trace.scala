package graftperf

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.graftperf.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Minimal JSON writer: objects keep field order, numbers print in full. */
final case class Obj(fields: (String, Any)*)

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Stats {
  /** Nearest-rank quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** The highest of p50/p75/p90/p95/p99 that leaves at least ten samples
   * above it, or None when the sample is too small for any of them. */
  def tailPercentile(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size - math.ceil(p / 100.0 * xs.size) >= 10)
      .map(p => p -> quantile(xs, p / 100.0))
}

/** One traced interval: a layer call made from the benchmark's own code. */
final case class Span(id: Int, parent: Int, name: String, run: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, it only evaluates the body. */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  var enabled = false
  var run = 0
  private var stack: List[Int] = Nil
  private var nextId = 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, run, t0, System.nanoTime())
      }
    }

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}

/** Task-level totals of the Spark jobs one scoped call submitted. */
final class TaskAgg {
  var jobs = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var gcMs = 0L
  val taskMs = ArrayBuffer[Double]()

  def add(o: TaskAgg): Unit = {
    jobs += o.jobs; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes; gcMs += o.gcMs
    taskMs ++= o.taskMs
  }
}

/** A SparkListener whose totals are scoped to one call: jobs submitted
 * from the calling thread inside [[scoped]] carry a local property, and
 * their stages' task-end events are attributed to that scope. */
final class ScopedTaskStats(sc: SparkContext) extends SparkListener {
  private val Key = "graftperf.scope"
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val aggs = new ConcurrentHashMap[String, TaskAgg]()
  private var next = 0

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val scope = Option(j.properties).flatMap(p => Option(p.getProperty(Key)))
    scope.foreach { s =>
      val a = aggs.computeIfAbsent(s, _ => new TaskAgg)
      a.synchronized { a.jobs += 1 }
      j.stageIds.foreach(stageScope.put(_, s))
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageScope.get(t.stageId)).foreach { s =>
      val a = aggs.computeIfAbsent(s, _ => new TaskAgg)
      val m = t.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (t.taskInfo != null) a.taskMs += t.taskInfo.duration.toDouble
        if (m != null) {
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          a.spillBytes += m.diskBytesSpilled
          a.gcMs += m.jvmGCTime
        }
      }
    }

  def scoped[T](body: => T): (T, TaskAgg) = {
    next += 1
    val id = s"s$next"
    sc.setLocalProperty(Key, id)
    val out = try body finally sc.setLocalProperty(Key, null)
    ListenerDrain(sc)
    (out, Option(aggs.remove(id)).getOrElse(new TaskAgg))
  }
}
