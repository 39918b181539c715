package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Bytes allocated by the JVM's threads, read from the per-thread counters.
  * A snapshot is taken while every thread that did the work is still alive
  * (before streaming queries stop), so nothing is lost with a dead thread. */
object Alloc {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def snapshot(): Map[Long, Long] = {
    val ids = mx.getAllThreadIds
    val bytes = mx.getThreadAllocatedBytes(ids)
    ids.indices.collect { case i if bytes(i) >= 0 => ids(i) -> bytes(i) }.toMap
  }

  /** Bytes allocated between two snapshots (threads born in between count
    * from zero). */
  def between(a: Map[Long, Long], b: Map[Long, Long]): Long =
    b.iterator.map { case (id, v) => v - a.getOrElse(id, 0L) }.filter(_ > 0).sum
}

/** Collector time and count summed over the JVM's garbage collectors. */
object Gc {
  def snapshot(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }
}

/** Task and job counters from a listener on Spark's bus (traced runs). */
class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val cpuNs = new AtomicLong

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  def snapshot(): Seq[Long] =
    Seq(jobs.get, tasks.get, shuffleWrite.get, spill.get, cpuNs.get)
}

/** Every `StreamingQueryProgress` of the session. `StreamingQuery.recentProgress`
  * keeps only the last 100, so the harness keeps its own copy. */
class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)

  /** Progress of the given queries (call after they stopped and the
    * listener bus was drained). */
  def of(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery]): Seq[StreamingQueryProgress] = {
    val ids = qs.map(_.id).toSet
    events.asScala.filter(p => ids.contains(p.id)).toSeq
  }
}

/** In-memory spans: name, start, end (ns since the run began) and parent. */
class Tracer(enabled: Boolean) {
  private val t0 = System.nanoTime()
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List(0)

  def now: Long = System.nanoTime() - t0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.head
      val start = now
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, start, now)
      }
    }

  /** A span recorded after the fact (micro-batches, from progress events). */
  def record(name: String, parent: Int, start: Long, end: Long): Unit =
    if (enabled) { nextId += 1; spans += Span(nextId, parent, name, start, end) }

  def current: Int = stack.head

  def json: String = spans.sortBy(_.start).map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    .mkString("[", ",\n", "]")
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.toVector.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
