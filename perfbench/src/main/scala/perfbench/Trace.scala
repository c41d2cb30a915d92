package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.json4s._

/** In-memory record of one benchmark run.
  *
  * Every run records its operations (kind, trace id, start, end, ok):
  * the end-to-end metrics come from those. With tracing on it also
  * records spans at each layer boundary the benchmark wraps, plus the
  * counters and samples of the per-layer metrics. Nothing is written
  * until the run ends.
  *
  * Times are epoch milliseconds with sub-millisecond digits: the offset
  * between the wall clock and `nanoTime` is fixed once, so span times
  * line up with the epoch-millisecond times Spark's listener events
  * carry. */
object Trace {
  @volatile var enabled: Boolean = false

  private val offsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = offsetMs + System.nanoTime() / 1e6

  final case class Span(id: Long, parent: Long, trace: String, name: String,
      t0: Double, t1: Double)
  final case class Op(kind: String, trace: String, t0: Double, t1: Double,
      ok: Boolean)

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ops = new ConcurrentLinkedQueue[Op]
  private val ids = new AtomicLong(0L)
  private val counters = new ConcurrentHashMap[String, DoubleAdder]
  private val samples =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]

  // The single driving thread keeps a stack of open spans. Spans opened
  // on any other thread (Spark task threads running the charge sink,
  // the engine's own futures) take the driving thread's innermost open
  // span as their parent: the load is one closed-loop client, so that
  // span is the one that caused them.
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var driverTop: Long = 0L
  @volatile private var driverThread: Thread = null
  @volatile private var currentTrace: String = ""

  def bindDriverThread(): Unit = driverThread = Thread.currentThread()

  private def push(id: Long): Unit = {
    stack.set(id :: stack.get)
    if (Thread.currentThread() eq driverThread) driverTop = id
  }
  private def pop(): Unit = {
    val rest = stack.get.tail
    stack.set(rest)
    if (Thread.currentThread() eq driverThread)
      driverTop = rest.headOption.getOrElse(0L)
  }
  private def parentId: Long = stack.get.headOption.getOrElse(driverTop)

  /** One unit of user-visible work: timed always, a root span when
    * tracing. Returns the result, or None when it threw. */
  def op[T](kind: String, trace: String)(f: => T): Option[T] = {
    currentTrace = trace
    val t0 = nowMs
    val r = try Some(span(kind)(f)) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $kind $trace failed: $e")
        None
    }
    ops.add(Op(kind, trace, t0, nowMs, r.isDefined))
    r
  }

  /** Marks an already-recorded op as failed (its output was wrong). */
  def failOp(trace: String): Unit = {
    val hit = ops.asScala.filter(o => o.trace == trace && o.ok).toList
    hit.foreach { o => ops.remove(o); ops.add(o.copy(ok = false)) }
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = parentId
      val t0 = nowMs
      push(id)
      try f
      finally {
        pop()
        spans.add(Span(id, parent, currentTrace, name, t0, nowMs))
      }
    }

  /** A span whose bounds were taken by the caller (a stage boundary
    * that is not a single call). */
  def record(name: String, t0: Double, t1: Double): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), driverTop, currentTrace, name,
        t0, t1))

  /** Drops counters and samples gathered before the measured phase. */
  def resetCounters(): Unit = { counters.clear(); samples.clear() }

  def add(name: String, v: Double = 1.0): Unit =
    counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def sample(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double])
      .add(v)

  def opsJson: JValue = JArray(ops.asScala.toList.sortBy(_.t0).map(o =>
    JObject("kind" -> JString(o.kind), "trace" -> JString(o.trace),
      "t0" -> JDouble(o.t0), "t1" -> JDouble(o.t1), "ok" -> JBool(o.ok))))

  def spansJson: JValue = JArray(spans.asScala.toList.sortBy(_.id).map(s =>
    JObject("id" -> JLong(s.id), "parent" -> JLong(s.parent),
      "trace" -> JString(s.trace), "name" -> JString(s.name),
      "t0" -> JDouble(s.t0), "t1" -> JDouble(s.t1))))

  def countersJson: JValue = JObject(counters.asScala.toList.sortBy(_._1)
    .map { case (k, v) => k -> JDouble(v.sum()) })

  def samplesJson: JValue = JObject(samples.asScala.toList.sortBy(_._1)
    .map { case (k, q) => k -> JArray(q.asScala.toList.map(JDouble(_))) })
}
