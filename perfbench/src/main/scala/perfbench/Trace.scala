package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Epoch milliseconds with sub-millisecond resolution: one wall-clock
  * reading at start-up plus the monotonic clock since, so op and span
  * boundaries share a time base with Spark's listener timestamps.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(): Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** JSON for the harness's output files (Jackson, as Spark bundles it). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def enc(v: Any): String = mapper.writeValueAsString(v)
}

/** One timed call into the program: what the end-to-end metrics are
  * made of. `attrs` carries per-op facts (rows, nodes, fetch time,
  * the statement text's table) for the per-layer derivation.
  */
final case class Op(id: Long, pass: Int, layer: String, kind: String,
    name: String, start: Double, end: Double, ok: Boolean,
    error: String, attrs: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("id" -> id, "pass" -> pass,
    "layer" -> layer, "kind" -> kind, "name" -> name, "start" -> start,
    "end" -> end, "ok" -> ok, "error" -> error, "attrs" -> attrs)
}

/** A traced interval: name, layer, start, end, the span that caused
  * it (0 = root) and the op it belongs to (0 = none).
  */
final case class Span(id: Long, name: String, layer: String,
    start: Double, end: Double, parent: Long, op: Long) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
    "layer" -> layer, "start" -> start, "end" -> end, "parent" -> parent,
    "op" -> op)
}

/** Records ops always and spans only while `tracing` is on; both stay
  * in memory until the run writes them out. Thread-safe: Thrift
  * clients record from their own threads, each with its own span stack.
  */
final class Recorder {
  @volatile var tracing = false

  private val ids = new AtomicLong(1)
  private val opQ = new ConcurrentLinkedQueue[Op]
  private val spanQ = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val lastId = ThreadLocal.withInitial[Long](() => 0L)

  /** Id of the op most recently started on this thread. */
  def lastOp: Long = lastId.get

  def ops: Seq[Op] = opQ.asScala.toSeq.sortBy(_.id)
  def spans: Seq[Span] = spanQ.asScala.toSeq.sortBy(_.id)

  /** The current span on this thread, for handing to another thread. */
  def current: (Long, Long) = stack.get.headOption.getOrElse((0L, 0L))

  /** Run `body` inside a span; `parent` overrides the thread's stack
    * (a worker thread adopting the span that started it).
    */
  def span[T](name: String, layer: String,
      parent: Option[(Long, Long)] = None)(body: => T): T =
    if (!tracing) body
    else {
      val id = ids.getAndIncrement()
      val (par, op) = parent.getOrElse(current)
      val t0 = Clock.ms()
      stack.set((id, op) :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        spanQ.add(Span(id, name, layer, t0, Clock.ms(), par, op))
      }
    }

  /** Run one op. A throw records it as failed with its error and
    * returns None; the caller's loop goes on with the next op.
    */
  def op[T](pass: Int, layer: String, kind: String, name: String,
      parent: Option[(Long, Long)] = None)(
      body: mutable.Map[String, Any] => T): Option[T] = {
    val id = ids.getAndIncrement()
    lastId.set(id)
    val attrs = mutable.Map.empty[String, Any]
    val (par, _) = parent.getOrElse(current)
    if (tracing) stack.set((id, id) :: stack.get)
    val t0 = Clock.ms()
    val res =
      try Right(body(attrs))
      catch { case NonFatal(e) => Left(e) }
    val t1 = Clock.ms()
    if (tracing) {
      stack.set(stack.get.tail)
      spanQ.add(Span(id, s"$layer.$kind", layer, t0, t1, par, id))
    }
    val err = res.left.toOption.map(e =>
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        .linesIterator.nextOption().getOrElse("").take(300))
    opQ.add(Op(id, pass, layer, kind, name, t0, t1, res.isRight,
      err.orNull, attrs.toMap))
    res.toOption
  }
}
