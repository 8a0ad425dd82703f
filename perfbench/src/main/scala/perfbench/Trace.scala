package perfbench

import scala.collection.mutable.ArrayBuffer

/** A timed call into one layer's public function. `parent` is the
  * enclosing span's id (-1 at top level); times are epoch ms; the
  * Spark figures are the runtime work done while the span was open.
  */
final case class SpanRec(id: Int, parent: Int, job: Int, name: String,
    layer: String, startMs: Double, endMs: Double, sparkJobs: Long,
    tasks: Int, taskRunMs: Long, taskCpuNs: Long, compileN: Long,
    compileNs: Long)

/** Span recorder. Inactive, `span` only runs its body; active (during
  * a traced job), it drains the listener bus at each boundary so the
  * Spark work inside the span is attributable, and keeps every span
  * in memory until the run writes them out.
  */
final class Tracer(probe: Probe) {
  private val done = ArrayBuffer.empty[SpanRec]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var job = -1

  private var active = false

  def forJob(j: Int, traced: Boolean): Unit = { job = j; active = traced; stack = Nil }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val m0 = probe.mark()
      val t0 = Clock.ms()
      try body
      finally {
        val t1 = Clock.ms()
        val m1 = probe.mark()
        val ts = probe.tasksBetween(m0, m1)
        done += SpanRec(id, parent, job, name, layer, t0, t1, m1.jobs - m0.jobs,
          ts.length, ts.map(_.runMs).sum, ts.map(_.cpuNs).sum,
          m1.compileN - m0.compileN, m1.compileNs - m0.compileNs)
        stack = stack.tail
      }
    }

  def all: Seq[SpanRec] = done.toSeq
}

object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanoTime resolution. */
  def ms(): Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Minimal JSON writer for the run record (maps keep insertion order). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case p: Product if p.productArity > 0 && !p.isInstanceOf[Seq[_]] =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
