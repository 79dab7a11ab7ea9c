package perfbench

import scala.collection.mutable.ArrayBuffer

/** Wall-clock milliseconds on one clock for the benchmark's own spans and the
  * Spark listener's event times (both epoch-based); sub-millisecond resolution
  * comes from nanoTime anchored once per JVM. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** One traced interval. `parent` is -1 for a root; all spans of one workload
  * job share `run`. */
final case class Span(run: String, id: Int, parent: Int, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store: spans are kept until the run ends, then written out
  * in one go. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  def add(run: String, parent: Int, name: String, startMs: Double, endMs: Double): Int =
    synchronized {
      val id = nextId
      nextId += 1
      spans += Span(run, id, parent, name, startMs, endMs)
      id
    }

  /** Times `f` as a span; returns (result, span id). */
  def span[T](run: String, parent: Int, name: String)(f: Int => T): (T, Int) = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val t0 = Clock.nowMs()
    try {
      val r = f(id)
      (r, id)
    } finally synchronized {
      spans += Span(run, id, parent, name, t0, Clock.nowMs())
    }
  }

  def all: Seq[Span] = synchronized(spans.toList.sortBy(_.id))

  def get(id: Int): Span = synchronized(spans.find(_.id == id).get)

  /** Self time: duration minus the part of the interval its children cover
    * (overlapping children counted once). Children are not clipped to the
    * parent, so a child that outlives its parent shows as negative self time. */
  def selfMs(s: Span): Double =
    s.durMs - Intervals.unionLength(all.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)))

  /** Spans with negative self time, beyond the listener's 1 ms event-time
    * resolution. */
  def negativeSelf(): Seq[Span] = all.filter(s => selfMs(s) < -1.0)

  def toJsonLines: Seq[String] = all.map { s =>
    f"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":${selfMs(s)}%.3f}"""
  }
}

object Intervals {
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + esc(s) + "\""
}
