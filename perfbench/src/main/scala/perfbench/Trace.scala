package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval: `layer` is the repository module the call enters
  * (io, geo, functions, ops, pipeline, lake, spark, bench). */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the driver thread. When `enabled` is false
  * `span` only runs its body, so untraced repetitions pay nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, layer, t0, t1)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Sum of the durations of spans called `name` recorded at or after span
    * id `from` (one repetition or section). */
  def total(name: String, from: Int = 0): Double =
    spans.iterator.filter(s => s.name == name && s.id >= from).map(_.seconds).sum

  def mark: Int = nextId

  /** Self time per span: its duration minus the union of its children's
    * intervals. */
  def selfSeconds: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.iterator.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).toSeq)
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Self seconds summed per layer. */
  def selfByLayer: Map[String, Double] = {
    val self = selfSeconds
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  def toJson: String = {
    val self = selfSeconds
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_s":${Json.num((s.startNs - t0) / 1e9)},""" +
        s""""end_s":${Json.num((s.endNs - t0) / 1e9)},"self_s":${Json.num(self(s.id))}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val Off = new Tracer(false)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
  /** Full-precision JSON number; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
