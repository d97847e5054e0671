package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One benchmark operation: a delivery, refresh, curation pass, probe,
  * append, delete or compact. A failed op keeps its exception. */
final case class OpRecord(kind: String, seconds: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
  /** A failed op misses every latency limit: it ranks as +inf. */
  def latency: Double = if (ok) seconds else Double.PositiveInfinity
}

final class OpLog {
  val ops = ArrayBuffer.empty[OpRecord]

  /** Time `body` as one op of `kind`; a throw is recorded, not raised. */
  def run(kind: String)(body: => Unit): Boolean = {
    val t0 = System.nanoTime()
    try { body; add(kind, (System.nanoTime() - t0) / 1e9); true }
    catch { case t: Throwable if scala.util.control.NonFatal(t) =>
      fail(kind, t); false }
  }

  def add(kind: String, seconds: Double): Unit = ops += OpRecord(kind, seconds, None)

  def fail(kind: String, t: Throwable): Unit = {
    ops += OpRecord(kind, Double.NaN, Some(s"${t.getClass.getName}: ${t.getMessage}"))
    System.err.println(s"[perfbench] $kind failed: $t")
  }

  def latencies(kinds: Set[String]): Seq[Double] =
    ops.filter(o => kinds(o.kind)).map(_.latency).toSeq
  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
}

object Stats {
  /** Linear-interpolated percentile (p in [0, 100]); +inf entries sort
    * last, so failed ops push percentiles up, never down. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi || s(hi) == s(lo)) s(lo) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}

/** The single JSON result line. Non-finite values (a failed
  * op's +inf) print as null. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${str(n)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
