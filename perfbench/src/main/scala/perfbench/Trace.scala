package perfbench

import java.io.File

/** Per-layer figures from the spans of the timed passes. A figure "per
  * pass" adds up the pass's spans and takes the median over passes. */
final class TraceView(h: Harness, timedPasses: Set[Int]) {
  private val all = h.spans.filter(_ != null).toSeq
  private val timed = all.filter(s => timedPasses(s.pass))
  private val childWall: Map[Int, Long] =
    all.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.wallNs).sum }

  def selfNs(s: Span): Long = s.wallNs - childWall.getOrElse(s.id, 0L)

  private def perPass(pick: Span => Boolean)(f: Span => Double): Double =
    Stats.median(timedPasses.toSeq.map(p =>
      timed.filter(s => s.pass == p && pick(s)).map(f).sum))

  /** Median per pass of the self time of the named spans, in seconds. */
  def selfSeconds(names: String*): Metric =
    Metric(perPass(s => names.contains(s.name))(selfNs(_) / 1e9), "s")

  /** Median per pass of a counter over every operation span. */
  def opCounter(key: String, scale: Double, unit: String): Metric =
    Metric(perPass(_.isOp)(_.counters(key) * scale), unit)

  /** Median per pass of a counter over the whole pass. */
  def passCounter(key: String, scale: Double, unit: String): Metric =
    Metric(perPass(_.name == "pass")(_.counters(key) * scale), unit)

  /** Time of every group span of this name: the sum of its operations. */
  def groupTimes(name: String): Seq[Double] =
    timed.filter(_.name == name).map(g =>
      timed.filter(s => s.parent == g.id && s.isOp).map(_.wallNs).sum / 1e9)

  def counterSum(name: String, key: String): Double =
    timed.filter(_.name == name).map(_.counters(key)).sum

  private def notes(key: String): Seq[Double] =
    h.notes.collect { case (p, k, v) if k == key && timedPasses(p) => v }.toSeq

  def noteSum(key: String): Double = notes(key).sum
  def noteMin(key: String): Double =
    if (notes(key).isEmpty) 0.0 else notes(key).min

  /** The cold pass's figure of a counter, over the whole pass. */
  def coldCounter(key: String): Double =
    all.find(s => s.pass == 0 && s.name == "pass").map(_.counters(key))
      .getOrElse(0.0)

  /** Every span as JSON, times in ns from the first span's start. */
  def writeJson(f: File, header: Map[String, Any]): Unit = {
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    val spans = all.map { s =>
      Json.obj(Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass,
        "name" -> s.name, "op" -> s.isOp, "start_ns" -> (s.startNs - t0),
        "end_ns" -> (s.endNs - t0), "self_ns" -> selfNs(s),
        "counters" -> s.counters.values))
    }
    Fs.write(f, Json.obj(header ++ Map(
      "spans" -> Json.Raw(spans.mkString("[\n", ",\n", "\n]")))) + "\n")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no values. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Just enough JSON for the result line and the trace file. */
object Json {
  final case class Raw(s: String)

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => value(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => value(k) + ":" + value(v) }
      .mkString("{", ",", "}")
}
