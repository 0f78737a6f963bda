package perfbench

import scala.collection.mutable.ArrayBuffer

/** Thrown by a check whose output does not match the expected values. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Ends the current pass after an operation failed. */
final class PassAborted(val op: String, cause: Throwable)
    extends RuntimeException(s"$op failed: ${cause.getMessage}", cause)

object Check {
  def apply(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)

  def equal[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new CheckFailed(
      s"$what: got ${show(got)}, want ${show(want)}")

  private def show(x: Any): String = {
    val s = String.valueOf(x)
    if (s.length > 300) s.take(300) + "…" else s
  }
}

/** One recorded span: a named interval with its parent and the counter
  * deltas measured at its boundaries. Spans of one pass share `pass`. */
final case class Span(
    id: Int, parent: Int, pass: Int, name: String, isOp: Boolean,
    startNs: Long, endNs: Long, counters: Counters) {
  def wallNs: Long = endNs - startNs
}

/** What one pass measured. `wallNs` and `cpuNs` add up the timed
  * operations only: the checks between them are not part of the figure. */
final case class PassStats(
    index: Int, kind: String, wallNs: Long, cpuNs: Long,
    writtenBytes: Double, ok: Int, planned: Int)

/** Runs passes of a workload's operations, times each operation (wall and
  * process CPU), checks its output, and in traced mode records spans with
  * the counters at every boundary.
  *
  * An operation is one timed call into a public function of the program.
  * It fails if it throws or if its output fails its check; a failure ends
  * the pass, and the operations it did not reach count as failed too, so
  * every pass attempts the same whole round. */
final class Harness(meter: Meter, traced: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  val passes = ArrayBuffer.empty[PassStats]
  var attempted = 0L
  var failed = 0L
  var checksFailed = 0L
  /** (pass, key, value) figures a workload records from its checks. */
  val notes = ArrayBuffer.empty[(Int, String, Double)]

  private var pass = -1
  private var ok = 0
  private var wallNs = 0L
  private var cpuNs = 0L
  private val stack = ArrayBuffer.empty[Int]

  private def parent: Int = if (stack.isEmpty) -1 else stack.last

  /** Time `body` as operation `name`, then check its value with `check`.
    * In traced mode the listener bus is drained at both boundaries, so the
    * span's counters hold exactly the work the call caused. */
  def op[T](name: String)(body: => T)(check: T => Unit): T = {
    val c0 = if (traced) { meter.drain(); meter.read() } else null
    val cpu0 = Jvm.cpuNs()
    val t0 = System.nanoTime()
    val out =
      try body
      catch { case e: Throwable => throw new PassAborted(name, e) }
    val t1 = System.nanoTime()
    val cpu1 = Jvm.cpuNs()
    wallNs += t1 - t0
    cpuNs += cpu1 - cpu0
    if (traced) {
      meter.drain()
      spans += Span(spans.size, parent, pass, name, isOp = true, t0, t1,
        meter.read() - c0)
    }
    try check(out)
    catch {
      case e: CheckFailed =>
        checksFailed += 1
        throw new PassAborted(name, e)
      case e: Throwable => throw new PassAborted(name, e)
    }
    ok += 1
    out
  }

  def note(key: String, value: Double): Unit = notes += ((pass, key, value))

  /** A span that groups operations (an ADT batch, say). It is recorded in
    * traced mode only and adds nothing to the pass figures by itself. */
  def group[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      meter.drain()
      val c0 = meter.read()
      val id = spans.size
      spans += null // reserve the id so children can name their parent
      val t0 = System.nanoTime()
      stack += id
      try body
      finally {
        stack.remove(stack.size - 1)
        val t1 = System.nanoTime()
        meter.drain()
        spans(id) = Span(id, parent, pass, name, isOp = false, t0, t1,
          meter.read() - c0)
      }
    }

  /** Run one pass of `planned` operations; `cleanup` runs after it,
    * untimed, whether or not the pass completed. */
  def runPass(kind: String, planned: Int)(body: => Unit)(cleanup: => Unit)
      : PassStats = {
    pass += 1
    ok = 0
    wallNs = 0L
    cpuNs = 0L
    meter.drain()
    val c0 = meter.read()
    group("pass") {
      try body
      catch {
        case e: PassAborted =>
          System.err.println(s"perfbench: pass $pass ($kind): ${e.getMessage}")
          e.getCause.printStackTrace()
      } finally cleanup
    }
    meter.drain()
    val written = (meter.read() - c0)("written_bytes")
    require(ok <= planned, s"pass ran $ok operations, planned $planned")
    attempted += planned
    failed += planned - ok
    val st = PassStats(pass, kind, wallNs, cpuNs, written, ok, planned)
    passes += st
    System.err.println(f"perfbench: pass $pass%2d $kind%-6s " +
      f"wall ${wallNs / 1e9}%.3f s cpu ${cpuNs / 1e9}%.3f CPU-s " +
      f"written ${written / 1e6}%.3f MB ok $ok/$planned")
    st
  }
}
