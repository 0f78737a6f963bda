package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** One benchmark workload. The constructor generates the inputs from the
  * seed (no Spark involved, so no timed region and no engine warm-up
  * happens there) and records the expected values as it writes them. */
trait Workload {
  /** Operations every pass attempts. */
  def opsPerPass: Int

  /** One pass over the inputs; `out` is a fresh directory for its output. */
  def pass(h: Harness, out: File): Unit

  /** Per-layer metrics this workload adds, from the spans of timed passes
    * and its own notes. */
  def layerMetrics(t: TraceView): Map[String, Metric]
}

final case class Metric(value: Double, unit: String)

object Fs {
  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Deterministic values from the seed. */
final class Gen(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def double(): Double = r.nextDouble()
  def gaussian(): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on every JDK
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
  def pick[A](xs: IndexedSeq[A]): A = xs(r.nextInt(xs.length))
  def chance(p: Double): Boolean = r.nextDouble() < p
  def uuid(): String = new java.util.UUID(r.nextLong(), r.nextLong()).toString
  def digits(n: Int): String = Seq.fill(n)(r.nextInt(10)).mkString
}
