package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A point-in-time reading of every counter the benchmark keeps. Values
  * are cumulative since the meter was installed; a layer's figure is the
  * difference of two readings taken at its boundaries. */
final case class Counters(values: Map[String, Double]) {
  def -(o: Counters): Counters =
    Counters(values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) })
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

/** Counts the work Spark reports through its listener bus (jobs, stages,
  * tasks, bytes, task CPU, Catalyst phase times) and reads the JVM's own
  * CPU, GC and JIT clocks. Installed once per session, before any pass. */
final class Meter(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {

  private val names = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "written_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "task_cpu_ns", "analysis_ms", "optimization_ms",
    "planning_ms")
  private val acc: Map[String, AtomicLong] =
    names.map(_ -> new AtomicLong()).toMap
  private def add(k: String, v: Long): Unit = acc(k).addAndGet(v)

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("written_bytes", m.outputMetrics.bytesWritten)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("task_cpu_ns", m.executorCpuTime)
    }
  }

  override def onSuccess(
      funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    add("analysis_ms", ms("analysis"))
    add("optimization_ms", ms("optimization"))
    add("planning_ms", ms("planning"))
  }

  override def onFailure(
      funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Block until Spark has delivered every event of finished actions. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

  def read(): Counters = Counters(
    acc.map { case (k, v) => k -> v.get.toDouble } ++ Jvm.counters() +
      ("codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble))
}

/** JVM and host clocks, read without Spark. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** CPU time of every thread of this process, user + system, in ns. */
  def cpuNs(): Long = os.getProcessCpuTime

  def counters(): Map[String, Double] = Map(
    "process_cpu_ns" -> cpuNs().toDouble,
    "gc_ms" -> gcs.map(g => math.max(0L, g.getCollectionTime)).sum.toDouble,
    "jit_ms" -> jit.getTotalCompilationTime.toDouble)

  /** (steal, total) jiffies of all CPUs from /proc/stat, or None where
    * the file does not exist. Steal is time the hypervisor ran someone
    * else while this machine's virtual CPU had work. */
  def stealAndTotal(): Option[(Long, Long)] = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) None
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val xs = l.trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal [guest guest_nice]
        // guest time is already counted in user and nice
        (if (xs.length > 7) xs(7) else 0L, xs.take(8).sum)
      } finally src.close()
    }
  }
}
