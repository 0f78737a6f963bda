package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up, input generation, one cold pass,
  * then timed warm passes until the given number of seconds has passed
  * (at least two). There is no separate warm-up: see the README for why.
  * Prints one result line, `PERFBENCH_RESULT {json}`, on stdout; progress
  * goes to stderr. */
object Main {
  /** Every per-layer metric a traced run reports, with its unit. A layer
    * the workload does not run reads 0. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "fhir.parse_s" -> "s", "fhir.pruned_scan_s" -> "s",
    "fhir.flatten_s" -> "s", "fhir.analytics_s" -> "s",
    "fhir.table_write_s" -> "s", "fhir.encode_s" -> "s",
    "adt.read_s" -> "s", "adt.decode_s" -> "s", "adt.upsert_s" -> "s",
    "adt.batch_p50_ms" -> "ms", "adt.batch_p90_ms" -> "ms",
    "adt.state_read_s" -> "s", "adt.write_amp" -> "ratio",
    "dedup.exact_s" -> "s", "dedup.minhash_s" -> "s",
    "curation.pipeline_s" -> "s", "ann.build_s" -> "s",
    "ann.append_s" -> "s", "ann.topk_s" -> "s", "ann.queries_per_s" -> "1/s",
    "ann.save_s" -> "s", "ann.load_s" -> "s", "ann.recall_at_k" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.task_cpu_s" -> "CPU-s", "catalyst.codegen_compiles" -> "count",
    "cold.cpu_s" -> "CPU-s", "jvm.jit_s" -> "s", "jvm.jit_warm_s" -> "s",
    "jvm.gc_s" -> "s", "host.steal_pct" -> "%")

  /** The second pass in a JVM may or may not carry a large share of the
    * JIT's work; the mean of two passes does not depend on which. */
  private val MinTimed = 2

  final case class Opts(
      workload: String, seed: Long, seconds: Int, traced: Boolean,
      cores: Int, runDir: File, traceDir: File, startNs: Long)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("cores").toInt, new File(m("run-dir")),
      new File(m("trace-dir")), m("start-ns").toLong)
  }

  private def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir",
        new File(o.runDir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(o.runDir, "spark-local").getPath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code =
      try { run(o); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: run failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    System.exit(code)
  }

  private def run(o: Opts): Unit = {
    val spark = session(o)
    try {
      val meter = new Meter(spark)
      val setupS = (System.nanoTime() - o.startNs) / 1e9
      val inputs = new File(o.runDir, "inputs")
      val w: Workload = o.workload match {
        case "fhir_etl" => new FhirEtl(spark, inputs, o.seed)
        case "adt_feed" => new AdtFeed(spark, inputs, o.seed)
        case "llm_corpus" => new LlmCorpus(spark, inputs, o.seed)
        case other => throw new IllegalArgumentException(s"no workload $other")
      }
      System.err.println(f"perfbench: set-up $setupS%.3f s, inputs ready")
      val h = new Harness(meter, o.traced)
      val steal0 = Jvm.stealAndTotal()

      def onePass(kind: String): PassStats = {
        val out = new File(o.runDir, s"pass-${h.passes.size}")
        h.runPass(kind, w.opsPerPass)(w.pass(h, out))(Fs.deleteTree(out))
      }

      val cold = onePass("cold")
      val timedStart = System.nanoTime()
      val timed = scala.collection.mutable.ArrayBuffer[PassStats]()
      while (timed.size < MinTimed ||
          (System.nanoTime() - timedStart) / 1e9 < o.seconds)
        timed += onePass("timed")

      val stealPct = (steal0, Jvm.stealAndTotal()) match {
        case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
          100.0 * (s1 - s0) / (t1 - t0)
        case _ => 0.0
      }
      val endToEnd = Map(
        "setup_s" -> Metric(setupS, "s"),
        "cold_s" -> Metric(cold.wallNs / 1e9, "s"),
        "warm_s" -> Metric(Stats.median(timed.map(_.wallNs / 1e9).toSeq), "s"),
        "cpu_s" -> Metric(Stats.median(timed.map(_.cpuNs / 1e9).toSeq), "CPU-s"),
        "written_mb" -> Metric(
          Stats.median(timed.map(_.writtenBytes / 1e6).toSeq), "MB"))
      val summary = Map(
        "workload" -> o.workload, "seed" -> o.seed, "traced" -> o.traced,
        "timed_passes" -> timed.size,
        "host_steal_pct" -> stealPct, "cold_cpu_s" -> cold.cpuNs / 1e9,
        "end_to_end" -> endToEnd.map { case (k, m) => k -> m.value })

      val metrics =
        if (!o.traced) endToEnd
        else {
          val t = new TraceView(h, timed.map(_.index).toSet)
          val engine = Map(
            "spark.jobs" -> t.opCounter("spark.jobs", 1, "count"),
            "spark.stages" -> t.opCounter("spark.stages", 1, "count"),
            "spark.tasks" -> t.opCounter("spark.tasks", 1, "count"),
            "catalyst.analysis_ms" -> t.opCounter("analysis_ms", 1, "ms"),
            "catalyst.optimization_ms" ->
              t.opCounter("optimization_ms", 1, "ms"),
            "catalyst.planning_ms" -> t.opCounter("planning_ms", 1, "ms"),
            "spark.shuffle_write_mb" ->
              t.opCounter("shuffle_write_bytes", 1e-6, "MB"),
            "spark.shuffle_read_mb" ->
              t.opCounter("shuffle_read_bytes", 1e-6, "MB"),
            "spark.spill_mb" -> t.opCounter("spill_bytes", 1e-6, "MB"),
            "spark.input_mb" -> t.opCounter("input_bytes", 1e-6, "MB"),
            "spark.task_cpu_s" -> t.opCounter("task_cpu_ns", 1e-9, "CPU-s"),
            "catalyst.codegen_compiles" ->
              t.passCounter("codegen_compiles", 1, "count"),
            "cold.cpu_s" -> Metric(cold.cpuNs / 1e9, "CPU-s"),
            "jvm.jit_s" -> Metric(t.coldCounter("jit_ms") / 1e3, "s"),
            "jvm.jit_warm_s" -> t.passCounter("jit_ms", 1e-3, "s"),
            "jvm.gc_s" -> t.passCounter("gc_ms", 1e-3, "s"),
            "host.steal_pct" -> Metric(stealPct, "%"))
          val layers = engine ++ w.layerMetrics(t)
          o.traceDir.mkdirs()
          t.writeJson(new File(o.traceDir, s"${o.workload}-seed${o.seed}.json"),
            summary ++ Map("layers" -> layers.map { case (k, m) => k -> m.value },
              "passes" -> h.passes.map(p => Map("index" -> p.index,
                "kind" -> p.kind, "wall_ns" -> p.wallNs, "cpu_ns" -> p.cpuNs,
                "written_bytes" -> p.writtenBytes)).toSeq))
          LayerUnits.map { case (k, unit) =>
            k -> layers.getOrElse(k, Metric(0.0, unit))
          }.toMap
        }
      System.err.println("perfbench: summary " + Json.obj(summary))
      val result = Map(
        "correct" -> (h.checksFailed == 0),
        "attempted" -> h.attempted,
        "failed" -> h.failed,
        "metrics" -> metrics.map { case (k, m) =>
          k -> Map("value" -> m.value, "unit" -> m.unit) })
      println("PERFBENCH_RESULT " + Json.obj(result))
    } finally spark.stop()
  }
}
