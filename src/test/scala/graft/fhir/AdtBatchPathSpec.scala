package graft.fhir

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark.spark
import graft.streaming.Streams

/** The ADT batch path — decode ([[Flatten.adtPatientEvents]]) then merge
  * ([[Streams.upsertBatch]]) — pinned by plan shape: the decode pairs a
  * bundle's MessageHeaders with its Patients without a join and parses
  * each bundle once; the merge ranks and writes behind one exchange whose
  * task count follows its bytes, one file per touched bucket. */
class AdtBatchPathSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val adtDir = getClass.getResource("/adt").getPath

  private def fs(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listNames(dir: String): Seq[String] =
    fs(dir).listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName).sorted

  private def latestVersion(stateDir: String): String =
    s"$stateDir/${listNames(stateDir).filter(_.matches("v\\d{5}")).last}"

  private def bucketsOf(keys: Seq[Long], parts: Int): Set[Int] = {
    import spark.implicits._
    keys.toDF("k").select(pmod(hash(col("k")), lit(parts)))
      .as[Int].collect().toSet
  }

  test("adt events over an unpersisted bundle frame: fixture rows, " +
    "latest first") {
    val bundles = BundleReader.readFromDirectory(spark, adtDir).entry()
    val got = Flatten.adtPatientEvents(bundles).collect()
      .map(r => (0 until r.length).map(r.getString).toList).toList
    assert(got == List(
      List("666-66-6666", null, "654321", "Margaret", "Mayfield", "ADT_A31",
        "update_person", "Update person information",
        "2023-04-03T16:45:30.250Z"),
      List("666-66-6666", null, "654321", "Maggie", "Mayfield", "ADT_A28",
        "create_person", "Add person information",
        "2023-04-02T08:00:00.000Z"),
      List("555-55-5555", null, "123456", "Carl", "Carlson", "ADT_A09",
        "track_departure", "Patient departing - tracking",
        "2023-03-31T09:12:05.002Z"),
      List("555-55-5555", "123456789driver1", "123456", "Carl", "Carlson",
        "ADT_A01", "admit", "Admit/visit notification",
        "2023-03-30T13:38:48.516Z")))
  }

  test("adt events plan: no join, one bundle parse") {
    val df = Flatten.adtPatientEvents(
      BundleReader.readFromDirectory(spark, adtDir).entry())
    df.collect()
    val plan = df.queryExecution.executedPlan
    val joins = collect(plan) { case j if j.nodeName.contains("Join") => j }
    assert(joins.isEmpty, s"decode must not join:\n$plan")
    val parses = flatMap(plan)(_.expressions.flatMap(_.collect {
      case e: graft.functions.FhirBundlePivot => e
    }))
    assert(parses.length == 1, s"each bundle must be parsed once:\n$plan")
  }

  /** Runs `body` and returns the physical plan of the file write it made. */
  private def capturedWritePlan(body: => Unit): SparkPlan = {
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[SparkPlan]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        // a file write reports the plan of the query it writes
        if (qe.commandExecuted.isInstanceOf[InsertIntoHadoopFsRelationCommand])
          plans.add(qe.executedPlan)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus is asynchronous
      val deadline = System.nanoTime() + 10000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size() == 1, s"expected one write, saw ${plans.size()}")
    plans.get(0)
  }

  test("upsert merge: one exchange between the state read and the write, " +
    "one task for a tiny merge") {
    import spark.implicits._
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_upsert_plan").toString
    val first = (0L until 40L).map(k => (k, 1L, s"a$k"))
    Streams.upsertBatch(first.toDF("k", "ver", "v"), stateDir, Seq("k"), "ver")
    val second = (20L until 60L).map(k => (k, 2L, s"b$k"))
    val plan = capturedWritePlan(Streams.upsertBatch(
      second.toDF("k", "ver", "v"), stateDir, Seq("k"), "ver"))
    val scans = collect(plan) {
      case s if s.nodeName.startsWith("Scan parquet") => s
    }
    assert(scans.nonEmpty, s"the merge must read the touched state:\n$plan")
    val exchanges = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(exchanges.length == 1, s"one exchange expected:\n$plan")
    assert(exchanges.head.numPartitions == 1,
      s"a 40-row merge is one task:\n$plan")
    val want = (first.filter(_._1 < 20L) ++ second).toSet
    assert(Streams.readUpsertState(spark, stateDir).select("k", "ver", "v")
      .as[(Long, Long, String)].collect().toSet == want)
  }

  test("upsert merge writes one parquet file per touched bucket, " +
    "however the buckets are packed into tasks") {
    import spark.implicits._
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_upsert_files").toString
    val parts = 16
    val advisory = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key
    val saved = spark.conf.getOption(advisory)
    // 1 byte: one task per bucket; 2 KiB: several buckets per task;
    // the default: every bucket in one task
    val settings = Seq(Some("1b"), Some("2k"), None)
    var want = Map.empty[Long, (Long, String)]
    try settings.zipWithIndex.foreach { case (setting, b) =>
      setting match {
        case Some(v) => spark.conf.set(advisory, v)
        case None => saved.fold(spark.conf.unset(advisory))(
          spark.conf.set(advisory, _))
      }
      val keys = (b * 30L until b * 30L + 60L)
      val rows = keys.map(k => (k, b.toLong, s"payload_${b}_$k" * 8))
      Streams.upsertBatch(rows.toDF("k", "ver", "v"), stateDir, Seq("k"),
        "ver", numPartitions = parts)
      want ++= rows.map(r => r._1 -> ((r._2, r._3)))
      val version = latestVersion(stateDir)
      val bucketDirs = listNames(version).filter(_.startsWith("__graft_p="))
      assert(bucketDirs.map(_.stripPrefix("__graft_p=").toInt).toSet
        == bucketsOf(keys, parts))
      bucketDirs.foreach { d =>
        val files = listNames(s"$version/$d").filter(_.endsWith(".parquet"))
        assert(files.length == 1,
          s"bucket $d of merge $b holds ${files.length} files")
      }
    } finally saved.fold(spark.conf.unset(advisory))(spark.conf.set(advisory, _))
    val got = Streams.readUpsertState(spark, stateDir).select("k", "ver", "v")
      .as[(Long, Long, String)].collect()
    assert(got.map(r => r._1 -> ((r._2, r._3))).toMap == want)
    assert(got.length == want.size)
  }

  test("merge task count: one per advisory size, capped at the touched " +
    "buckets") {
    val advisory = 64L << 20
    assert(Streams.upsertMergeTasks(BigInt(4000), advisory, 25) == 1)
    assert(Streams.upsertMergeTasks(BigInt(0), advisory, 25) == 1)
    assert(Streams.upsertMergeTasks(BigInt(3 * advisory + 1), advisory, 25)
      == 4)
    // unknown stats report the default size: one task per touched bucket
    val unknown = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    assert(Streams.upsertMergeTasks(unknown, advisory, 25) == 25)
    assert(Streams.upsertMergeTasks(unknown * 1000, advisory, 25) == 25)
  }
}
