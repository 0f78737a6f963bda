package graft.fhir

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** The `graft-fhir` scan names each bundle by its file: every scan of an
  * unchanged file gives the same `bundleUUID`, so builders that join two
  * projections of one unpersisted source frame on it (Patient ×
  * Condition) see matching ids on both sides. */
class FhirBundleIdSpec extends AnyFunSuite {

  private lazy val spark = GraftSpark.spark
  private lazy val adtDir = getClass.getResource("/adt").getPath

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("bundleUUID").collect().map(_.getString(0)).toSeq.sorted

  test("two collects of one unpersisted scan give the same ids") {
    val df = spark.read.format("graft-fhir").load(adtDir)
    val first = ids(df)
    assert(first.length == 4 && first.distinct.length == 4, first)
    assert(ids(df) == first)
    // a fresh scan of the same files, and a pruned one, agree as well
    assert(ids(spark.read.format("graft-fhir").load(adtDir)) == first)
    assert(ids(spark.read.format("graft-fhir")
      .option("resourceTypes", "Patient").load(adtDir)) == first)
  }

  test("a join on bundleUUID over an unpersisted scan equals the persisted " +
    "one") {
    val unpersisted = spark.read.format("graft-fhir").load(adtDir)
    val persisted = spark.read.format("graft-fhir").load(adtDir).persist()
    try {
      val want = Flatten.patientConditions(persisted)
        .drop("bundleUUID").toJSON.collect().sorted.toSeq
      assert(want.nonEmpty, "fixture: a bundle holds Patient and Condition")
      val got = Flatten.patientConditions(unpersisted)
        .drop("bundleUUID").toJSON.collect().sorted.toSeq
      assert(got == want)
      // self-join of two projections: every bundle matches itself once
      val a = unpersisted.select(col("bundleUUID"), size(col("Patient")).as("n"))
      val b = unpersisted.select(col("bundleUUID").as("b"))
      assert(a.join(b, a("bundleUUID") === b("b")).count() == 4)
    } finally persisted.unpersist()
  }

  test("the id is a name-based UUID of path, length and modification time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fhir_id")
    val src = java.nio.file.Paths.get(adtDir).toFile.listFiles()
      .filter(_.getName.endsWith(".json")).minBy(_.getName)
    val f = dir.resolve("bundle.json")
    java.nio.file.Files.copy(src.toPath, f)
    val first = ids(spark.read.format("graft-fhir").load(dir.toString))
    assert(first.length == 1)
    assert(java.util.UUID.fromString(first.head).version() == 3)
    // the same bytes under another name are another bundle
    java.nio.file.Files.copy(src.toPath, dir.resolve("copy.json"))
    val both = ids(spark.read.format("graft-fhir").load(dir.toString))
    assert(both.distinct.length == 2 && both.contains(first.head))
    // rewriting a file in place mints a new id for it
    f.toFile.setLastModified(f.toFile.lastModified() + 60000L)
    val after = ids(spark.read.format("graft-fhir").load(dir.toString))
    assert(!after.contains(first.head))
  }
}
