package graft.fhir

import java.nio.file.{Files, Paths}

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark.spark

/** [[TableWriter.bulkTableWrite]] against what a caller or an earlier
  * session left behind: a stale managed-table directory and a frame the
  * caller already cached. */
class TableWriterSpec extends AnyFunSuite {

  private val adtDir = getClass.getResource("/adt").getPath

  test("overwrite replaces a managed location the catalog does not know") {
    val db = "graft_stale_location"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    // what an earlier JVM with its own in-memory catalog leaves behind
    val stale = Paths.get(warehouse, s"$db.db", "patient")
    Files.createDirectories(stale)
    Files.write(stale.resolve("part-00000-stale.parquet"),
      "not parquet".getBytes("UTF-8"))
    try {
      val bundles = BundleReader.readFromDirectory(spark, adtDir).entry()
      val written = TableWriter.bulkTableWrite(bundles, db,
        columns = Seq("Patient", "MessageHeader"))
      assert(written == Seq(s"$db.patient", s"$db.messageheader"))
      assert(spark.table(s"$db.patient").count() == 4)
      assert(spark.table(s"$db.messageheader").count() == 4)
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("a frame the caller cached stays cached; an uncached one is " +
    "left uncached") {
    val base = Files.createTempDirectory("graft_fhir_cache").toString
    val cached = BundleReader.readFromDirectory(spark, adtDir).entry()
      .persist(StorageLevel.MEMORY_ONLY)
    val plain = BundleReader.readFromDirectory(spark, adtDir).entry()
      .select("bundleUUID", "timestamp", "Patient")
    try {
      assert(cached.count() == 4)
      TableWriter.bulkTableWrite(cached, "graft_fhir_cache",
        columns = Seq("Patient"), basePath = Some(s"$base/a"))
      assert(cached.storageLevel == StorageLevel.MEMORY_ONLY)
      TableWriter.bulkTableWrite(plain, "graft_fhir_cache",
        columns = Seq("Patient"), basePath = Some(s"$base/b"))
      assert(plain.storageLevel == StorageLevel.NONE)
      assert(spark.table("graft_fhir_cache.patient").count() == 4)
    } finally {
      cached.unpersist()
      spark.sql("DROP DATABASE IF EXISTS graft_fhir_cache CASCADE")
    }
  }
}
