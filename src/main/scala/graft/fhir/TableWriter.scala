package graft.fhir

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Per-resource table persistence (ref: bulk_table_write at
  * 01_dbignite_sample.py:221-223,425-427): one catalog table per resource
  * column, each carrying bundleUUID (+ timestamp for message bundles) so
  * SQL can re-associate resources that arrived together.
  *
  * Format/location are pluggable (SURVEY.md §7: Delta on a cluster, parquet
  * locally). `basePath` writes external tables with per-table locations —
  * at 100 TB these would also be partitioned by ingest date.
  */
object TableWriter {

  /** Resource columns = everything except the bundle-level keys. */
  def resourceColumns(bundles: DataFrame): Seq[String] =
    bundles.columns.filterNot(Set("bundleUUID", "timestamp")).toSeq

  /** @param partitionByIngestDate when set, each table is partitioned by an
    *   `ingest_date` column derived from the bundle timestamp — the 100 TB
    *   layout (partition pruning on date-bounded queries).
    *
    * A caller's cache on `bundles` is left as it was; an uncached frame is
    * cached for the duration of the call. In `overwrite` mode a managed
    * table missing from the catalog replaces whatever a previous session
    * left at its default location. */
  def bulkTableWrite(
      bundles: DataFrame,
      database: String,
      writeMode: String = "overwrite",
      columns: Seq[String] = Nil,
      basePath: Option[String] = None,
      format: String = "parquet",
      partitionByIngestDate: Boolean = false): Seq[String] = {
    val spark = bundles.sparkSession
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")
    val cols = if (columns.nonEmpty) columns else resourceColumns(bundles)
    // The reference notes the DataFrame "must be evaluated before writing"
    // (01_dbignite_sample.py:422) because its reader minted UUIDs lazily —
    // persist once so every per-resource table sees the same bundleUUIDs.
    val ownCache = bundles.storageLevel == StorageLevel.NONE
    if (ownCache) bundles.persist()
    try {
      cols.map { rt =>
        val table = s"$database.${rt.toLowerCase}"
        if (basePath.isEmpty && writeMode.equalsIgnoreCase("overwrite"))
          clearStaleManagedLocation(spark, database, rt.toLowerCase)
        val selected = bundles
          .select(col("bundleUUID"), col("timestamp"), col(rt))
        val partitioned =
          if (partitionByIngestDate)
            selected.withColumn("ingest_date",
              org.apache.spark.sql.functions
                .to_date(org.apache.spark.sql.functions
                  .substring(col("timestamp"), 1, 10)))
          else selected
        val w0 = partitioned.write.mode(writeMode).format(format)
        val w1 = if (partitionByIngestDate) w0.partitionBy("ingest_date") else w0
        basePath.fold(w1)(p => w1.option("path", s"$p/${rt.toLowerCase}"))
          .saveAsTable(table)
        table
      }
    } finally if (ownCache) bundles.unpersist()
  }

  /** The catalog may forget a managed table whose files outlive it (an
    * in-memory catalog across JVMs sharing one warehouse); creating the
    * table again then fails with LOCATION_ALREADY_EXISTS. Only called when
    * the table is about to be overwritten, so the files carry no data the
    * caller asked to keep. */
  private def clearStaleManagedLocation(
      spark: SparkSession, database: String, table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val id = TableIdentifier(table, Some(database))
    if (!catalog.tableExists(id)) {
      val loc = new Path(catalog.defaultTablePath(id))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }
}
