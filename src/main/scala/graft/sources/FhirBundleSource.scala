package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.fhir.FhirSchemaModel
import graft.functions.FhirBundlePivot

/** DataSourceV2 connector for FHIR bundle directories:
  * `spark.read.format("graft-fhir").load(dir)` (or the fully-qualified
  * class name) yields the bundle-row DataFrame of SURVEY.md §1.1 —
  * `bundleUUID, timestamp, <Resource> array<struct<…>> …` — as a real
  * table source instead of a text-read + expression pipeline.
  *
  * What the connector adds over `read_from_directory().entry()`
  * (both share [[FhirBundlePivot]]'s single-tokenization parse):
  *
  *  - **Column pruning reaches the parser.** Catalyst pushes the
  *    required columns into [[FhirScanBuilder.pruneColumns]]; only the
  *    requested resource types stay in the registry handed to readers,
  *    so unrequested types are token-skipped, never converted. At
  *    100 TB the ingest cost is parsing, so `SELECT Patient` paying for
  *    13 resource converters vs 1 is the difference that matters. The
  *    pruned schema is visible in `explain` as the scan's ReadSchema.
  *  - **Size-aware partition planning.** Files are bin-packed into
  *    input partitions up to `spark.sql.files.maxPartitionBytes`
  *    (first-fit decreasing), so a directory of small message bundles
  *    does not produce one task per file.
  *  - **Statistics.** The scan reports total byte size, so Catalyst can
  *    decide to broadcast a small bundle table in joins.
  *
  * Options: `resourceTypes` (comma-separated) restricts the registry —
  * and therefore the schema — up front; default is the full
  * [[FhirSchemaModel]] registry. Schema overrides at the `entry(…)`
  * level correspond to passing a custom model through `resourceTypes` +
  * the standard reader; arbitrary user schemas can also be supplied via
  * `spark.read.format(…).schema(…)`.
  *
  * Semantics match `entry()`: one row per file, a malformed document
  * keeps its row with null columns. `bundleUUID` is a name-based UUID
  * (`UUID.nameUUIDFromBytes`) of the file's path, length and
  * modification time, so every scan of an unchanged file gives the same
  * id: two projections of one unpersisted frame join on it, and two
  * `collect`s agree. A file rewritten in place gets a new id. (ref:
  * read_from_directory at 01_dbignite_sample.py:20-26 — the reference's
  * reader is also a directory scan whose parse happens at `entry()`.)
  */
class FhirBundleSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-fhir"

  override def supportsExternalMetadata(): Boolean = true

  private def modelFor(options: CaseInsensitiveStringMap): FhirSchemaModel = {
    val base = FhirSchemaModel()
    Option(options.get("resourceTypes")) match {
      case Some(csv) =>
        val keep = csv.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val unknown = keep -- base.resourceMap.keySet
        require(unknown.isEmpty,
          s"graft-fhir: unknown resourceTypes ${unknown.mkString(", ")}")
        FhirSchemaModel(base.resourceMap.view.filterKeys(keep).toMap)
      case None => base
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FhirBundleSource.schemaOf(modelFor(options))

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-fhir: no path specified"))
    new FhirBundleTable(path, schema)
  }
}

object FhirBundleSource {
  /** Table schema for a registry: bundleUUID + timestamp + one array
    * column per resource type, types sorted (the `entry()` contract). */
  def schemaOf(model: FhirSchemaModel): StructType = StructType(
    StructField("bundleUUID", StringType, nullable = false) +:
      StructField("timestamp", StringType, nullable = true) +:
      model.resourceMap.keys.toSeq.sorted.map(rt =>
        StructField(rt, ArrayType(model.resourceMap(rt)), nullable = true)))

  /** See [[SourceFiles.listDataFiles]] — shared with `graft-warc`. */
  private[sources] def listDataFiles(
      path: String, conf: Configuration): Seq[(String, Long)] =
    SourceFiles.listDataFiles(path, conf)

  /** First-fit-decreasing bin-packing under the session's
    * `spark.sql.files.maxPartitionBytes`: a directory of small bundles
    * groups into few tasks; a huge file still gets its own partition
    * (whole-document parse — no intra-file split). */
  private[sources] def packPartitions(
      files: Seq[(String, Long)]): Array[InputPartition] =
    SourceFiles.packFileBins(files)
      .map(b => FhirInputPartition(b): InputPartition)
}

/** Hadoop `Configuration` is not `Serializable`; this minimal wrapper
  * round-trips it through its own `write`/`readFields` so the SESSION
  * configuration (spark.hadoop.* overrides, credentials, fs.defaultFS)
  * captured on the driver reaches the partition readers — a fresh
  * `new Configuration()` on executors would silently drop all of it and
  * resolve the wrong filesystem on S3/ABFS/non-default HDFS. */
private[sources] class SerializableHadoopConf(
    @transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[sources] class FhirBundleTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-fhir:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // capture the SESSION Hadoop configuration (with per-read options
    // layered on top, the FileTable convention) at scan-build time: the
    // driver-side listing and the executor-side readers must both see
    // spark.hadoop.* settings, credentials, and fs.defaultFS overrides
    val conf = org.apache.spark.sql.SparkSession.active.sessionState
      .newHadoopConfWithOptions(options.asScala.toMap)
    new FhirScanBuilder(path, tableSchema, new SerializableHadoopConf(conf))
  }
}

private[sources] class FhirScanBuilder(path: String, full: StructType,
    conf: SerializableHadoopConf)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = full

  /** The pruning hook: whatever Catalyst asks for is what the readers
    * parse — an unrequested resource type never reaches a converter. */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // honor top-level pruning only; nested field pruning inside a
    // resource struct stays the converter's job
    val byName = full.fieldNames.toSet
    required = StructType(
      requiredSchema.fields.filter(f => byName.contains(f.name)))
  }

  override def build(): Scan = new FhirScan(path, required, conf)
}

private[sources] class FhirScan(path: String, required: StructType,
    conf: SerializableHadoopConf)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-fhir $path [${required.fieldNames.mkString(", ")}]"

  private lazy val files: Seq[(String, Long)] =
    FhirBundleSource.listDataFiles(path, conf.value)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, files.map(_._2).sum))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.length.toLong)
  }

  override def planInputPartitions(): Array[InputPartition] =
    FhirBundleSource.packPartitions(files)

  override def createReaderFactory(): PartitionReaderFactory =
    new FhirReaderFactory(required, conf)

  override def toMicroBatchStream(
      checkpointLocation: String): streaming.MicroBatchStream =
    new FhirMicroBatchStream(path, required, conf, checkpointLocation)
}

/** Micro-batch stream over a bundle directory: each trigger picks up
  * files not yet in the seen log — the ADT "real-time" feed story run
  * through the SAME pruned-registry parse and bin-packed partition
  * planning as the batch scan (the reader factory is shared, so the
  * streaming rows are the batch rows, minted bundleUUID and all). The
  * offsets it persists are constant-size epochs backed by the compacted
  * [[SeenFileLog]]; exactly-once restart is pinned in
  * StreamingSpec, including offset-size boundedness and a legacy
  * full-list checkpoint migrating mid-stream. */
private[sources] class FhirMicroBatchStream(
    path: String, required: StructType, conf: SerializableHadoopConf,
    checkpointLocation: String)
    extends streaming.MicroBatchStream {

  private lazy val log = new SeenFileLog(
    new Path(checkpointLocation, "graft_seen_files"), conf.value)

  override def initialOffset(): streaming.Offset = EpochStreamOffset(0L)

  override def latestOffset(): streaming.Offset = synchronized {
    val fresh = FhirBundleSource.listDataFiles(path, conf.value)
      .filterNot(f => log.contains(f._1)).sortBy(_._1)
    if (fresh.nonEmpty) log.advance(fresh)
    EpochStreamOffset(log.maxEpoch)
  }

  override def deserializeOffset(json: String): streaming.Offset =
    synchronized {
      EpochStreamOffset.parse(json) match {
        case legacy: LegacyFileListOffset =>
          log.migrate(legacy.files); legacy
        case o => o
      }
    }

  override def planInputPartitions(
      start: streaming.Offset, end: streaming.Offset)
      : Array[InputPartition] = synchronized {
    val fresh: Seq[(String, Long)] = (start, end) match {
      // sizes ride in the seen log — (re)planning is an in-memory
      // bin-pack, no per-file getFileStatus storm on the driver
      case (EpochStreamOffset(s), EpochStreamOffset(e)) => log.filesIn(s, e)
      // legacy full-list offsets carry no sizes; -1 re-stats below
      case (LegacyFileListOffset(sf), EpochStreamOffset(e)) =>
        (log.allUpTo(e) -- sf).toSeq.sorted.map((_, -1L))
      case (LegacyFileListOffset(sf), LegacyFileListOffset(ef)) =>
        ef.filterNot(sf.toSet).map((_, -1L))
      case (EpochStreamOffset(s), LegacyFileListOffset(ef)) =>
        ef.filterNot(log.allUpTo(s)).map((_, -1L))
    }
    FhirBundleSource.packPartitions(
      SourceFiles.withSizes(fresh, path, conf.value))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FhirReaderFactory(required, conf)

  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class FhirInputPartition(files: Array[String])
    extends InputPartition

private[sources] class FhirReaderFactory(required: StructType,
    conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new FhirPartitionReader(
      partition.asInstanceOf[FhirInputPartition].files, required, conf)
}

/** Reads each file whole, runs the shared single-tokenization pivot with
  * the PRUNED registry, and projects into the required schema with the
  * file's bundleUUID ([[FhirPartitionReader.bundleId]]). One file = one
  * row, matching `entry()`. */
private[sources] class FhirPartitionReader(
    files: Array[String], required: StructType,
    conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  /** Resource types actually requested, sorted — the parse registry.
    * Derived from the REQUIRED schema itself (each resource column is
    * array<struct<…>> and its element type is the parse schema), so a
    * user-supplied `.schema(…)` override flows through to the converters
    * exactly like `entry(schemas = …)`. */
  private val types: Seq[(String, StructType)] =
    required.fields.toSeq.collect {
      case StructField(n, ArrayType(st: StructType, _), _, _)
          if n != "bundleUUID" && n != "timestamp" => n -> st
    }.sortBy(_._1)
  private val registry =
    StructType(types.map { case (n, t) => StructField(n, t, nullable = true) })
  private val pivot =
    FhirBundlePivot(BoundReference(0, StringType, nullable = true), registry)
  private val pivIndex: Map[String, Int] =
    types.map(_._1).zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap

  private var i = -1
  private var current: InternalRow = _

  override def next(): Boolean = {
    i += 1
    if (i >= files.length) return false
    val p = new Path(files(i))
    val fs = p.getFileSystem(conf.value)
    val st = fs.getFileStatus(p)
    val len = st.getLen
    // whole-document parse: a bundle cannot be split, and a JVM byte
    // array caps at Int.MaxValue — reject oversized files loudly instead
    // of overflowing into a negative allocation or a corrupt parse
    require(len <= Int.MaxValue,
      s"graft-fhir: bundle file ${files(i)} is $len bytes; whole-document " +
        s"JSON bundles larger than ${Int.MaxValue} bytes are not supported")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    val piv = pivot.eval(
      new GenericInternalRow(Array[Any](UTF8String.fromBytes(bytes))))
      .asInstanceOf[InternalRow]
    val out = new Array[Any](required.length)
    var c = 0
    while (c < required.length) {
      val name = required.fields(c).name
      out(c) =
        if (name == "bundleUUID")
          UTF8String.fromString(FhirPartitionReader.bundleId(
            st.getPath.toString, len, st.getModificationTime))
        else if (piv == null) null // malformed document: row survives, null columns
        else if (name == "timestamp") piv.get(0, StringType)
        else piv.get(pivIndex(name), required.fields(c).dataType)
      c += 1
    }
    current = new GenericInternalRow(out)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

private[sources] object FhirPartitionReader {

  /** The bundle id of a file: a name-based (version 3) UUID of its
    * qualified path, byte length and modification time. Stable across
    * scans of an unchanged file, distinct for distinct paths. */
  def bundleId(path: String, len: Long, modifiedMs: Long): String =
    java.util.UUID.nameUUIDFromBytes(
      s"$path\u0000$len\u0000$modifiedMs"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
}
