package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.io.ConnectorFace

/** The parquet face's BATCH read — `SELECT ... FROM <catalog>.t` — on
  * the ENGINE's read plan instead of the generic row-converter scan.
  *
  * The generic [[FaceScan]] is the right plan for the row-level scans
  * (whole-file partitions are the group contract, a rewrite is
  * file-granular anyway), but as a by-name read it is the wrong plan at
  * 100×: one task per FILE (a multi-GB part becomes a straggler), a
  * per-row `CatalystTypeConverters` decode, and no executor-side
  * row-group pruning. This scan keeps the generic scan's PLANNING
  * (snapshot resolution, partition-directory pruning, stats/bloom
  * whole-file skipping, `_file`/`_pos` splice rules — one definition,
  * reused via the wrapped [[FaceScan]]) and swaps the EXECUTION onto
  * Spark's own DSv2 parquet reader factory: vectorized columnar
  * batches feeding whole-stage codegen, byte-range splits packed with
  * the native file-scan policy (small files coalesce, large files
  * split), pushed filters pruning row groups from each file's footer on
  * the executors, hive partition values appended as per-split constants
  * by the reader itself. A requested `_pos` metadata column rides
  * Spark's file-wide row-index generator — the parquet face's exact DV
  * position encoding ([[graft.io.GraftParquet]]) — so `(_file, _pos)`
  * reads identically on both plans.
  *
  * DV-BOUND snapshots fall back to the generic whole-file scan for ALL
  * partitions (the per-row reader applies sidecar masks natively):
  * Spark refuses mixed columnar/row partitions inside one scan, and at
  * head DV-bound files are a compacted-away minority by design. The
  * engine's DataFrame read ([[graft.io.GraftParquet.readFiles]]) reads
  * DV tables vectorized through the anti-join plan; SQL compacts first
  * (`graft_compact`, or `CALL <catalog>.system.compact`). */
private[sources] class ParquetFaceBatchScan(
    face: ConnectorFace, path: String, required: StructType,
    fileFilters: Seq[org.apache.spark.sql.sources.Filter],
    dataSchema: StructType, partSchema: StructType,
    pinnedVersion: Option[Long], owned: Set[String])
    extends Scan with Batch with SupportsReportStatistics {

  private val partNames = partSchema.fieldNames.toSet
  private val metaFile =
    required.fieldNames.contains(GraftMetaColumns.FileName) &&
      !owned.contains(GraftMetaColumns.FileName)
  private val metaPos =
    required.fieldNames.contains(GraftMetaColumns.PosName) &&
      !owned.contains(GraftMetaColumns.PosName)

  /** The factory's natural output order is `readDataSchema ++
    * partitionSchema`; the scan REPORTS that order (Spark rebuilds the
    * relation's attribute order from readSchema by name, a projection
    * above restores the query's shape) so no per-batch reordering wrap
    * is ever needed. Table-OWNED `_file`/`_pos` columns are ordinary
    * data columns here — the splice/rename rules below apply only to
    * the METADATA columns (the same precedence [[GraftMetaColumns]]
    * pins for every face). */
  private val dataSection: Seq[StructField] = required.fields.toSeq
    .filter(f => !partNames(f.name) &&
      !(metaFile && f.name == GraftMetaColumns.FileName))
  private val partSection: Seq[StructField] =
    required.fields.toSeq.filter(f => partNames(f.name)) ++
      (if (metaFile)
        Seq(StructField(GraftMetaColumns.FileName,
          org.apache.spark.sql.types.StringType, nullable = false))
      else Nil)

  override def readSchema(): StructType =
    StructType(dataSection ++ partSection)

  /** `_pos` → Spark's row-index generator field, position preserved
    * (rows and batches carry no names — only the factory's requested
    * schema needs the temporary spelling). */
  private val readDataSchema: StructType = StructType(dataSection.map(f =>
    if (metaPos && f.name == GraftMetaColumns.PosName)
      org.apache.spark.sql.graft.Bridge.rowIndexField
    else f))

  // ONE planning pass (snapshot + kept files + DVs as one consistent
  // view) shared with the generic scan — the fallback executes through
  // this same instance, so both plans see identical file sets
  private val generic = new FaceScan(None, face, path, readSchema(),
    fileFilters, partSchema, pinnedVersion, owned)

  private def keptParts: Seq[FaceInputPartition] =
    generic.planned._2.toSeq.map(_.asInstanceOf[FaceInputPartition])

  private lazy val anyDv: Boolean = keptParts.exists(_.dvPath.isDefined)

  override def toBatch: Batch = this
  override def description(): String =
    s"graft parquet face batch scan `$path` (vectorized, DV fallback)" +
      (if (fileFilters.nonEmpty)
        s", FileSkipFilters: ${fileFilters.mkString(", ")}" else "")

  override def planInputPartitions(): Array[InputPartition] =
    if (anyDv) generic.planInputPartitions()
    else {
      val toCatalyst = partSection.map(f =>
        CatalystTypeConverters.createToCatalystConverter(f.dataType))
      org.apache.spark.sql.graft.Bridge.parquetFilePartitions(
        SparkSession.active,
        keptParts.map { p =>
          val raw = p.partValues.toMap
          val pv = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(partSection.zipWithIndex.map {
              case (f, i) => toCatalyst(i)(FeatherPartitions.castValue(
                raw.getOrElse(f.name, null), f.dataType))
            }.toArray)
          (p.file, p.len, pv: org.apache.spark.sql.catalyst.InternalRow)
        })
    }

  override def createReaderFactory(): PartitionReaderFactory =
    if (anyDv) generic.createReaderFactory()
    else {
      // row-group pruning wants data-column filters only: partition and
      // metadata predicates already pruned whole leaves/files at
      // planning, and no parquet footer can answer them
      val dataNames = dataSchema.fieldNames.toSet
      org.apache.spark.sql.graft.Bridge.parquetReaderFactory(
        SparkSession.active, dataSchema, readDataSchema,
        StructType(partSection),
        fileFilters.filter(_.references.forall(dataNames)).toArray)
    }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(generic.planned._3)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
}
