package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{ConnectorFace, DeletionVectors, FeatherMutations, FeatherStats, GraftFeather, GraftHadoop}

/** FACE-GENERIC DSv2 row-level machinery — DELETE / UPDATE / MERGE run
  * on EVERY face (feather / parquet / avro) and on hive-partitioned
  * layouts, through one scan/write pair programmed against
  * [[graft.io.ConnectorFace]] (the same per-format adapter the
  * maintenance tier uses).
  *
  * The SCAN ([[FaceScan]]) plans one InputPartition per kept data file:
  * partition-directory pruning (conservative tri-state over the pushed
  * filters), whole-file stats pruning, then the face's own row iterator
  * with the file's deletion vector applied; hive partition values,
  * `_file`, and the per-row `_pos` splice in exactly like the feather
  * connector's reader. Every pushed filter returns as residual — for the
  * GROUP (COW) operation that is the group contract (a kept file's every
  * row must flow through the rewrite); for the batch-read fallback it
  * just means Spark re-filters rows above the scan. Whole-file
  * granularity is deliberate: a row-level rewrite is file-granular
  * anyway, and this is the third-party interop surface — the graft
  * session's engine paths (vectorized parquet scan, split avro reads)
  * stay the performance path.
  *
  * The WRITES go through [[FaceTaskWriters]]: every face's tables get
  * their final parts from the writer tasks in one pass (the commit only
  * renames them; on a hive layout each row goes to the leaf its
  * partition VALUES name, so an UPDATE that changes a partition column
  * moves the row between leaves inside the one atomic commit). The
  * manifest commit then swaps groups (COW) or
  * binds deletion vectors (delta); tmp parts are deleted either way, and
  * a failed commit unwinds the final parts and fresh DV sidecars. */
private[graft] object FaceRowLevel {
  /** One operation per (command, strategy): group-based COW for the
    * `graft` catalog, delta (DV sidecars) for `graft_dv`. */
  def operation(cmd: Command, path: String, face: ConnectorFace,
                dataSchema: StructType, partCols: Seq[String],
                partSchema: StructType, delta: Boolean): RowLevelOperation =
    if (delta)
      new FaceDeltaOperation(cmd, path, face, dataSchema, partCols, partSchema)
    else
      new FaceCowOperation(cmd, path, face, dataSchema, partCols, partSchema)
}

// ---------------------------------------------------------------------------
// operations
// ---------------------------------------------------------------------------

private class FaceCowOperation(cmd: Command, path: String,
                               face: ConnectorFace, dataSchema: StructType,
                               partCols: Seq[String], partSchema: StructType)
    extends RowLevelOperation with FeatherRowLevelHost {
  override def command(): Command = cmd
  override def description(): String =
    s"graft COW $cmd on $path (${face.label} face)"
  // puts Spark's write pipeline into data+metadata mode so the plan's
  // bookkeeping columns strip before rows reach the part writer (the
  // feather COW operation's contract)
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftMetaColumns.FileName))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FaceScanBuilder(Some(this), face, path,
      StructType(dataSchema.fields ++ partSchema.fields), partSchema, None)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FaceCowWrite(this, info.schema(), path, face, dataSchema, partCols)
}

private class FaceDeltaOperation(cmd: Command, path: String,
                                 face: ConnectorFace, dataSchema: StructType,
                                 partCols: Seq[String], partSchema: StructType)
    extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta
    with FeatherRowLevelHost {
  override def command(): Command = cmd
  override def description(): String =
    s"graft delta (merge-on-read) $cmd on $path (${face.label} face)"
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftMetaColumns.FileName),
      Expressions.column(GraftMetaColumns.PosName))
  override def representUpdateAsDeleteAndInsert(): Boolean = true
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FaceScanBuilder(Some(this), face, path,
      StructType(dataSchema.fields ++ partSchema.fields), partSchema, None)
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new FaceDeltaWrite(this, info, path, face, dataSchema, partCols)
}

// ---------------------------------------------------------------------------
// scan
// ---------------------------------------------------------------------------

/** `host = Some(op)`: a row-level read (records the scan state the write
  * commits against). `host = None`: the BATCH read for faces without a
  * DSv2 delegate (the parquet face) — same reader, optional time-travel
  * pin. */
private[graft] class FaceScanBuilder(host: Option[FeatherRowLevelHost],
                                     face: ConnectorFace, path: String,
                                     fullSchema: StructType,
                                     partSchema: StructType,
                                     pinnedVersion: Option[Long])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var fileFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    fileFilters = filters.filter(FeatherScanBuilder.usable)
    filters // ALL residual: file/leaf skipping only, Spark re-filters rows
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    fileFilters
  override def build(): Scan =
    // the parquet face's BY-NAME batch read rides the engine's read plan
    // (vectorized splits — see ParquetFaceBatchScan); row-level scans
    // (host = Some) stay on the whole-file group contract
    if (host.isEmpty && (face eq graft.io.ConnectorFace.ParquetFace))
      new ParquetFaceBatchScan(face, path, required, fileFilters.toSeq,
        StructType(fullSchema.fields.filterNot(f =>
          partSchema.fieldNames.contains(f.name))),
        partSchema, pinnedVersion, owned = fullSchema.fieldNames.toSet)
    else
      new FaceScan(host, face, path, required, fileFilters.toSeq, partSchema,
        pinnedVersion, owned = fullSchema.fieldNames.toSet)
}

private[sources] class FaceScan(host: Option[FeatherRowLevelHost],
                                face: ConnectorFace, path: String,
                                readSchema0: StructType,
                                fileFilters: Seq[org.apache.spark.sql.sources.Filter],
                                partSchema: StructType,
                                pinnedVersion: Option[Long],
                                owned: Set[String] = Set.empty)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = readSchema0
  override def description(): String =
    s"graft ${face.label} face scan `$path`" + (if (fileFilters.nonEmpty)
      s", FileSkipFilters: ${fileFilters.mkString(", ")}" else "")
  override def toBatch: Batch = this

  // resolved ONCE per scan instance: snapshot + kept files + their DVs
  // must be one consistent view (the feather COW scan's memo rule);
  // private[sources]: the parquet batch scan reuses this exact planning
  private[sources] lazy val planned
      : (FeatherCowState, Array[InputPartition], Long) = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val snap = FeatherSnapshots.resolve(fs, root, pinnedVersion).getOrElse(
      throw new IllegalStateException(
        s"${face.label} scan on $path: no snapshot manifest"))
    val disc = FeatherSnapshots.toDiscovered(root, snap)
    val relOfAbs: Map[String, String] = snap.files.map { case (rel, _) =>
      new org.apache.hadoop.fs.Path(root, rel).toString -> rel }.toMap
    // partition-DIRECTORY pruning first (free), then stats-first
    // whole-file pruning, then blooms for point lookups — the same
    // O(directories)+O(kept) planning discipline the feather scans keep
    val leafKept =
      if (disc.partCols.isEmpty || fileFilters.isEmpty) disc.files
      else disc.files.filter(
        FeatherPartitions.survives(_, disc.partSchema, fileFilters))
    val statsByFile
        : Map[String, Option[Seq[Map[String, FeatherStats.ColStat]]]] =
      if (fileFilters.isEmpty) Map.empty
      else FeatherStats.loadForFiles(conf, leafKept.map(l => (l.file, l.len)))
    val pointFilters = FeatherScanBuilder.pointLookups(fileFilters)
    def statsEmpty(abs: String): Boolean =
      statsByFile.getOrElse(abs, None).exists(stats =>
        stats.nonEmpty && stats.forall(
          FeatherStats.batchProvablyEmpty(_, fileFilters)))
    def bloomExcluded(abs: String, len: Long): Boolean =
      pointFilters.nonEmpty &&
        graft.io.FeatherBloom.excludesFile(conf, abs, len, pointFilters)
    // schema stamps (`<prefix>-empty.<ext>`) hold ZERO rows by the
    // engine's reserved naming — never a group (a no-op statement must
    // publish NO version, the feather twin's contract), never scanned
    val kept = leafKept.filterNot(l =>
      l.file.endsWith(s"-empty${face.suffix}") ||
        statsEmpty(l.file) || bloomExcluded(l.file, l.len))
    val state = FeatherCowState(snap, kept.map(l => relOfAbs(l.file)).toSet)
    val parts = kept.map { l =>
      val pv = l.values ++
        GraftMetaColumns.fileValue(readSchema0, l.file, l.values, owned)
      FaceInputPartition(l.file, l.len, pv,
        // LeafFile.dv already carries the ROOT-RESOLVED sidecar path
        // (toDiscovered) — re-resolving doubled the prefix for relative
        // roots (absolute roots silently absorbed it: Path(parent, abs)
        // = abs), caught by the pqread scale receipt
        l.dv.map(_._1),
        GraftMetaColumns.posName(readSchema0, l.values, owned))
        : InputPartition
    }.toArray
    (state, parts, kept.map(_.len).sum)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (state, parts, _) = planned
    host.foreach(_.scanState = Some(state))
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val (state, _, _) = planned
    val root = new org.apache.hadoop.fs.Path(path)
    val keptAbs = state.keptRel.toSeq.map(rel =>
      new org.apache.hadoop.fs.Path(root, rel).toString)
    val lenOf = state.snap.files.map { case (rel, len) =>
      new org.apache.hadoop.fs.Path(root, rel).toString -> len }.toMap
    // avro merged reader schema, resolved ONCE per scan and shipped via
    // the (broadcast) factory, never per partition
    val readerJson = face.readerJson(spark,
      keptAbs.map(abs => (abs, lenOf(abs))))
    new FaceReaderFactory(face, readSchema0, readerJson,
      GraftHadoop.confBroadcast(spark))
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(planned._3)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
}

private[sources] case class FaceInputPartition(
    file: String, len: Long, partValues: Seq[(String, String)],
    dvPath: Option[String], posName: Option[String])
    extends InputPartition

private class FaceReaderFactory(
    face: ConnectorFace, readSchema: StructType, readerJson: String,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FaceInputPartition]
    new PartitionReader[InternalRow] {
      // per-JVM cached rebuild — O(entries) once per executor, not per
      // partition (the 10⁵-partition lens)
      private val execConf = GraftHadoop.execConf(confMap)
      private val open =
        scala.collection.mutable.Set.empty[AutoCloseable]
      private val toInternal =
        CatalystTypeConverters.createToCatalystConverter(readSchema)
      private val partRaw = p.partValues.toMap
      private val partAt: Map[Int, Any] =
        readSchema.fields.zipWithIndex.collect {
          case (f, i) if partRaw.contains(f.name) =>
            i -> FeatherPartitions.castValue(partRaw(f.name), f.dataType)
        }.toMap
      private val posIdx: Int =
        p.posName.map(readSchema.fieldIndex).getOrElse(-1)
      private val dataNames = readSchema.fieldNames.filterNot(n =>
        partRaw.contains(n) || p.posName.contains(n)).toSeq
      private val rows: Iterator[(Long, org.apache.spark.sql.Row)] =
        try {
          val dv = p.dvPath
            .map(DeletionVectors.read(execConf, _)).orNull
          face.fileRowsPos(execConf, readerJson, p.file, p.len, dataNames,
            dv, open.add(_), open.remove(_))
        } catch { case e: Throwable =>
          open.foreach(r => try r.close() catch { case _: Exception => () })
          throw e
        }
      private var current: InternalRow = _
      private def splice(pos: Long, dataRow: org.apache.spark.sql.Row)
          : org.apache.spark.sql.Row =
        if (partAt.isEmpty && posIdx < 0) dataRow
        else {
          var di = 0
          org.apache.spark.sql.Row.fromSeq(
            readSchema.fields.indices.map { i =>
              if (i == posIdx) pos
              else partAt.getOrElse(i, { val v = dataRow.get(di); di += 1; v })
            })
        }
      override def next(): Boolean =
        if (rows.hasNext) {
          val (pos, r) = rows.next()
          current = toInternal(splice(pos, r)).asInstanceOf[InternalRow]
          true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit =
        open.foreach(r => try r.close() catch { case _: Exception => () })
    }
  }
}

// ---------------------------------------------------------------------------
// writes
// ---------------------------------------------------------------------------

/** The task-side part writers of the engine's DSv2 writes (inserts,
  * row-level rewrites, staged CREATE/REPLACE): every face's tables get
  * their FINAL parts from the writer tasks in one pass. The tasks write
  * hidden tmp parts in the table's own face (feather: the Arrow IPC
  * part writer; parquet: Spark's parquet OutputWriter; avro: the avro
  * sink's part writer) — routed to their hive leaves by
  * [[RoutedWriterFactory]] on a partitioned layout — and the commit
  * only renames them. */
private[sources] object FaceTaskWriters {
  /** Every tmp part a write's tasks reported (a routed task reports one
    * per leaf it wrote). */
  def parts(messages: Seq[WriterCommitMessage]): Seq[FeatherCommitMessage] =
    messages.flatMap {
      case m: FeatherCommitMessage => Seq(m)
      case r: RoutedCommitMessage => r.parts
      case _ => Nil
    }

  /** Fails on an unwritable schema BEFORE tasks launch. Every part is
    * written with all columns nullable (the file-source convention), so
    * parts of one table never differ by a literal's non-null footer. */
  def factory(spark: SparkSession, face: ConnectorFace,
              partCols: Seq[String], st: StructType,
              dir: String): DataWriterFactory = {
    val dataSt = org.apache.spark.sql.graft.Bridge.asNullable(
      StructType(st.fields.filterNot(f => partCols.contains(f.name))))
    val leaves = face match {
      case ConnectorFace.ParquetFace =>
        ParquetTaskWriterFactory(spark, dataSt, dir)
      case ConnectorFace.AvroFace =>
        new AvroWriterFactory(dataSt,
          graft.io.GraftAvro.toAvroSchema(dataSt).toString, dir,
          face.codecFor("lz4"), GraftHadoop.confBroadcast(spark))
      case _ => featherFactory(spark, dataSt, dir)
    }
    if (partCols.isEmpty) leaves
    else new RoutedWriterFactory(st, partCols, dir, leaves)
  }

  /** The tmp-feather task writer (the feather face's, and the input a
    * predicate overwrite's replaceWhere re-reads). */
  def featherFactory(spark: SparkSession, st: StructType,
                     dir: String): DirWriterFactory = {
    val schema = org.apache.spark.sql.graft.Bridge.asNullable(st)
    schema.fields.foreach(f =>
      GraftFeather.toArrowField(f.name, f.dataType, f.nullable))
    new FeatherWriterFactory(schema, dir, "lz4", 4096,
      GraftHadoop.confBroadcast(spark))
  }

  /** Tmp-part messages (zero-row ones already dropped by the caller)
    * renamed to final parts → (final parts, the DEFERRED merged-stats
    * fold input). */
  def finalizeParts(face: ConnectorFace,
                    fs: org.apache.hadoop.fs.FileSystem, path: String,
                    msgs: Seq[FeatherCommitMessage])
      : (Seq[(String, Long)],
         Map[String, (Long, Seq[Map[String, FeatherStats.ColStat]])]) = {
    val renamed = FeatherDsvWrites.renameParts(fs, path, msgs, face.suffix)
    (renamed.map { case (n, (len, _)) => (n, len) }.toSeq, renamed)
  }
}

/** The parquet task writer: Spark's own parquet OutputWriter (the sink
  * `df.write.parquet` uses) prepared once on the driver, so a task's
  * part carries exactly the footer the face's other writers produce —
  * every column nullable (the sink's convention) and TIMESTAMP_MICROS
  * (the parquet table tier's pin, [[graft.io.GraftParquet]]). The commit
  * message carries the footer-derived stats sidecar content. */
private[sources] object ParquetTaskWriterFactory {
  def apply(spark: SparkSession, st: StructType,
            dir: String): ParquetTaskWriterFactory = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.graft.Bridge.asNullable(st)
    val base = spark.sparkContext.hadoopConfiguration
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      new org.apache.hadoop.conf.Configuration(base))
    val out = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().prepareWrite(spark, job,
        Map("compression" -> "snappy"), schema)
    val conf = job.getConfiguration
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // ship only what the prepare step changed; the base conf rides the
    // session's one conf broadcast
    val extra = conf.iterator().asScala.map(e => e.getKey -> e.getValue)
      .filter { case (k, v) => base.get(k) != v }.toMap
    new ParquetTaskWriterFactory(schema, dir, out, extra,
      GraftHadoop.confBroadcast(spark))
  }
}

private[sources] class ParquetTaskWriterFactory(
    st: StructType, dir: String,
    out: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    extra: Map[String, String],
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]],
    seq: Int = 0)
    extends DirWriterFactory {
  override def inDir(d: String, seq: Int): DirWriterFactory =
    new ParquetTaskWriterFactory(st, d, out, extra, confMap, seq)
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
      private val tmpName =
        DirWriterFactory.tmpName(partitionId, taskId, seq, "parquet")
      private val conf = {
        val c = new org.apache.hadoop.conf.Configuration(
          GraftHadoop.execConf(confMap))
        extra.foreach { case (k, v) => c.set(k, v) }
        c
      }
      private val file = new org.apache.hadoop.fs.Path(dir, tmpName)
      private val writer = out.newInstance(file.toString, st,
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf,
          new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP,
            partitionId), 0)))
      override def write(row: InternalRow): Unit = writer.write(row)
      override def commit(): WriterCommitMessage = {
        writer.close()
        FeatherCommitMessage(tmpName, partitionId,
          FeatherStats.toJson(
            graft.io.GraftParquet.footerBatches(conf, file.toString)),
          file.getFileSystem(conf).getFileStatus(file).getLen)
      }
      override def abort(): Unit = {
        try writer.close() catch { case _: Exception => () }
        try file.getFileSystem(conf).delete(file, false)
        catch { case _: Exception => () }
        ()
      }
      override def close(): Unit = () // commit/abort own the file
    }
}

/** A task writer factory that can write the same parts into another
  * directory (a hive leaf); `seq` > 0 names a further part of the same
  * task in that directory. */
private[sources] trait DirWriterFactory extends DataWriterFactory {
  def inDir(dir: String, seq: Int): DirWriterFactory
}

private[sources] object DirWriterFactory {
  def tmpName(partitionId: Int, taskId: Long, seq: Int, ext: String): String =
    f".part-$partitionId%05d-task-$taskId" +
      (if (seq > 0) s"-$seq" else "") + s".$ext.tmp"
}

/** One routed task's parts, one per hive leaf it wrote; each part's
  * tmp name is relative to the table root (`k=v/.part-…`). */
private[sources] case class RoutedCommitMessage(parts: Seq[FeatherCommitMessage])
    extends WriterCommitMessage

/** The hive-layout writes ask Spark for their rows grouped by leaf —
  * a local sort on the partition columns, as Spark's own partitioned
  * file sink does — so a [[RoutedWriterFactory]] task holds ONE open
  * part writer at a time. `clusterByLeaf` also asks for a (non-strict)
  * clustering shuffle on them: a leaf's rows meet in one task, so a
  * leaf gets one part unless adaptive execution splits a large one. */
private[sources] trait LeafOrderedWrite
    extends org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{SortDirection, SortOrder}
  import org.apache.spark.sql.connector.expressions.Expressions.sort
  import org.apache.spark.sql.graft.Bridge.columnRef

  /** The partition columns the tasks route by (empty: no routing). */
  protected def leafCols: Seq[String]
  protected def clusterByLeaf: Boolean = true

  override def requiredDistribution(): Distribution =
    if (leafCols.isEmpty || !clusterByLeaf) Distributions.unspecified()
    else Distributions.clustered(leafCols.map(columnRef).toArray)
  override def distributionStrictlyRequired(): Boolean = false
  override def requiredOrdering(): Array[SortOrder] =
    leafCols.map(c => sort(columnRef(c),
      SortDirection.ASCENDING)).toArray
}

/** Hive-layout task writer: each row goes to the leaf its partition
  * VALUES name ([[FeatherPartitions.leafName]]), holding the DATA
  * columns only (partition values live in the directory chain). Rows
  * arrive grouped by leaf ([[LeafOrderedWrite]]): the open part is
  * finished when the leaf changes, so a task holds one writer at a
  * time. A leaf that comes back (an input Spark did not sort) gets a
  * further part, never a reopened one. */
private[sources] class RoutedWriterFactory(st: StructType,
                                           partCols: Seq[String],
                                           root: String,
                                           leaves: DirWriterFactory)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
      import org.apache.spark.sql.connector.write.DataWriter
      private val partIdx = partCols.map(st.fieldIndex)
      private val toScala = partIdx.map(i =>
        CatalystTypeConverters.createToScalaConverter(st(i).dataType))
      private val data = UnsafeProjection.create(st.fields.indices
        .filterNot(partIdx.contains)
        .map(i => BoundReference(i, st(i).dataType, st(i).nullable)))
      private var leaf: String = null
      private var open: DataWriter[InternalRow] = null
      private val opened = scala.collection.mutable.HashMap.empty[String, Int]
      private val finished =
        scala.collection.mutable.ArrayBuffer.empty[(DataWriter[InternalRow], FeatherCommitMessage)]
      private def leafOf(row: InternalRow): String =
        FeatherPartitions.leafName(s"write to $root", partCols,
          partCols.indices.map { j =>
            val raw = row.get(partIdx(j), st(partIdx(j)).dataType)
            if (raw == null) null else toScala(j)(raw)
          })
      private def finishOpen(): Unit = if (open != null) {
        val m = open.commit().asInstanceOf[FeatherCommitMessage]
        finished += (open -> m.copy(tmpName = s"$leaf/${m.tmpName}"))
        open = null
      }
      override def write(row: InternalRow): Unit = {
        val l = leafOf(row)
        if (l != leaf) {
          finishOpen()
          val seq = opened.getOrElse(l, 0)
          opened(l) = seq + 1
          open = leaves.inDir(new org.apache.hadoop.fs.Path(root, l).toString,
            seq).createWriter(partitionId, taskId)
          leaf = l
        }
        open.write(data(row))
      }
      override def commit(): WriterCommitMessage = {
        finishOpen()
        RoutedCommitMessage(finished.map(_._2).toSeq)
      }
      override def abort(): Unit =
        (Option(open).toSeq ++ finished.map(_._1)).foreach(w =>
          try w.abort() catch { case _: Exception => () })
      override def close(): Unit = ()
    }
}

/** Group-based COW write — ONE commit protocol for every face and
  * layout (finalize first: a MERGE into a fully-pruned table still
  * publishes its NOT MATCHED inserts; no-read no-write statements
  * publish NO version; unwind on a lost conflict check). Inserted rows
  * finalize through [[FaceTaskWriters]]. */
private[sources] class FaceCowWrite(op: FeatherRowLevelHost,
                                    st: StructType,
                                    path: String, face: ConnectorFace,
                                    dataSchema: StructType,
                                    partCols: Seq[String])
    extends WriteBuilder with Write with BatchWrite with LeafOrderedWrite {
  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graft COW ${op.command()} $path (${face.label})"
  override protected def leafCols: Seq[String] = partCols

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    FaceTaskWriters.factory(SparkSession.active, face, partCols, st, path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val state = op.scanState.getOrElse(throw new IllegalStateException(
      s"row-level ${op.command()} on $path: write committed before the " +
        "scan planned — the group set is unknown"))
    val committed = FaceTaskWriters.parts(messages.toSeq)
    val (data, empty) = committed.partition(m =>
      FeatherStats.fromJson(m.statsJson).nonEmpty)
    empty.foreach { m =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
      catch { case _: Exception => () }
    }
    if (state.keptRel.isEmpty && data.isEmpty) return
    val opName = s"rowlevel_${op.command().toString.toLowerCase}"
    val targetV = state.snap.version + 1
    val (parts, flatStats) = FaceTaskWriters.finalizeParts(face, fs, path,
      data.toSeq)
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    added ++= parts
    if (added.isEmpty &&
        state.snap.files.forall { case (rel, _) => state.keptRel(rel) })
      added ++= FeatherMutations.stampLeaves(face, fs, root,
        state.snap.files.map(_._1),
        FeatherSnapshots.runPrefix(targetV), dataSchema)
    try
      FeatherSnapshots.commitMutation(fs, root, opName, state.snap,
        removeRel = state.keptRel, add = added.toSeq,
        readRel = Some(state.keptRel)): Unit
    catch { case e: Throwable =>
      FeatherDsvWrites.deleteFinalized(fs, path, added.toSeq.map(_._1))
      FeatherMutations.unpublishLeafStats(fs,
        new org.apache.hadoop.fs.Path(path), added.toSeq.map(_._1))
      throw e
    }
    // after the manifest commit: a lost conflict check never strands
    // merged-stats entries for parts that did not publish
    FeatherMutations.upsertLeafStats(fs, root, flatStats)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    FaceTaskWriters.parts(messages.toSeq).foreach { m =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
      catch { case _: Exception => () }
    }
  }
}

/** Delta write — ONE commit protocol for every face's merge-on-read
  * path: deleted rows → DV sidecars (per-face position encodings ride
  * [[ConnectorFace.fileRowsPos]] on the way in and the faces' DV-aware
  * reads on the way out), inserted rows → final parts through
  * [[FaceTaskWriters]], one atomic manifest commit, full unwind (parts,
  * sidecars, fresh DVs, leaf-stats entries) when the conflict check
  * loses. */
private[sources] class FaceDeltaWrite(op: FeatherRowLevelHost,
                                      info: LogicalWriteInfo,
                                      path: String, face: ConnectorFace,
                                      dataSchema: StructType,
                                      partCols: Seq[String])
    extends DeltaWriteBuilder with DeltaWrite with DeltaBatchWrite
    with LeafOrderedWrite {

  private val rowSchema: StructType = info.schema()
  private val rowIdSchema: StructType = info.rowIdSchema().orElseThrow(() =>
    new IllegalStateException(
      s"delta ${op.command()} on $path: Spark supplied no rowId schema"))
  // sort only: a clustering shuffle would also move every deleted
  // row's id, which the sidecars take by file wherever it arrives
  override protected def clusterByLeaf: Boolean = false
  override protected def leafCols: Seq[String] =
    if (partCols.forall(rowSchema.fieldNames.contains)) partCols else Nil

  override def build(): DeltaWrite = this
  override def toBatch(): DeltaBatchWrite = this
  override def description(): String =
    s"graft delta ${op.command()} $path (${face.label})"

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
      : DeltaWriterFactory =
    new FeatherDeltaWriterFactory(rowIdSchema,
      FaceTaskWriters.factory(SparkSession.active, face, partCols,
        rowSchema, path))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val state = op.scanState.getOrElse(throw new IllegalStateException(
      s"delta ${op.command()} on $path: write committed before the scan " +
        "planned — the touched-file set is unknown"))
    val msgs = messages.collect { case m: FeatherDeltaCommitMessage => m }
    val relOfAbs: Map[String, String] = state.snap.files.map {
      case (rel, _) =>
        new org.apache.hadoop.fs.Path(root, rel).toString -> rel }.toMap
    val relIdx: Map[String, Int] =
      state.snap.files.map(_._1).zipWithIndex.toMap
    val byFid = scala.collection.mutable.HashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
    msgs.foreach(_.deletes.foreach { case (abs, poss) =>
      val rel = relOfAbs.getOrElse(abs, throw new IllegalStateException(
        s"delta ${op.command()} on $path: writer reported deletions in " +
          s"'$abs', which is not in the scanned snapshot"))
      byFid.getOrElseUpdate(relIdx(rel),
        scala.collection.mutable.ArrayBuffer.empty[Long]) ++= poss
    })
    val (insertMsgs, emptyIns) = FaceTaskWriters.parts(msgs.flatMap(_.insert).toSeq)
      .partition(m => FeatherStats.fromJson(m.statsJson).nonEmpty)
    emptyIns.foreach { m =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
      catch { case _: Exception => () }
    }
    // nothing deleted, nothing inserted: a no-match statement publishes
    // NO version (replay-clean, the COW sibling's contract)
    if (byFid.isEmpty && insertMsgs.isEmpty) return
    val targetV = state.snap.version + 1
    val opName =
      s"rowlevel_delta_${op.command().toString.toLowerCase}"
    val (parts, flatStats) = FaceTaskWriters.finalizeParts(face, fs, path,
      insertMsgs)
    // exact row counts (stats sidecars) let fully-masked files DROP from
    // the manifest instead of carrying a 100%-coverage vector — loads
    // are bounded by the TOUCHED file set, not the table
    val touched = byFid.keys.map(state.snap.files(_)).toSeq
      .map { case (rel, len) =>
        (new org.apache.hadoop.fs.Path(root, rel).toString, len) }
    val statsByFile = FeatherStats.loadForFiles(conf, touched)
    def fileRowCount(fid: Int): Option[Long] = {
      val abs = new org.apache.hadoop.fs.Path(root,
        state.snap.files(fid)._1).toString
      statsByFile.getOrElse(abs, None).flatMap(FeatherMutations.exactRows)
    }
    val (bindings, droppedRel) = FeatherMutations.bindDvs(fs, conf, root,
      state.snap, targetV,
      byFid.view.mapValues(_.toArray).toMap, fileRowCount)
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    added ++= parts
    // every file dropped and nothing inserted: schema stamps keep the
    // table readable (the mutation tier's shared all-rows-deleted shape)
    if (added.isEmpty && droppedRel.nonEmpty &&
        state.snap.files.forall { case (rel, _) => droppedRel(rel) })
      added ++= FeatherMutations.stampLeaves(face, fs, root,
        state.snap.files.map(_._1),
        FeatherSnapshots.runPrefix(targetV), dataSchema)
    try
      FeatherSnapshots.commitMutation(fs, root, opName, state.snap,
        removeRel = droppedRel, add = added.toSeq, setDvs = bindings,
        readRel = Some(state.keptRel)): Unit
    catch { case e: Throwable =>
      // the publish failed (conflict): parts, stamps, leaf-stats
      // entries, AND the freshly written DV sidecars were never
      // visible — delete them all
      FeatherDsvWrites.deleteFinalized(fs, path, added.toSeq.map(_._1))
      FeatherMutations.unpublishLeafStats(fs,
        new org.apache.hadoop.fs.Path(path), added.toSeq.map(_._1))
      bindings.values.foreach { case (dvRel, _) =>
        try fs.delete(new org.apache.hadoop.fs.Path(root, dvRel), false)
        catch { case _: Exception => () }
        ()
      }
      throw e
    }
    // after the manifest commit: a lost conflict check never strands
    // merged-stats entries for parts that did not publish
    FeatherMutations.upsertLeafStats(fs, root, flatStats)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    FaceTaskWriters.parts(messages.toSeq.collect {
        case m: FeatherDeltaCommitMessage => m }.flatMap(_.insert))
      .foreach { m =>
        try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
        catch { case _: Exception => () }
      }
  }
}
