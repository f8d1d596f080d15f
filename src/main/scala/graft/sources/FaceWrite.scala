package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

import graft.io.{ConnectorFace, FeatherMutations, FeatherStats, GraftHadoop}

/** FACE-GENERIC batch WRITE — the insert half of the catalog's table
  * handle ([[FaceScanBuilder]] is the read half): `INSERT INTO` /
  * `INSERT OVERWRITE` against tables the connector delegates cannot
  * serve — the parquet
  * face (no DSv2 connector) and HIVE-PARTITIONED tables on any face
  * (the flat connector sinks refuse root appends into key=value
  * layouts; this write routes each row to the leaf its partition values
  * name, [[FeatherPartitions.leafName]]).
  *
  * Task rows land as final parts in one pass through
  * [[FaceTaskWriters]] (clustered by leaf and routed to their leaves on
  * a hive layout); the manifest commit then publishes:
  *
  *  - append (`INSERT INTO`): add-only — commutes with every concurrent
  *    commit (empty read set); a zero-row insert publishes NO version.
  *  - truncate (`INSERT OVERWRITE` without/with an always-true filter):
  *    one commit removes every current file and adds the new parts
  *    (stamps when none) — prior versions stay time-travelable.
  *  - static partition overwrite (`INSERT OVERWRITE ... PARTITION
  *    (k=v)`): the filters Spark hands down are EqualTo on partition
  *    columns — leaves whose values match are replaced, everything else
  *    carries through verbatim.
  *  - predicate overwrite (`writeTo(t).overwrite(condition)` on any
  *    other filter): exactly replaceWhere — the rows matching the
  *    condition are deleted and the query's rows inserted, one atomic
  *    commit through [[graft.io.PredicateMutations.replaceWhere]].
  *  - dynamic partition overwrite: only the leaves the query's rows
  *    land in are replaced (Spark/Hive dynamic semantics), matched by
  *    TYPED partition value (an adopted `day=07` leaf is partition 7). */
private[graft] class FaceBatchWrite(path: String, face: ConnectorFace,
                                    dataSchema: StructType,
                                    partCols: Seq[String],
                                    writeSchema: StructType)
    extends WriteBuilder with Write with BatchWrite
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
    with LeafOrderedWrite {

  /** append | truncate | static (leaf-equality filters) | where | dynamic */
  private var mode: String = "append"
  private var staticFilters: Seq[(String, Any)] = Seq.empty
  private var whereFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil

  override def truncate(): WriteBuilder = { mode = "truncate"; this }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    // writeTo(t).overwritePartitions() arrives here whatever the
    // session's mode; the SQL INSERT OVERWRITE spelling only under
    // dynamic — keep both spellings scoped by the one conf
    if (!SparkSession.active.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static")
        .equalsIgnoreCase("dynamic"))
      throw new IllegalArgumentException(
        s"overwritePartitions on graft table $path: set " +
          "spark.sql.sources.partitionOverwriteMode=dynamic — dynamic " +
          "overwrites are scoped by that conf")
    mode = "dynamic"; this
  }

  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    import org.apache.spark.sql.sources.{AlwaysTrue, EqualNullSafe, EqualTo}
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) return truncate()
    // Spark spells a static PARTITION (k=v) spec as EqualNullSafe
    val leafEq = filters.toSeq.collect {
      case EqualTo(a, v) if partCols.contains(a) => (a, v)
      case EqualNullSafe(a, v) if partCols.contains(a) => (a, v)
    }
    if (leafEq.size == filters.length) {
      staticFilters = leafEq; mode = "static"
    } else {
      whereFilters = filters.toSeq; mode = "where"
    }
    this
  }

  /** A pushed overwrite filter back as a Column, for replaceWhere. */
  private def toColumn(f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case EqualNullSafe(a, v) => col(a) <=> lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isin(vs.toSeq: _*)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case StringStartsWith(a, v) => col(a).startsWith(v)
      case StringEndsWith(a, v) => col(a).endsWith(v)
      case StringContains(a, v) => col(a).contains(v)
      case And(l, r) => toColumn(l) && toColumn(r)
      case Or(l, r) => toColumn(l) || toColumn(r)
      case Not(c) => !toColumn(c)
      case AlwaysTrue() => lit(true)
      case AlwaysFalse() => lit(false)
      case other => throw new UnsupportedOperationException(
        s"overwrite on $path: filter $other has no replaceWhere spelling")
    }
  }

  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graft $mode insert $path (${face.label})"
  override protected def leafCols: Seq[String] =
    if (mode == "where") Nil else partCols

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    // a predicate overwrite re-reads its rows for replaceWhere: tmp
    // feather parts are that read's input
    if (mode == "where")
      FaceTaskWriters.featherFactory(SparkSession.active, writeSchema, path)
    else FaceTaskWriters.factory(SparkSession.active, face, partCols,
      writeSchema, path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = FaceTaskWriters.parts(messages.toSeq)
    val (data, empty) = committed.partition(m =>
      FeatherStats.fromJson(m.statsJson).nonEmpty)
    empty.foreach { m =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
      catch { case _: Exception => () }
    }
    if (mode == "where") {
      // replaceWhere owns the whole commit (its own parts, conflict
      // check and stamps); the tmp parts are only its input rows
      try {
        val rows =
          if (data.isEmpty) spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            writeSchema)
          else graft.io.GraftFeather.readFiles(spark, data.toSeq.map(m =>
            (new org.apache.hadoop.fs.Path(path, m.tmpName).toString,
              m.bytes)))
        graft.io.PredicateMutations.replaceWhere(spark, path, rows,
          whereFilters.map(toColumn).reduce(_ && _)): Unit
      } finally abort(data.toArray[WriterCommitMessage])
      return
    }
    val snap = FeatherSnapshots.resolve(fs, root, None).getOrElse(
      throw new IllegalStateException(
        s"insert on $path: no snapshot manifest (catalog tables always " +
          "carry one)"))
    // a zero-row APPEND publishes no version (replay-clean); overwrites
    // still publish — emptying is their meaning
    if (data.isEmpty && mode == "append") return
    val opName = mode match {
      case "append" => "append"
      case _ => "insert_overwrite"
    }
    val targetV = snap.version + 1
    val (parts, flatStats) = FaceTaskWriters.finalizeParts(face, fs, path,
      data.toSeq)
    lazy val relOfAbs = snap.files.map { case (rel, _) =>
      new org.apache.hadoop.fs.Path(root, rel).toString -> rel }.toMap
    // which existing files does this statement replace?
    val removeRel: Set[String] = mode match {
      case "append" => Set.empty
      case "truncate" => snap.files.map(_._1).toSet
      case "dynamic" if parts.isEmpty => Set.empty
      case "dynamic" =>
        // Spark/Hive dynamic semantics: only the leaves the new rows
        // landed in are replaced, compared by TYPED value
        val disc = FeatherSnapshots.toDiscovered(root, snap)
        def typed(values: Seq[(String, String)]): Seq[Any] =
          values.map { case (c, raw) =>
            FeatherPartitions.castValue(raw, disc.partSchema(c).dataType) }
        val landed = FeatherSnapshots.toDiscovered(root,
          snap.copy(files = parts, dvs = Map.empty)).files
          .map(l => typed(l.values)).toSet
        disc.files.filter(l => landed(typed(l.values)))
          .map(l => relOfAbs(l.file)).toSet
      case "static" =>
        // leaves whose partition VALUES equal every static filter value
        // (a partition column is constant per leaf, so equality decides
        // whole files exactly)
        val disc = FeatherSnapshots.toDiscovered(root, snap)
        val ps = disc.partSchema
        val matching = disc.files.filter { l =>
          val vals = l.values.toMap
          staticFilters.forall { case (c, v) =>
            vals.get(c).exists { raw =>
              val leafV = FeatherPartitions.castValue(raw, ps(c).dataType)
              if (v == null) leafV == null
              else java.util.Objects.equals(leafV,
                FeatherPartitions.castValue(String.valueOf(v),
                  ps(c).dataType))
            }
          }
        }
        matching.map(l => relOfAbs(l.file)).toSet
    }
    // nothing written AND nothing replaced (dynamic overwrite of zero
    // rows, static overwrite matching no leaf): publish no version
    if (parts.isEmpty && removeRel.isEmpty) return
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    added ++= parts
    // an overwrite that emptied the table (or its target leaves) must
    // leave it readable — stamp per replaced leaf, the mutation tier's
    // shared all-rows-gone shape
    if (added.isEmpty && removeRel.nonEmpty &&
        snap.files.forall { case (rel, _) => removeRel(rel) })
      added ++= FeatherMutations.stampLeaves(face, fs, root,
        snap.files.map(_._1), FeatherSnapshots.runPrefix(targetV),
        dataSchema)
    try
      FeatherSnapshots.commitMutation(fs, root, opName, snap,
        removeRel = removeRel, add = added.toSeq,
        readRel = Some(removeRel)): Unit
    catch { case e: Throwable =>
      FeatherDsvWrites.deleteFinalized(fs, path, added.toSeq.map(_._1))
      FeatherMutations.unpublishLeafStats(fs, root, added.toSeq.map(_._1))
      throw e
    }
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
