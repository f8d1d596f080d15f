package graft.extensions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}

/** A table-maintenance action deferred to EXECUTION time.
  *
  * The maintenance table functions ([[GraftTableFunctions]]) mutate the
  * table (restore, expire, vacuum, compaction, clustering). Running the
  * action while the TVF builder constructs the plan would fire it at
  * ANALYSIS — `df.explain()`, a BI tool eagerly analyzing statements, or
  * a twice-resolved CTE would each mutate the table without the
  * statement ever "running". This leaf defers the side effect into the
  * physical plan: `doExecute` runs the closure ON THE DRIVER (the action
  * spawns its own Spark jobs) exactly when the enclosing statement
  * executes, and the one-row result the SELECT returns is whatever the
  * action reports — the same contract as Delta's RESTORE/OPTIMIZE
  * commands. A plan that references the node twice executes the action
  * twice, exactly like issuing the statement twice.
  *
  * Corollary (documented, deliberate): the action runs iff the leaf
  * SURVIVES optimization. A statement that provably never reads the
  * result — `WHERE 1=0`, `LIMIT 0` — is pruned to an empty relation and
  * skips the action, the same way it would skip reading a table. Drive
  * maintenance with a plain `SELECT * FROM graft_...(...)`.
  *
  * Precise firing point: `doExecute` runs when the statement's physical
  * RDD is ASSEMBLED (`QueryExecution.toRdd`), so `df.rdd` /
  * `df.queryExecution.toRdd` on a statement containing this leaf fires
  * the action even if no job ever runs over the returned RDD — slightly
  * stronger than "when the statement executes". The action cannot move
  * into task compute (it spawns driver-side Spark jobs of its own), so
  * this is the tightest deferral available; treat obtaining the RDD of a
  * maintenance statement as executing it. */
private[extensions] case class DeferredMaintenanceAction(
    name: String,
    output: Seq[Attribute],
    action: () => Seq[Row]) extends LeafNode {
  // one summary row; a join against this is always broadcast-cheap
  override def computeStats(): Statistics = Statistics(sizeInBytes = 64)
  override def simpleString(maxFields: Int): String =
    s"DeferredMaintenanceAction $name"
}

private[extensions] case class DeferredMaintenanceActionExec(
    name: String,
    output: Seq[Attribute],
    action: () => Seq[Row]) extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    // doExecute runs driver-side while the statement's RDD DAG is
    // assembled — i.e. at statement execution, never at EXPLAIN/analysis
    val rows = action()
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    // parents consume UnsafeRow (SparkPlan's byte-array collect path
    // casts); copy() because the projection reuses its buffer
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(schema)
    sparkContext.parallelize(
      rows.map(r => proj(toCatalyst(r).asInstanceOf[InternalRow]).copy()
        : InternalRow), 1)
  }
  override def simpleString(maxFields: Int): String =
    s"DeferredMaintenanceActionExec $name"
}

/** Plans the deferred maintenance leaf, plus the v2 commands Spark's own
  * planner leaves without an exec for a graft table: `MSCK REPAIR
  * TABLE` adopts a plain directory ([[graft.io.TableDdl.repairTable]]),
  * `ANALYZE TABLE` and `SHOW CREATE TABLE` refuse (statistics live in
  * per-file sidecars; there is no stored statement), and
  * `DESCRIBE TABLE EXTENDED` appends the snapshot detail (face, version,
  * data files, deletion vectors) to Spark's own rows. */
private[extensions] class DeferredActionStrategy(spark: SparkSession)
    extends SparkStrategy {
  import org.apache.spark.sql.catalyst.analysis.ResolvedTable
  import org.apache.spark.sql.catalyst.plans.logical.{AnalyzeTable, DescribeRelation, RepairTable, ShowCreateTable}
  import graft.catalog.{GraftTable, PlainDirectory}

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case d: DeferredMaintenanceAction =>
      DeferredMaintenanceActionExec(d.name, d.output, d.action) :: Nil
    case RepairTable(ResolvedTable(_, _, t, _), _, _) if pathOf(t).isDefined =>
      // a Command: the exec runs once, eagerly, at statement issue
      val path = pathOf(t).get
      DeferredMaintenanceActionExec(s"repair_table($path)", Nil, () => {
        graft.io.TableDdl.repairTable(spark, path); Nil }) :: Nil
    case AnalyzeTable(ResolvedTable(_, _, g: GraftTable, _), _, _) =>
      throw new IllegalArgumentException(
        s"ANALYZE TABLE ${g.name()}: statistics live in per-file " +
          "sidecars, not a catalog — they are written at write time and " +
          "backfilled with graft.io.FeatherStats backfill; nothing here " +
          "needs ANALYZE")
    case ShowCreateTable(ResolvedTable(_, _, g: GraftTable, _), _, _) =>
      throw new IllegalArgumentException(
        s"SHOW CREATE TABLE ${g.name()}: there is no stored CREATE " +
          "statement (a graft table is a path plus manifests) — DESCRIBE " +
          "TABLE EXTENDED prints the schema, partitioning, and face")
    case DescribeRelation(ResolvedTable(_, _, g: GraftTable, _), spec, true,
        output) if spec.isEmpty =>
      val info = graft.io.TableDdl.describeInfo(spark, g.path)
      val detail = Seq("Face" -> info.face,
        "Version" -> info.version.toString,
        "Data Files" -> info.files.toString,
        "Deletion Vectors" -> info.dvs.toString).map { case (k, v) =>
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(k),
          org.apache.spark.unsafe.types.UTF8String.fromString(v), null)
      }
      org.apache.spark.sql.execution.LocalTableScanExec(output,
        org.apache.spark.sql.execution.datasources.v2.DescribeTableExec(
          output, g, isExtended = true).executeCollect().toSeq ++ detail,
        None) :: Nil
    case _ => Nil
  }

  private def pathOf(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[String] = t match {
    case g: GraftTable => Some(g.path)
    case p: PlainDirectory => Some(p.path)
    case _ => None
  }
}
