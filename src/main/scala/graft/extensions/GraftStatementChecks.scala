package graft.extensions

import org.apache.spark.sql.catalyst.analysis.{ResolvedIdentifier, ResolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StringType

import graft.catalog.{GraftCatalog, GraftTable}

/** The graft refusals of table statements that Spark's own analysis
  * would otherwise word generically (or not at all): an INSERT whose
  * shape does not fit the table ([[graft.io.TableInserts.align]] — no
  * schema evolution, positional width, unsupplied partition columns),
  * ADD COLUMNS names that collide ([[graft.io.TableDdl.checkAddedNames]])
  * and a REPLACE TABLE without a table to replace. Checks only: the
  * plan is returned unchanged, and Spark's v2 analysis serves the
  * statement. A resolution rule runs at the end of each pass of the
  * analyzer's resolution batch, so it sees the INSERT with its target
  * resolved one pass before Spark aligns (and words) it, and ADD
  * COLUMNS before Spark's post-resolution checks. */
private[extensions] object GraftStatementChecks extends Rule[LogicalPlan] {

  private def graftOf(t: LogicalPlan): Option[GraftTable] = t match {
    case r: DataSourceV2Relation => r.table match {
      case g: GraftTable => Some(g)
      case _ => None
    }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan match {
      case i: InsertIntoStatement if i.query.resolved =>
        graftOf(i.table).foreach { g =>
          val op = if (i.overwrite) "INSERT OVERWRITE" else "INSERT INTO"
          graft.io.TableInserts.align(g.schema(), g.partCols,
            i.partitionSpec, i.query.output.map(_.name),
            i.userSpecifiedCols, i.byName, conf.caseSensitiveAnalysis,
            msg => throw new IllegalArgumentException(
              s"$op ${g.name()}: $msg")): Unit
        }
      case AddColumns(ResolvedTable(_, _, g: GraftTable, _), cols) =>
        graft.io.TableDdl.checkAddedNames(
          cols.filter(_.path.isEmpty).map(_.colName),
          g.schema().fieldNames.toSeq, g.partCols,
          msg => throw new IllegalArgumentException(
            s"ALTER TABLE ADD COLUMNS on ${g.name()}: $msg"))
      case r: ReplaceTable if !r.orCreate => requireTable(r.name)
      case r: ReplaceTableAsSelect if !r.orCreate => requireTable(r.name)
      case _ => ()
    }
    plan
  }

  private def requireTable(name: LogicalPlan): Unit = name match {
    case ResolvedIdentifier(c: GraftCatalog, ident)
        if !c.tableExists(ident) =>
      throw new IllegalArgumentException(
        s"REPLACE TABLE ${c.name()}.${ident.toString}: " +
          graft.io.TableDdl.MissingReplaceTarget)
    case _ => ()
  }
}

/** The lossless-or-exact rule for graft tables, as a check on Spark's
  * analyzed writes: the ANSI store assignment would silently narrow
  * (15.5 into a BIGINT column writes 15), while a graft table takes
  * only exact types and lossless up-casts — the rule of the engine's
  * own insert, update and merge APIs ([[graft.io.TableInserts]],
  * [[graft.io.PredicateMutations]], [[graft.io.ConditionalMerge]]).
  * Covers INSERT (AppendData and the overwrites) and the row-level
  * rewrites of UPDATE and MERGE (ReplaceData, WriteDelta). Inspects
  * only the casts Spark's output and assignment alignment put on the
  * query (tagged BY_TABLE_INSERTION — a user's explicit CAST is the
  * intended narrowing); a cast of a string literal (a static PARTITION
  * value) is exempt. */
private[extensions] object LosslessGraftWrites extends (LogicalPlan => Unit) {

  override def apply(plan: LogicalPlan): Unit = plan.foreach {
    case w: V2WriteCommand =>
      val target = w.table match {
        case r: DataSourceV2Relation => r.table match {
          case g: GraftTable => Some((g, "INSERT"))
          case t => org.apache.spark.sql.graft.Bridge.rowLevelTarget(t)
            .collect { case (g: GraftTable, what) => (g, what) }
        }
        case _ => None
      }
      target.foreach { case (g, what) =>
        w.query.foreach(_.expressions.foreach(check(g, what, _, None)))
      }
    case _ => ()
  }

  private def check(g: GraftTable, what: String, e: Expression,
                    column: Option[String]): Unit = e match {
    case Cast(Literal(_, StringType), _, _, _) => ()
    case c: Cast if c.getTagValue(Cast.BY_TABLE_INSERTION).isDefined &&
        !Cast.canUpCast(c.child.dataType, c.dataType) =>
      throw new IllegalArgumentException(
        s"$what into ${g.name()}: " +
          column.fold("a column")(n => s"column '$n'") +
          s" (${c.dataType.catalogString}) from a " +
          s"${c.child.dataType.catalogString} expression — only exact " +
          "types and lossless upcasts are applied; cast the value " +
          "explicitly if the narrowing is intended")
    case a: Alias => check(g, what, a.child, Some(a.name))
    case other => other.children.foreach(check(g, what, _, column))
  }
}
