package graft.plans

import graft.catalog.GraftCatalog
import graft.tables.ViewStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, ResolvedIdentifier, ResolvedProcedure, ResolvedTable, UnresolvedIdentifier, UnresolvedProcedure, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, Call, CreateTable, CreateTableAsSelect, DropColumns, DropTable, LogicalPlan, RenameColumn, SetTableProperties, TruncateTable, UnsetTableProperties}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.ExplainCommand
import org.apache.spark.sql.types.{DataType, StructType}

/** Delegating parser for the `graft.<t>` DDL and CALL surface.
  *
  * CREATE TABLE, CTAS, DROP TABLE, `ALTER TABLE … ADD COLUMNS / DROP
  * COLUMN / RENAME COLUMN / SET TBLPROPERTIES / UNSET TBLPROPERTIES`,
  * `TRUNCATE TABLE` and `CALL graft.system.<proc>(…)` are the catalog's
  * statements: this parser only rewrites the `graft.<t>` identifier (or
  * the procedure) onto [[GraftCatalog.forWarehouse]] over
  * `spark.graft.warehouse`, and Spark's own V2 execs run the statement
  * through [[GraftCatalog]] / [[graft.catalog.GraftV2Table]] /
  * [[graft.catalog.GraftProcedures]], exactly as for a registered
  * `<cat>.<t>`. The rewrite has to happen HERE rather than in a
  * resolution rule: the analyzer's session-catalog resolution runs before
  * extension rules and rejects e.g. a `day(ts)` partition transform on a
  * v1 identifier before a rule could claim the statement.
  *
  * The verbs Spark's grammar lacks (partition fields, identifier fields,
  * write order, branch/tag refs) are recognized from the SQL text; views,
  * `SHOW`/`DESCRIBE` and `TRUNCATE … PARTITION` stay in
  * [[ResolveGraftDdl]], reads, INSERT and the row-level DML in
  * [[ResolveGraftTables]].
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  private lazy val ddl = new ResolveGraftDdl(session)

  /** Snapshot-ref DDL (round 8) — `ALTER TABLE graft.t CREATE|DROP
    * BRANCH|TAG name [AS OF VERSION n]`, the Iceberg ref-management
    * grammar. Spark's own parser has no production for these (Iceberg
    * ships them in its extension grammar), so they are recognized from
    * the SQL TEXT before delegating — the delegate would raise a parse
    * error, not an unresolved plan a rule could claim.
    */
  private val RefDdl =
    ("""(?is)^\s*ALTER\s+TABLE\s+graft\s*\.\s*`?([A-Za-z0-9_]+)`?\s+""" +
      """(CREATE|DROP)\s+(BRANCH|TAG)\s+`?([A-Za-z0-9_][A-Za-z0-9_.\-]*)`?""" +
      """(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*$""").r

  /** Table-management DDL (round 10) — the Iceberg Spark-extension
    * grammar for partition-spec evolution, identifier fields and write
    * order, none of which Spark's own parser has a production for:
    *   ALTER TABLE graft.t ADD PARTITION FIELD <transform>
    *   ALTER TABLE graft.t DROP PARTITION FIELD <transform>
    *   ALTER TABLE graft.t REPLACE PARTITION FIELD <old> WITH <new>
    *   ALTER TABLE graft.t SET IDENTIFIER FIELDS a, b
    *   ALTER TABLE graft.t WRITE [LOCALLY] ORDERED BY a [ASC|DESC], b
    *   ALTER TABLE graft.t WRITE UNORDERED
    */
  private val AlterHead = """(?is)^\s*ALTER\s+TABLE\s+graft\s*\.\s*`?([A-Za-z0-9_]+)`?\s+"""
  private val PartitionFieldDdl =
    (AlterHead + """(ADD|DROP)\s+PARTITION\s+FIELD\s+(.+?)\s*;?\s*$""").r
  private val ReplacePartitionFieldDdl =
    (AlterHead + """REPLACE\s+PARTITION\s+FIELD\s+(.+?)\s+WITH\s+(.+?)\s*;?\s*$""").r
  private val SetIdentifierFieldsDdl =
    (AlterHead + """SET\s+IDENTIFIER\s+FIELDS\s+(.+?)\s*;?\s*$""").r
  private val WriteOrderedDdl =
    (AlterHead + """WRITE\s+(?:LOCALLY\s+)?ORDERED\s+BY\s+(.+?)\s*;?\s*$""").r
  private val WriteUnorderedDdl =
    (AlterHead + """WRITE\s+UNORDERED\s*;?\s*$""").r

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case RefDdl(tbl, verb, kind, ref, ver) =>
      ddl.refDdlCommand(tbl, verb.toUpperCase(java.util.Locale.ROOT),
        kind.toUpperCase(java.util.Locale.ROOT), ref, Option(ver).map(_.toLong))
    case ReplacePartitionFieldDdl(tbl, oldF, newF) =>
      ddl.partitionFieldCommand(tbl, Some(oldF), Some(newF))
    case PartitionFieldDdl(tbl, verb, field) =>
      if (verb.equalsIgnoreCase("ADD")) ddl.partitionFieldCommand(tbl, None, Some(field))
      else ddl.partitionFieldCommand(tbl, Some(field), None)
    case SetIdentifierFieldsDdl(tbl, fields) =>
      ddl.setIdentifierFieldsCommand(tbl, fields)
    case WriteOrderedDdl(tbl, order) => ddl.writeOrderedCommand(tbl, Some(order))
    case WriteUnorderedDdl(tbl)      => ddl.writeOrderedCommand(tbl, None)
    case _ => ddl(onCatalog(delegate.parsePlan(sqlText)))
  }

  private def isGraft(parts: Seq[String]): Boolean =
    parts.length == 2 && parts.head.equalsIgnoreCase("graft")

  /** The statement kinds Spark's V2 execs run through the catalog: their
    * `graft.<t>` target (a direct child) resolves onto [[GraftCatalog]].
    * A missing table keeps `UnresolvedTable`, so Spark raises its normal
    * not-found error; `DROP TABLE` over a persisted view refuses here,
    * because `DropTableExec` only sees that no table exists. `CALL
    * graft.system.<proc>` resolves to the catalog's procedure, which
    * Spark binds and invokes; EXPLAIN resolves the statement it wraps.
    */
  private def onCatalog(plan: LogicalPlan): LogicalPlan = plan match {
    case e: ExplainCommand => e.copy(logicalPlan = onCatalog(e.logicalPlan))
    case c @ Call(UnresolvedProcedure(Seq(g, ns, proc)), _, _)
        if g.equalsIgnoreCase("graft") && ns.equalsIgnoreCase("system") =>
      val cat = GraftCatalog.forWarehouse(session, ddl.warehouse(s"system.$proc"))
      val ident = Identifier.of(Array("system"), proc)
      c.copy(procedure = ResolvedProcedure(cat, ident, cat.loadProcedure(ident)))
    case _: CreateTable | _: CreateTableAsSelect | _: DropTable | _: AddColumns |
         _: DropColumns | _: RenameColumn | _: SetTableProperties |
         _: UnsetTableProperties | _: TruncateTable =>
      plan.mapChildren {
        case UnresolvedIdentifier(parts, _) if isGraft(parts) =>
          val name = parts(1)
          val wh = ddl.warehouse(name)
          val cat = GraftCatalog.forWarehouse(session, wh)
          val ident = Identifier.of(Array.empty, name)
          if (plan.isInstanceOf[DropTable] && !cat.tableExists(ident) &&
              ViewStore.exists(session, wh, name))
            throw new IllegalArgumentException(s"graft.$name is a view (use DROP VIEW)")
          ResolvedIdentifier(cat, ident)
        case u: UnresolvedTable if isGraft(u.multipartIdentifier) &&
            !u.multipartIdentifier(1).contains('$') =>
          val ident = Identifier.of(Array.empty, u.multipartIdentifier(1))
          session.conf.getOption("spark.graft.warehouse").flatMap { wh =>
            val cat = GraftCatalog.forWarehouse(session, wh)
            try Some(ResolvedTable.create(cat, ident, cat.loadTable(ident)))
            catch { case _: NoSuchTableException => None }
          }.getOrElse(u)
        case other => other
      }
    case _ => plan
  }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
