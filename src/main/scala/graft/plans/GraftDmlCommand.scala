package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.command.LeafRunnableCommand

/** Eager side-effect node for the `graft.<t>` statements Spark's V2 execs
  * cannot run: `DELETE FROM`, `UPDATE` and `MERGE INTO graft.t …`
  * ([[ResolveGraftTables]]) and the view, ref and partition-field DDL
  * ([[ResolveGraftDdl]]) analyze into one of these, and Spark's
  * command-execution phase runs the captured [[graft.tables.ManagedTable]]
  * operation exactly once when the statement executes — so `.explain` on
  * the statement does NOT mutate the table and a re-collect does not
  * re-run the write. Afterwards it refreshes every cached read of the
  * table, under either spelling
  * ([[graft.catalog.GraftCatalog.refreshCachedReads]]).
  */
case class GraftDmlCommand(operation: String, table: String,
                           body: () => Unit) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    body()
    session.conf.getOption("spark.graft.warehouse").foreach(
      graft.catalog.GraftCatalog.refreshCachedReads(session, _, table))
    Seq.empty
  }
  override def simpleString(maxFields: Int): String =
    s"GraftDmlCommand $operation graft.$table"
}
