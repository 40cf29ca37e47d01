package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.tables.{Maintenance, ManagedTable}

/** The maintenance procedures of [[GraftCatalog]]'s V2 `ProcedureCatalog`
  * (Spark 4): `CALL <cat>.system.<proc>(…)`, and `CALL
  * graft.system.<proc>(…)`, which [[graft.plans.GraftSqlParser]] resolves
  * onto the same catalog. Spark owns the grammar, named-argument
  * resolution and argument coercion; results come back as driver-local
  * scans of informational rows, like Iceberg's procedures. Every verb is
  * manifest/metadata-scale to PLAN — the heavy ones (compact) run the
  * same distributed rewrite the API runs.
  *
  * A spec's `run` takes its arguments as Scala values in declared order:
  * `StringType` → String, `LongType`/`TimestampType` → Long, timestamps
  * as epoch MILLIS. It returns rows of String/Long matching `out`.
  */
object GraftProcedures {

  final case class Spec(
      name: String,
      params: Seq[(String, DataType)],
      out: Seq[(String, DataType)],
      run: (String => ManagedTable, Seq[Any]) => Seq[Seq[Any]])

  private def str(a: Seq[Any], i: Int): String = a(i).asInstanceOf[String]
  private def lng(a: Seq[Any], i: Int): Long = a(i).asInstanceOf[Long]

  val all: Seq[Spec] = Seq(
    Spec("compact", Seq("table" -> StringType),
      Seq("files_before" -> LongType, "files_after" -> LongType),
      (load, a) => { val (b, x) = load(str(a, 0)).compact(); Seq(Seq(b, x)) }),
    Spec("compact_minor", Seq("table" -> StringType),
      Seq("trickle_groups_before" -> LongType, "trickle_groups_after" -> LongType),
      (load, a) => { val (b, x) = load(str(a, 0)).compactMinor()
                     Seq(Seq(b.toLong, x.toLong)) }),
    Spec("materialize_position_deletes", Seq("table" -> StringType),
      Seq("pairs" -> LongType),
      (load, a) => Seq(Seq(load(str(a, 0)).materializePositionalDeletes()))),
    Spec("expire_snapshots", Seq("table" -> StringType, "older_than" -> TimestampType),
      Seq("expired" -> LongType),
      (load, a) => Seq(Seq(load(str(a, 0)).expireSnapshots(lng(a, 1)).toLong))),
    Spec("rollback_to_version", Seq("table" -> StringType, "version" -> LongType),
      Seq("current_version" -> LongType),
      (load, a) => { val t = load(str(a, 0)); t.rollbackTo(lng(a, 1))
                     Seq(Seq(t.meta.currentVersion)) }),
    Spec("maintenance", Seq("table" -> StringType),
      Seq("action" -> StringType, "detail" -> StringType),
      (load, a) => Maintenance.run(load(str(a, 0))).map(x => Seq(x.kind, x.detail))),
    Spec("replicate", Seq("source" -> StringType, "target" -> StringType),
      Seq("synced_to_version" -> LongType),
      (load, a) => Seq(Seq(graft.cdc.Replicate.syncOnce(
        load(str(a, 0)), load(str(a, 1)))))),
    Spec("remove_orphan_files", Seq("table" -> StringType, "older_than" -> TimestampType),
      Seq("removed" -> LongType),
      (load, a) => Seq(Seq(load(str(a, 0)).removeOrphanFiles(lng(a, 1)).toLong))),
    Spec("publish_branch", Seq("table" -> StringType, "branch" -> StringType),
      Seq("published_version" -> LongType),
      (load, a) => { val t = load(str(a, 0)); t.publishBranch(str(a, 1))
                     Seq(Seq(t.meta.currentVersion)) }),
    Spec("analyze", Seq("table" -> StringType, "columns" -> StringType),
      Seq("groups_updated" -> LongType, "columns_analyzed" -> StringType),
      (load, a) => {
        val cols = str(a, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val (n, cs) = load(str(a, 0)).analyzeColumns(cols)
        Seq(Seq(n, cs.mkString(",")))
      }))

  val Names: Seq[String] = all.map(_.name)

  def load(spark: SparkSession, warehouse: String, proc: String): Option[UnboundProcedure] = {
    def table(name: String): ManagedTable =
      ManagedTable.load(spark, warehouse, name).getOrElse(
        throw new IllegalArgumentException(s"table '$name' does not exist in $warehouse"))
    all.find(_.name == proc.toLowerCase(java.util.Locale.ROOT))
      .map(new GraftUnboundProcedure(_, table,
        GraftCatalog.refreshCachedReads(spark, warehouse, _)))
  }
}

/** `refresh` runs for every table the call loaded, after the call: a
  * rollback or a publish changes the rows a cached read answers.
  */
private final class GraftUnboundProcedure(
    spec: GraftProcedures.Spec,
    table: String => ManagedTable,
    refresh: String => Unit) extends UnboundProcedure {

  override def name(): String = spec.name
  override def description(): String = s"graft maintenance procedure ${spec.name}"

  /** A timestamp parameter whose argument is integral binds as `LongType`
    * epoch millis (`expire_snapshots('t', 1700000000000)`): Spark will not
    * implicitly cast a number to a timestamp. In `inputType`, positional
    * arguments come first; a named one carries `BY_NAME` metadata.
    */
  override def bind(inputType: StructType): BoundProcedure = {
    def byName(f: StructField): Boolean = f.metadata.contains("BY_NAME")
    def input(n: String, i: Int): Option[DataType] = inputType.fields
      .find(f => byName(f) && f.name.equalsIgnoreCase(n))
      .orElse(inputType.fields.lift(i).filterNot(byName)).map(_.dataType)
    val types = spec.params.zipWithIndex.map { case ((n, dt), i) =>
      (dt, input(n, i)) match {
        case (TimestampType, Some(ByteType | ShortType | IntegerType | LongType)) => LongType
        case _ => dt
      }
    }
    new BoundProcedure {
      override def name(): String = spec.name
      override def description(): String = s"graft maintenance procedure ${spec.name}"
      override def parameters(): Array[ProcedureParameter] =
        spec.params.zip(types).map { case ((n, _), dt) => ProcedureParameter.in(n, dt).build() }
          .toArray
      // mutates table state — never collapse or reorder invocations
      override def isDeterministic: Boolean = false
      override def call(row: InternalRow): java.util.Iterator[Scan] = {
        // a TimestampType argument arrives as micros-since-epoch
        val args: Seq[Any] = types.zipWithIndex.map {
          case (StringType, i)    => row.getUTF8String(i).toString
          case (TimestampType, i) => Math.floorDiv(row.getLong(i), 1000L)
          case (_, i)             => row.getLong(i)
        }
        val out = StructType(spec.out.map { case (n, dt) =>
          StructField(n, dt, nullable = false) })
        val loaded = scala.collection.mutable.LinkedHashSet.empty[String]
        val result = spec.run(n => { loaded += n; table(n) }, args).map(vals =>
          InternalRow.fromSeq(vals.map {
            case s: String => UTF8String.fromString(s)
            case x => x
          })).toArray
        loaded.foreach(refresh)
        java.util.List.of[Scan](new LocalScan {
          override def rows(): Array[InternalRow] = result
          override def readSchema(): StructType = out
          override def description(): String = s"graft CALL ${spec.name}"
        }).iterator()
      }
    }
  }
}
