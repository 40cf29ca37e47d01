package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.tables.{ManagedTable, TableMeta, ViewStore}

/** The graft DSv2 catalog — the scale seam of the table layer.
  *
  * Registered as `spark.sql.catalog.<name> = graft.catalog.GraftCatalog`
  * with `spark.sql.catalog.<name>.warehouse = <dir>`, it exposes every
  * warehouse table to Spark's native V2 resolution: `SELECT … FROM
  * <name>.<table>` plans a [[GraftScan]] whose per-partition-tuple input
  * splits report [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
  * — so a join of two co-bucketed tables (or a GROUP BY on the partition
  * key) runs with NO shuffle exchange under
  * `spark.sql.sources.v2.bucketing.enabled`, Spark's storage-partitioned
  * join. The reference gets this from Iceberg's SparkCatalog
  * (docs/iceberg.md catalog configuration); graft re-expresses it over
  * the manifest layer.
  *
  * It is also the ONE read path of the graft SQL surface: with
  * [[graft.GraftExtensions]] installed, `graft.<table>` reads resolve to
  * this catalog's tables over `spark.graft.warehouse`
  * ([[GraftCatalog.forWarehouse]]), no registration needed. The
  * identifier suffix grammar (`$v<N>`, `$branch_<b>`, `$files`, …) lives
  * here, so both spellings accept it.
  *
  * Also a [[FunctionCatalog]]: Catalyst resolves the reported `bucket`
  * transform through [[GraftBucketFunction]], whose semantics equal the
  * write path's `pmod(hash(col), n)` — identical to Spark's own
  * `HashPartitioning`, so the physical layout IS Spark's shuffle
  * partitioning and SPJ compatibility is exact, not approximate.
  *
  * DDL: this catalog is the one implementation of CREATE / CTAS / DROP
  * TABLE, the column and property ALTERs ([[alterTable]]) and TRUNCATE
  * TABLE for both spellings — `graft.<t>` statements run through Spark's
  * V2 execs on [[GraftCatalog.forWarehouse]]
  * ([[graft.plans.GraftSqlParser]]). Verbs Spark's grammar lacks
  * (partition fields, identifier fields, write order) refuse with a
  * pointer to the `graft.<t>` surface. The namespace is single-level:
  * tables live directly under the warehouse; the empty and `default`
  * namespaces are interchangeable.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  // set by [[GraftCatalog.forWarehouse]]; a registered catalog serves
  // the active session
  private var session: Option[SparkSession] = None

  private def spark: SparkSession = session.getOrElse(SparkSession.active)

  /** Tables live flat under the warehouse: `<catalog>.<t>` and
    * `<catalog>.default.<t>` name the same table.
    */
  private def checkNs(ns: Array[String]): Unit =
    if (!(ns.isEmpty || (ns.length == 1 && ns(0).equalsIgnoreCase("default"))))
      throw new NoSuchNamespaceException(catalogName +: ns)

  // ----------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    checkNs(namespace)
    ManagedTable.list(spark, warehouse)
      .map(Identifier.of(namespace, _)).toArray
  }

  private def managed(ident: Identifier): ManagedTable = {
    checkNs(ident.namespace)
    ManagedTable.load(spark, warehouse, ident.name)
      .getOrElse(throw new NoSuchTableException(ident))
  }

  /** Plain resolution adjudicates `spark.wap.branch` like the SQL
    * writes do: with the conf naming a LIVE branch of this table, the
    * read serves the branch's staged view; an absent branch falls back to
    * live. Metadata tables resolve under BOTH spellings — `<cat>.t$files`
    * and `<cat>.t.files` (Iceberg's nested form) — for `files`/
    * `partitions`/`snapshots`/`refs`, as read-only driver-local scans
    * (manifest-scale, zero file reads) describing the LIVE table.
    */
  override def loadTable(ident: Identifier): Table =
    metadataTable(ident).orElse(refTable(ident)).getOrElse(liveTable(ident, writeTarget = false))

  /** The target of an INSERT, DELETE, UPDATE or MERGE: a handle that is
    * never equal to a read handle ([[GraftV2Table.equals]]).
    */
  override def loadTable(ident: Identifier,
                         writePrivileges: util.Set[TableWritePrivilege]): Table =
    metadataTable(ident).orElse(refTable(ident)).getOrElse(liveTable(ident, writeTarget = true))

  private def liveTable(ident: Identifier, writeTarget: Boolean): Table = {
    val t = managed(ident)
    val wap = spark.conf.getOption("spark.wap.branch").filter(_.nonEmpty)
      .filter(b => t.branches().contains(b))
    // all-identity single-epoch specs additionally expose Spark's native
    // partition management (SHOW PARTITIONS / DROP PARTITION); derived
    // transforms and evolved specs keep the plain table — Spark then
    // raises its standard not-partition-managed error
    GraftCatalog.v2Table(t, wap, writeTarget)
  }

  private val MetaSuffixes = Set("files", "partitions", "snapshots", "refs")

  private def metadataTable(ident: Identifier): Option[Table] = {
    def load(tn: String): Option[ManagedTable] =
      ManagedTable.load(spark, warehouse, tn)
    def nsOk(ns: Array[String]): Boolean =
      ns.isEmpty || (ns.length == 1 && ns(0).equalsIgnoreCase("default"))
    val dollar = ident.name.lastIndexOf('$')
    val byDollar =
      if (dollar > 0 && nsOk(ident.namespace)) {
        val sfx = ident.name.substring(dollar + 1)
        if (MetaSuffixes(sfx))
          load(ident.name.substring(0, dollar)).map(new GraftMetadataTable(_, sfx))
        else None
      } else None
    // the nested spelling only claims the name when the inner namespace
    // element IS a live table — a genuine unknown namespace still raises
    // NoSuchNamespace through the normal path
    byDollar.orElse {
      if (ident.namespace.nonEmpty && MetaSuffixes(ident.name) &&
          nsOk(ident.namespace.dropRight(1)))
        load(ident.namespace.last).map(new GraftMetadataTable(_, ident.name))
      else None
    }
  }

  private val VersionSuffix = """v(\d{1,17})""".r

  /** `t$v<N>` (snapshot N) and `t$branch_<b>` (branch b's staged view):
    * the identifier spellings of `VERSION AS OF`, read-only like it. A
    * name that is not a live branch, or a malformed suffix, is no table;
    * a version no longer retained fails listing why.
    */
  private def refTable(ident: Identifier): Option[Table] = {
    val dollar = ident.name.indexOf('$')
    if (dollar <= 0) return None
    val base = Identifier.of(ident.namespace, ident.name.substring(0, dollar))
    ident.name.substring(dollar + 1) match {
      case VersionSuffix(v) => Some(loadTable(base, v.toLong.toString))
      case b if b.startsWith("branch_") =>
        val t = managed(base)
        val branch = b.stripPrefix("branch_")
        if (!t.branches().contains(branch)) throw new NoSuchTableException(ident)
        Some(new GraftV2Table(t, Some(branch)))
      case _ => None
    }
  }

  /** `VERSION AS OF '<ref>'` — snapshot number, tag or branch; resolved
    * eagerly so an unknown ref fails at analysis listing the live refs.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = managed(ident)
    t.v2RefEntries(version)
    new GraftV2Table(t, Some(version))
  }

  /** `TIMESTAMP AS OF` — micros since epoch (Spark's V2 contract); reads
    * the last snapshot committed at or before it, like
    * [[ManagedTable.readAsOf]].
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = managed(ident)
    new GraftV2Table(t, Some(t.versionAt(timestamp / 1000L).toString))
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    checkNs(ident.namespace)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    require(!ViewStore.exists(spark, warehouse, ident.name),
      s"$catalogName.${ident.name}: a view with this name exists")
    val props = properties.asScala.toMap
    val ids = props.get(GraftCatalog.IdsProp).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    ids.foreach(i => require(schema.fieldNames.contains(i),
      s"$catalogName.${ident.name}: identifier field '$i' is not a declared column"))
    val spec = partitions.toSeq.map(GraftCatalog.transformToSpec(ident.name, _))
    val t = ManagedTable.create(spark, warehouse, ident.name, schema, ids, spec,
      props -- GraftCatalog.ReservedProps - GraftCatalog.IdsProp)
    GraftCatalog.v2Table(t, None)
  }

  /** ALTER TABLE for both spellings — a DISPATCHER onto the one
    * evolution implementation ([[ManagedTable.evolve]]/addColumn/
    * dropColumn/renameColumn/setProperties): ADD COLUMNS (top-level,
    * appended, nullable, optional literal DEFAULT), DROP/RENAME COLUMN,
    * SET/UNSET TBLPROPERTIES. Anything the `graft.<t>` surface reaches
    * through its own grammar (partition fields, identifier fields, write
    * order) refuses with a pointer rather than growing a second spelling
    * with different guards — the `graft.identifier-fields` property
    * included, since setting it would skip the merge-on-read state guard
    * of `SET IDENTIFIER FIELDS`.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = managed(ident)
    def single(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"$catalogName.${ident.name}: nested $what is not supported " +
          s"(field ${fieldNames.mkString(".")})")
      fieldNames.head
    }
    changes.foreach {
      case sp: TableChange.SetProperty if sp.property == GraftCatalog.IdsProp =>
        throw new IllegalArgumentException(
          s"$catalogName.${ident.name}: use ALTER TABLE graft.${ident.name} SET " +
            "IDENTIFIER FIELDS to re-key (the property form would skip the " +
            "merge-on-read state guard)")
      case _ => ()
    }
    // a multi-column ADD lands as one union-by-name evolution commit; a
    // column WITH a default
    // goes through addColumn's seq-gated initial-default path (the V2
    // reader folds it — GraftScan round 10), restricted to literals whose
    // string form round-trips through `lit(s).cast(dt)` (the stored
    // representation): numerics, booleans, strings
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    adds.foreach { a =>
      require(a.position == null,
        s"$catalogName.${ident.name}: column positions are not supported (columns append)")
    }
    val (withDefault, plain) = adds.partition(_.defaultValue != null)
    if (plain.nonEmpty)
      t.evolve(StructType(plain.map(a =>
        StructField(single(a.fieldNames, "ADD COLUMN"), a.dataType, nullable = true))))
    withDefault.foreach { a =>
      val n = single(a.fieldNames, "ADD COLUMN")
      val lit = Option(a.defaultValue.getValue).getOrElse(
        throw new UnsupportedOperationException(
          s"$catalogName.${ident.name}: DEFAULT for '$n' must be a literal " +
            s"(got ${a.defaultValue.getSql})"))
      val stringRoundTrips = a.dataType match {
        case _: org.apache.spark.sql.types.NumericType |
             org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BooleanType => true
        case _ => false
      }
      require(stringRoundTrips,
        s"$catalogName.${ident.name}: DEFAULT for '$n' of type " +
          s"${a.dataType.catalogString} is not supported through the V2 catalog " +
          "(numeric/boolean/string literals only)")
      t.addColumn(StructField(n, a.dataType, nullable = true),
        default = Some(String.valueOf(lit.value)))
    }
    changes.foreach {
      case _: TableChange.AddColumn => () // handled above
      case d: TableChange.DeleteColumn =>
        val n = single(d.fieldNames, "DROP COLUMN")
        // ifExists is a nullable java.lang.Boolean — null means strict
        val ifEx = java.lang.Boolean.TRUE.equals(d.ifExists)
        if (!ifEx || t.meta.schema.fieldNames.contains(n)) t.dropColumn(n)
      case r: TableChange.RenameColumn =>
        // safe through the V2-only surface since round 10: the V2 reader
        // folds rename lineage itself (prior names coalesce per row), so
        // a rename here no longer bricks subsequent V2 reads. The guards
        // (identifier/partition-source immutability, lineage shadowing)
        // live in renameColumn — one implementation, two spellings.
        t.renameColumn(single(r.fieldNames, "RENAME COLUMN"), r.newName)
      case s: TableChange.SetProperty =>
        t.setProperties(Map(s.property -> s.value))
      case rm: TableChange.RemoveProperty =>
        t.unsetProperties(Seq(rm.property))
      case other => throw new UnsupportedOperationException(
        s"$catalogName.${ident.name}: ${other.getClass.getSimpleName} is not " +
          s"supported through the V2 catalog — the graft SQL surface " +
          s"(ALTER TABLE graft.${ident.name} …) owns partition-spec evolution, " +
          "identifier fields, write order, and type changes")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    checkNs(ident.namespace)
    ManagedTable.load(spark, warehouse, ident.name) match {
      case Some(_) =>
        val fs = TableMeta.fs(spark.sparkContext.hadoopConfiguration, warehouse)
        val deleted = fs.delete(new Path(warehouse, ident.name), true)
        GraftCatalog.refreshCachedReads(spark, warehouse, ident.name, dropped = true)
        deleted
      case None => false
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: RENAME TABLE is not supported (table names anchor " +
        "replication markers and ref properties)")

  // ------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    checkNs(namespace)
    Array.empty
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    checkNs(namespace)
    Map("location" -> warehouse).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: namespaces are fixed — tables live directly under the warehouse")

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(s"$catalogName: namespaces are fixed")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(s"$catalogName: namespaces are fixed")

  // -------------------------------------------------------- functions

  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    checkNs(namespace)
    Array(Identifier.of(namespace, "bucket"))
  }

  override def loadFunction(ident: Identifier): UnboundFunction = {
    checkNs(ident.namespace)
    if (ident.name.equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new NoSuchFunctionException(ident)
  }

  // ------------------------------------------------------- procedures

  /** `CALL <cat>.system.<proc>(…)` — Spark's native stored-procedure
    * resolution over the SAME nine maintenance verbs the graft SQL
    * surface exposes (see [[GraftProcedures]]). Procedures live under the
    * `system` namespace, Iceberg-style.
    */
  private def checkProcNs(ns: Array[String]): Unit =
    if (!(ns.length == 1 && ns(0).equalsIgnoreCase("system")))
      throw new NoSuchNamespaceException(catalogName +: ns)

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    checkProcNs(namespace)
    GraftProcedures.Names.map(Identifier.of(namespace, _)).toArray
  }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    checkProcNs(ident.namespace)
    GraftProcedures.load(spark, warehouse, ident.name).getOrElse(
      throw new RuntimeException(
        s"$catalogName.system.${ident.name}: unknown procedure " +
          s"(have: ${GraftProcedures.Names.mkString(", ")})"))
  }
}

object GraftCatalog {
  /** The catalog the `graft.<t>` SQL surface of `session` reads through:
    * named `graft`, over warehouse `wh`. Unregistered: Spark reaches it
    * through the relations it resolves, never by name.
    */
  def forWarehouse(session: SparkSession, wh: String): GraftCatalog = {
    val c = new GraftCatalog
    c.initialize("graft", new CaseInsensitiveStringMap(Map("warehouse" -> wh).asJava))
    c.session = Some(session)
    c
  }

  /** Re-plans every cached read of table `name` over a freshly loaded
    * handle, or removes those reads when the table was `dropped`. Spark's
    * write execs refresh only the spelling the statement named, but one
    * table answers to several: `graft.<t>` and `<cat>.<t>` /
    * `<cat>.default.<t>` for each loaded graft catalog over `warehouse`.
    * [[GraftV2Table]] equality ignores the snapshot, so an entry left
    * unrefreshed would answer every later read of the table. Every write
    * Spark drives calls this after its commit.
    */
  private[graft] def refreshCachedReads(session: SparkSession, warehouse: String,
                                        name: String, dropped: Boolean = false): Unit = {
    val s = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cache = s.sharedState.cacheManager
    if (cache.isEmpty) return
    val conf = s.sessionState.newHadoopConf()
    def dir(wh: String) = TableMeta.fs(conf, wh).makeQualified(new Path(wh))
    val here = dir(warehouse)
    val cats = s.sessionState.catalogManager
    val names = cats.listCatalogs(None).filter(n => cats.catalog(n) match {
      case g: GraftCatalog => dir(g.warehouse) == here
      case _ => false
    }) ++ s.conf.getOption("spark.graft.warehouse").filter(dir(_) == here).map(_ => "graft")
    for (c <- names.distinct; ns <- Seq(Nil, Seq("default")); parts = (c +: ns) :+ name)
      if (dropped) cache.uncacheTableOrView(s, parts, cascade = true)
      else cache.recacheTableOrView(s, parts)
  }

  private[graft] def refreshCachedReads(t: ManagedTable): Unit =
    refreshCachedReads(t.spark, t.warehouse, t.name)

  /** The key-constraint property CREATE carries (Spark's DDL grammar has
    * no key clause); stored as the table's identifier fields, not kept.
    */
  val IdsProp = "graft.identifier-fields"

  /** The concrete V2 table handle for a live (non-time-traveled) load:
    * partition management when the spec qualifies, and Spark's native
    * row-level UPDATE/MERGE/complex-DELETE via the [[GraftRowLevelOps]]
    * delta-write mixin when the table is ELIGIBLE — keyed, with every row
    * id column (identifiers + partition sources) declared non-nullable.
    * Ineligible tables deliberately stay without the interface rather
    * than refusing inside it: the rewrite rules claim every DELETE at
    * ANALYSIS (before the metadata-only optimizer rule could restore
    * them), so presence of the mixin on a keyless or nullable-key table
    * would break the translatable filter-based DELETEs that work today
    * through [[org.apache.spark.sql.connector.catalog.SupportsDelete]].
    */
  private[catalog] def v2Table(t: ManagedTable, wap: Option[String],
                               writeTarget: Boolean = false): GraftV2Table = {
    val rowLevel = t.meta.identifierFields.nonEmpty &&
      GraftRowLevelOperation.rowIdColumns(t).forall(c => !t.meta.schema(c).nullable)
    (partitionManaged(t), rowLevel) match {
      case (true, true)   => new GraftV2PartitionedTable(t, wap, writeTarget) with GraftRowLevelOps
      case (true, false)  => new GraftV2PartitionedTable(t, wap, writeTarget)
      case (false, true)  => new GraftV2Table(t, wap, writeTarget) with GraftRowLevelOps
      case (false, false) => new GraftV2Table(t, wap, writeTarget)
    }
  }

  /** Eligible for [[GraftV2PartitionedTable]]: a non-empty ALL-identity
    * spec on a single-epoch table whose source types round-trip through
    * their tuple strings — [[GraftScan.keyTypeSupported]], the ONE
    * whitelist the SPJ key parser uses (no parallel copy to drift).
    */
  private[catalog] def partitionManaged(t: ManagedTable): Boolean = {
    val pfs = t.v2PartitionFields
    pfs.nonEmpty && t.v2SingleEpoch && pfs.forall(pf =>
      pf.transform == "identity" &&
        GraftScan.keyTypeSupported(t.meta.schema(pf.sourceColumn).dataType))
  }

  /** Spark-managed reserved properties a V2 CREATE carries. */
  val ReservedProps: Set[String] = Set(
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION, TableCatalog.PROP_OWNER,
    TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_COMMENT, TableCatalog.PROP_TABLE_TYPE)

  /** V2 transform → graft spec string (the grammar
    * [[graft.tables.PartitionSpecParser]] parses).
    */
  def transformToSpec(table: String, t: Transform): String = {
    val refs = t.references.toSeq.map { r =>
      require(r.fieldNames.length == 1,
        s"$table: nested partition source ${r.describe} is not supported")
      r.fieldNames.head
    }
    val lits = t.arguments.toSeq.collect {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] => String.valueOf(l.value)
    }
    t.name.toLowerCase match {
      case "identity"         => refs.head
      case "years" | "year"   => s"year(${refs.head})"
      case "months" | "month" => s"month(${refs.head})"
      case "days" | "day"     => s"day(${refs.head})"
      case "hours" | "hour"   => s"hour(${refs.head})"
      case "bucket" =>
        require(refs.length == 1 && lits.length == 1, s"$table: bucket takes (N, column)")
        s"bucket(${refs.head},${lits.head})"
      case "truncate" =>
        require(refs.length == 1 && lits.length == 1, s"$table: truncate takes (W, column)")
        s"truncate(${refs.head},${lits.head})"
      case other => throw new IllegalArgumentException(
        s"$table: unsupported partition transform '$other'")
    }
  }

  /** Graft spec field → V2 transform, for [[GraftV2Table.partitioning]]. */
  def specToTransform(pf: graft.tables.PartitionField, spec: Seq[String]): Transform =
    pf.transform match {
      case "identity" => Expressions.identity(pf.sourceColumn)
      case "year"     => Expressions.years(pf.sourceColumn)
      case "month"    => Expressions.months(pf.sourceColumn)
      case "day"      => Expressions.days(pf.sourceColumn)
      case "hour"     => Expressions.hours(pf.sourceColumn)
      case "bucket"   => Expressions.bucket(numericArgOf(pf, spec), pf.sourceColumn)
      case "truncate" =>
        Expressions.apply("truncate",
          Expressions.literal(Int.box(numericArgOf(pf, spec))), Expressions.column(pf.sourceColumn))
      case other => throw new IllegalArgumentException(s"unknown transform '$other'")
    }

  /** Recover bucket N / truncate W from the raw spec string — the parsed
    * [[graft.tables.PartitionField]] bakes it into the expression only.
    */
  private[catalog] def numericArgOf(pf: graft.tables.PartitionField, spec: Seq[String]): Int = {
    val Fn = """^(\w+)\((.+)\)$""".r
    spec.map(_.trim).collectFirst {
      case Fn(fn, args) if fn.equalsIgnoreCase(pf.transform) &&
          args.split(",").map(_.trim).contains(pf.sourceColumn) =>
        args.split(",").map(_.trim).flatMap(_.toIntOption).headOption.getOrElse(
          throw new IllegalArgumentException(s"no numeric arg in '$fn($args)'"))
    }.getOrElse(throw new IllegalArgumentException(
      s"spec field ${pf.name} not found in ${spec.mkString(", ")}"))
  }
}
