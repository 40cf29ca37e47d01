package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.tables.ManagedTable

/** A graft table through the DSv2 seam. Reads plan partition-aware MoR
  * scans ([[GraftScan]]); writes bridge through [[V1Write]] to the SAME
  * [[ManagedTable]] commit protocol the SQL surface and the V1 seam use
  * — one write path, three spellings. The table handle pins the snapshot
  * loaded at resolution time, so one query reads one version.
  *
  * `pinnedRef` carries V2 time travel (`VERSION AS OF` → snapshot number
  * / tag / branch via [[GraftCatalog.loadTable]]) and the wap-branch
  * routing: the scan plans from that ref's entry set instead of the
  * live snapshot. Writes against an explicitly pinned ref refuse; under
  * an ambient `spark.wap.branch` they STAGE onto the branch like the SQL
  * surface's INSERT.
  */
class GraftV2Table(val t: ManagedTable,
                   val pinnedRef: Option[String] = None,
                   writeTarget: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsMetadataColumns {

  override def name(): String = t.name

  /** Two live read handles of one table are equal, whatever snapshot
    * each pinned — Iceberg's rule for Spark's cache. A cached read then
    * serves later reads of the table, so every write Spark drives (the V2
    * writes, [[graft.plans.GraftDmlCommand]], CALL) re-plans the table's
    * cache entries under all its spellings over a freshly loaded handle,
    * and DROP TABLE removes them ([[GraftCatalog.refreshCachedReads]]). A
    * write that bypasses Spark (the table API, the CDC pipeline) leaves
    * such a cache stale until it is unpersisted, as for an Iceberg table.
    *
    * Every other handle is equal only to itself: one pinned to a ref (time
    * travel, a branch, the wap branch), because a branch moves without
    * that refresh; and a write target, because Spark would otherwise plan
    * a cached read in place of a filter DELETE's target.
    */
  private def live: Boolean = pinnedRef.isEmpty && !writeTarget

  override def equals(other: Any): Boolean = other match {
    case o: GraftV2Table => (o eq this) || (live && o.live &&
      o.getClass == getClass && o.t.v2TableDir == t.v2TableDir)
    case _ => false
  }

  override def hashCode(): Int =
    if (live) t.v2TableDir.hashCode() else System.identityHashCode(this)

  override def schema(): StructType = t.meta.schema

  /** Iceberg-style metadata columns, resolved only when NAMED (never in
    * `SELECT *`): `_graft_version` = the commit version that wrote the
    * row (incremental-ETL watermarks: `WHERE _graft_version > x`),
    * `_file` = the data file path (audits, skew forensics). Both are
    * synthesized in the reader from state it already tracks — zero cost
    * when not requested. A table carrying a REAL column of either name
    * (e.g. a CTAS that materialized `_graft_version`) suppresses the
    * metadata column entirely — the data column must win, per Spark's
    * metadata-column conflict contract (the reader applies the same
    * schema-first rule, so both layers agree).
    *
    * Derived partition columns (`ts_day` of a `days(ts)` spec) are
    * metadata columns too: the groups store them, so `WHERE ts_day = …`
    * resolves on live and time-travel reads alike, while `SELECT *`
    * stays the table schema. Files written before the spec carried the
    * column read null.
    */
  override def metadataColumns(): Array[MetadataColumn] = {
    val schemaNames = t.meta.schema.fieldNames.toSet
    val derived = t.v2PhysicalSchema.fields.filterNot(f => schemaNames.contains(f.name))
      .map(f => GraftV2Table.metaColumn(f.name, f.dataType, nullable = true,
        "derived partition column"))
    (Array(
      GraftV2Table.metaColumn(GraftV2Table.VersionMetaCol,
        org.apache.spark.sql.types.LongType, nullable = false,
        "commit version that wrote the row"),
      GraftV2Table.metaColumn(GraftV2Table.FileMetaCol,
        org.apache.spark.sql.types.StringType, nullable = false, "data file path"))
      .filterNot(mc => schemaNames.contains(mc.name())) ++ derived)
  }

  override def partitioning(): Array[Transform] =
    t.v2PartitionFields.map(GraftCatalog.specToTransform(_, t.meta.partitionBy)).toArray

  override def properties(): util.Map[String, String] = t.meta.properties.asJava

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(t, pinnedRef,
      options.asCaseSensitiveMap().asScala.toMap
        .map { case (k, v) => k.toLowerCase -> v })

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedRef.isEmpty || pinnedRef == GraftV2Table.activeWapBranch,
      s"graft V2 catalog: cannot write to ${t.name} VERSION AS OF " +
        s"'${pinnedRef.get}' — time-traveled tables are read-only " +
        "(rollback via CALL graft.system.rollback_to_version)")
    new GraftWriteBuilder(t, info)
  }

  /** Row-level DELETE through the V2 seam (`DELETE FROM <cat>.t WHERE …`):
    * the condition must translate EXACTLY to a Column over the table
    * schema — a delete acts on its predicate, so unlike the scan's
    * superset-safe pruning there is no residual to hide behind; an
    * untranslatable condition refuses here and Spark raises its standard
    * cannot-translate error. The accepted shape runs the SAME
    * merge-on-read [[ManagedTable.deleteWhere]] the SQL surface uses —
    * metadata region drops, scoped keyless rewrites, tombstone commits —
    * and under an active `spark.wap.branch` it STAGES onto the branch
    * exactly like SQL DML (the live table is untouched until publish).
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    (pinnedRef.isEmpty || pinnedRef == GraftV2Table.activeWapBranch) &&
      filters.forall(GraftV2Table.filterToColumn(t.meta.schema, _).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val wap = GraftV2Table.activeWapBranch
    require(pinnedRef.isEmpty || pinnedRef == wap,
      s"graft V2 catalog: cannot DELETE from ${t.name} VERSION AS OF " +
        s"'${pinnedRef.get}' — time-traveled tables are read-only")
    val cond = filters.toSeq.map(f =>
      GraftV2Table.filterToColumn(t.meta.schema, f).getOrElse(
        throw new UnsupportedOperationException(
          s"graft V2 catalog: cannot translate delete condition $f — " +
            s"use the graft SQL surface (DELETE FROM graft.${t.name} …)")))
      .reduceOption(_ && _).getOrElse(lit(true))
    wap match {
      case Some(b) => t.deleteWhereOnBranch(cond, b)
      case None    => t.deleteWhere(cond)
    }
    GraftCatalog.refreshCachedReads(t)
  }

  /** `TRUNCATE TABLE <cat>.t` — the metadata-only truncate (zero files
    * read, a barrier-stamped empty manifest). Refused under an active
    * wap branch: truncation mutates live metadata mid-audit, and
    * branches stage row-level changes, not whole-table drops.
    */
  override def truncateTable(): Boolean = {
    GraftV2Table.activeWapBranch.foreach { b =>
      throw new UnsupportedOperationException(
        s"graft V2 catalog: TRUNCATE TABLE ${t.name} cannot target WAP " +
          s"branch '$b' — stage row deletes instead (DELETE FROM), or " +
          "unset spark.wap.branch to truncate the live table")
    }
    require(pinnedRef.isEmpty,
      s"graft V2 catalog: cannot TRUNCATE ${t.name} VERSION AS OF " +
        s"'${pinnedRef.get}' — time-traveled tables are read-only")
    t.truncate()
    GraftCatalog.refreshCachedReads(t)
    true
  }
}

/** The partition-managed variant — constructed by [[GraftCatalog.loadTable]]
  * when the table's spec is non-empty, ALL-identity, single-epoch, and
  * every source type round-trips through its tuple string: Spark's native
  * `SHOW PARTITIONS <cat>.t [PARTITION (k=v)]` lists the manifest's live
  * tuples (one metadata read, zero file scans — the SQL surface's answer),
  * and `ALTER TABLE <cat>.t DROP PARTITION (k=v)` / TRUNCATE PARTITION run
  * the SAME region delete as `DELETE FROM` — the zero-rewrite manifest
  * drop on pure-region predicates, staging under `spark.wap.branch` like
  * every V2 DML verb. ADD PARTITION refuses: graft partitions materialize
  * on write (Iceberg's model), an empty partition has no representation.
  */
class GraftV2PartitionedTable(t2: ManagedTable,
                              pinnedRef2: Option[String] = None,
                              writeTarget2: Boolean = false)
    extends GraftV2Table(t2, pinnedRef2, writeTarget2)
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{DataType, DateType, StringType => SStr}

  private def pfs = t2.v2PartitionFields

  override def partitionSchema(): StructType =
    StructType(pfs.map(pf => t2.meta.schema(pf.sourceColumn)))

  /** Typed tuples of an entry set; PosDel sidecars carry no rows. The
    * hive null sentinel lists as a NULL value for every type — including
    * string identity columns, where a stored value equal to the sentinel
    * text is indistinguishable (Hive's own ambiguity; omitting the
    * partition from the listing would be strictly worse).
    */
  private def tuplesOf(entries: Seq[graft.tables.ManifestEntry]): Seq[InternalRow] = {
    val schema = t2.meta.schema
    entries.filterNot(_.kind == graft.tables.Manifest.PosDel)
      .map(_.partition).distinct.flatMap { tuple =>
        val vals = pfs.map { pf =>
          val raw = tuple.getOrElse(pf.name, null)
          if (raw == "__HIVE_DEFAULT_PARTITION__") Some(None)
          else GraftScan.parseTupleValue(raw, pf, schema)
        }
        if (vals.exists(_.isEmpty)) None
        else Some(InternalRow.fromSeq(vals.map(_.get.orNull)))
      }
  }

  /** LISTING describes the LIVE table — the documented metadata contract
    * shared with the SQL surface's SHOW PARTITIONS and Iceberg's metadata
    * tables, which do not follow `spark.wap.branch` either.
    */
  private def liveTuples(): Seq[InternalRow] = tuplesOf(t2.v2SnapshotEntries)

  /** The DML verbs' existence guard follows the view the verb MUTATES:
    * under an active wap branch that is the branch's staged view, so a
    * partition staged mid-audit can be dropped and a staged drop is not
    * re-droppable.
    */
  private def dmlTuples(): Seq[InternalRow] = tuplesOf(
    GraftV2Table.activeWapBranch.filter(_ => pinnedRef2.isDefined)
      .map(t2.v2RefEntries).getOrElse(t2.v2SnapshotEntries))

  private def matching(tuples: Seq[InternalRow], names: Array[String],
                       ident: InternalRow): Seq[InternalRow] = {
    require(names.length == ident.numFields,
      s"${t2.name}: names (${names.length}) != ident fields (${ident.numFields})")
    val schema = partitionSchema()
    val idxs = names.map(schema.fieldIndex)
    def matches(row: InternalRow): Boolean = idxs.indices.forall { i =>
      val fi = idxs(i)
      val dt = schema(fi).dataType
      val a = if (row.isNullAt(fi)) null else row.get(fi, dt)
      val b = if (ident.isNullAt(i)) null else ident.get(i, dt)
      a == b
    }
    tuples.filter(matches)
  }

  override def listPartitionIdentifiers(names: Array[String],
                                        ident: InternalRow): Array[InternalRow] =
    matching(liveTuples(), names, ident).toArray

  override def partitionExists(ident: InternalRow): Boolean = {
    require(ident.numFields == pfs.length,
      s"${t2.name}: partition spec must name all ${pfs.length} partition column(s)")
    matching(dmlTuples(), partitionSchema().fieldNames, ident).nonEmpty
  }

  /** External (Column-API) value of an ident slot, for the delete filter. */
  private def externalValue(ident: InternalRow, i: Int): Any = {
    val dt: DataType = partitionSchema()(i).dataType
    if (ident.isNullAt(i)) null
    else dt match {
      case SStr    => ident.getUTF8String(i).toString
      case DateType => java.time.LocalDate.ofEpochDay(ident.getInt(i).toLong)
      case _       => ident.get(i, dt)
    }
  }

  /** `ALTER TABLE … DROP PARTITION (k=v, …)` — the region delete (manifest
    * drop on pure-region predicates); false when the region has no rows.
    */
  override def dropPartition(ident: InternalRow): Boolean = {
    if (!partitionExists(ident)) return false
    deleteWhere(pfs.indices.map(i => org.apache.spark.sql.sources
      .EqualNullSafe(pfs(i).sourceColumn, externalValue(ident, i))
      : org.apache.spark.sql.sources.Filter).toArray)
    true
  }

  override def truncatePartition(ident: InternalRow): Boolean = {
    if (!partitionExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        t2.name, ident, partitionSchema())
    dropPartition(ident)
  }

  override def createPartition(ident: InternalRow,
                               properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"${t2.name}: ADD PARTITION is not supported — graft partitions " +
        "materialize on write (insert rows carrying the partition values)")

  override def replacePartitionMetadata(ident: InternalRow,
                                        properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"${t2.name}: partition metadata is not supported")

  override def loadPartitionMetadata(ident: InternalRow): java.util.Map[String, String] =
    java.util.Collections.emptyMap()
}

/** A metadata table through the V2 seam (`<cat>.t$files` / `<cat>.t.files`
  * and siblings `partitions`/`snapshots`/`refs`): the SAME driver-built
  * manifest-scale frames the graft SQL surface serves
  * ([[ManagedTable.filesMetadata]] …), exposed as a read-only
  * [[org.apache.spark.sql.connector.read.LocalScan]] — zero data files
  * touched at any table size. Deliberately describes the LIVE table
  * (Iceberg's metadata tables do not follow wap.branch either; the SQL
  * surface documents the same choice). Not writable: no SupportsWrite,
  * so INSERT/DELETE against it fail with Spark's capability error.
  */
final class GraftMetadataTable(t: ManagedTable, suffix: String)
    extends Table with SupportsRead {

  private def frame: DataFrame = suffix match {
    case "files"      => t.filesMetadata()
    case "partitions" => t.partitionsMetadata()
    case "snapshots"  => t.snapshotsMetadata()
    case "refs"       => t.refsMetadata()
    case other => throw new IllegalStateException(s"unknown metadata suffix '$other'")
  }

  override def name(): String = s"${t.name}$$$suffix"
  override def schema(): StructType = frame.schema
  override def partitioning(): Array[Transform] = Array.empty
  override def properties(): util.Map[String, String] = util.Collections.emptyMap()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          private val df = frame // one manifest read per scan build
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            df.queryExecution.executedPlan.executeCollect()
          override def readSchema(): StructType = df.schema
          override def description(): String = s"graft:${t.name} metadata $suffix"
        }
    }
}

object GraftV2Table {
  private def metaColumn(n: String, dt: org.apache.spark.sql.types.DataType,
                         nullable: Boolean, doc: String): MetadataColumn =
    new MetadataColumn {
      override def name(): String = n
      override def dataType(): org.apache.spark.sql.types.DataType = dt
      override def isNullable: Boolean = nullable
      override def comment(): String = doc
    }

  private[catalog] val VersionMetaCol = "_graft_version"
  private[catalog] val FileMetaCol = "_file"

  private[catalog] def activeWapBranch: Option[String] =
    SparkSession.active.conf.getOption("spark.wap.branch").filter(_.nonEmpty)

  /** V1 Filter → exact Column over a flat schema; None = untranslatable
    * (unknown / nested attribute, or a shape with no exact Column form).
    * Every translation preserves three-valued SQL semantics — the
    * consumers (deleteWhere) treat null as no-match, same as SQL DML.
    */
  private[catalog] def filterToColumn(schema: StructType, f: Filter): Option[Column] = {
    def ref(c: String): Option[Column] =
      // top-level exact names only — a dotted name through this seam is a
      // nested field the delete surface does not address
      if (schema.fieldNames.contains(c)) Some(col(s"`$c`")) else None
    f match {
      case AlwaysTrue()            => Some(lit(true))
      case AlwaysFalse()           => Some(lit(false))
      case And(l, r)               => for { a <- filterToColumn(schema, l)
                                            b <- filterToColumn(schema, r) } yield a && b
      case Or(l, r)                => for { a <- filterToColumn(schema, l)
                                            b <- filterToColumn(schema, r) } yield a || b
      case Not(c)                  => filterToColumn(schema, c).map(!_)
      case EqualTo(c, v)           => ref(c).map(_ === lit(v))
      case EqualNullSafe(c, v)     => ref(c).map(_ <=> lit(v))
      case GreaterThan(c, v)       => ref(c).map(_ > lit(v))
      case GreaterThanOrEqual(c, v) => ref(c).map(_ >= lit(v))
      case LessThan(c, v)          => ref(c).map(_ < lit(v))
      case LessThanOrEqual(c, v)   => ref(c).map(_ <= lit(v))
      case In(c, vs)               => ref(c).map(_.isin(vs.toIndexedSeq: _*))
      case IsNull(c)               => ref(c).map(_.isNull)
      case IsNotNull(c)            => ref(c).map(_.isNotNull)
      case StringStartsWith(c, v)  => ref(c).map(_.startsWith(v))
      case StringEndsWith(c, v)    => ref(c).map(_.endsWith(v))
      case StringContains(c, v)    => ref(c).map(_.contains(v))
      case _                       => None
    }
  }
}

/** INSERT INTO → append (or branch staging under `spark.wap.branch`);
  * INSERT OVERWRITE → whole-table overwrite (V2 truncate semantics);
  * overwrite-by-FILTER (`INSERT OVERWRITE … PARTITION (k=v)` under
  * `partitionOverwriteMode=static`, `df.writeTo(t).overwrite(cond)`) →
  * [[ManagedTable.overwriteWhere]] — Spark's `OverwriteByExpressionExecV1`
  * bridges all three through [[InsertableRelation]], so every write is
  * ONE [[ManagedTable]] commit. The by-filter shape carries the full
  * replaceWhere semantics of the SQL surface: keyed pure-region
  * predicates take the zero-rewrite manifest drop, keyless region
  * conjuncts scope the copy-on-write, and batch rows OUTSIDE the
  * condition refuse before anything commits (Delta's replaceWhere
  * contract — the SQL static-partition spelling satisfies it by
  * construction, Spark injects the static values as literal columns).
  * Conditions that don't translate to an exact Column (nested fields,
  * expression shapes) make `canOverwrite` false and Spark raises its
  * standard unsupported-expression error.
  *
  * DYNAMIC partition overwrite (`partitionOverwriteMode=dynamic`,
  * `df.writeTo(t).overwritePartitions()`) takes the one connector-native
  * write in the builder — its exec has no V1 bridge — staging the batch
  * executor-side and landing [[ManagedTable.overwritePartitions]]'s
  * manifest-diff commit (see [[GraftDynamicOverwriteWrite]]).
  */
final class GraftWriteBuilder(t: ManagedTable, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  private var overwriteAll = false
  private var overwriteDynamic = false
  private var overwriteCond: Option[Column] = None

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    overwriteDynamic = true; this
  }

  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(GraftV2Table.filterToColumn(t.meta.schema, _).isDefined)

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    overwriteCond = Some(filters.toSeq.map(f =>
      GraftV2Table.filterToColumn(t.meta.schema, f).getOrElse(
        throw new UnsupportedOperationException(
          s"graft V2 catalog: cannot translate overwrite condition $f — only " +
            "comparison, IN and null predicates on top-level columns translate")))
      .reduceOption(_ && _).getOrElse(lit(true)))
    this
  }

  override def build(): Write = if (overwriteDynamic)
    new GraftDynamicOverwriteWrite(t, info)
  else new V1Write {
    /** `writeStream.toTable("<cat>.t")` — Append mode appends per epoch,
      * Complete mode (builder truncate()) overwrites per epoch; both with
      * a replay marker riding the commit for exactly-once
      * ([[GraftStreamingWrite]]).
      */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(t, info, truncateEachEpoch = overwriteAll)
    override def toInsertableRelation(): InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        val session = data.sparkSession
        val over = overwriteAll || overwriteCond.isDefined || overwrite
        // NOT gated on the branch existing: writes auto-create it, like
        // the SQL surface (reads are the side that falls back to live)
        val wap = session.conf.getOption("spark.wap.branch").filter(_.nonEmpty)
        require(wap.isEmpty || !over,
          s"INSERT OVERWRITE ${t.name} cannot target WAP branch " +
            s"'${wap.get}' — branches stage appends and row-level DML, " +
            "not overwrites (unset spark.wap.branch to overwrite the live table)")
        overwriteCond match {
          case Some(cond) if !overwriteAll => t.overwriteWhere(cond, data)
          case _ =>
            if (over) t.overwrite(data)
            else wap match {
              case Some(br) => t.stageAppendInto(data, br)
              case None     => t.append(data)
            }
        }
        GraftCatalog.refreshCachedReads(t)
      }
    }
  }
}
