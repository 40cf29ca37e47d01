package graft.catalog

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.tables.{LocalCommit, ManagedTable}

/** Native UPDATE / MERGE / complex DELETE through the V2 catalog —
  * Spark's row-level-operation protocol ([[SupportsRowLevelOperations]] →
  * [[SupportsDelta]] merge-on-read delta writes), dispatching onto the
  * SAME [[ManagedTable]] MoR commit the SQL surface and the CDC sink use.
  *
  * Shape (keyed tables only — mixed onto [[GraftV2Table]] by
  * [[GraftCatalog.loadTable]] iff identifier fields exist):
  *
  *  - Spark's own rewrite rules (RewriteUpdateTable / RewriteMergeIntoTable
  *    / RewriteDeleteFromTable) plan the target scan — a plain
  *    [[GraftScan]], so manifest pruning, SPJ reporting and runtime
  *    filtering all apply to the matched-row side — join it with the
  *    source, and feed each task's [[GraftDeltaWriter]] typed per-row
  *    verbs: `insert(row)`, `update(id, row)`, `delete(id)`.
  *  - `rowId` = identifier fields (the equality-delete scope) + partition
  *    SOURCE columns (the tombstone's tuple address): Spark preserves the
  *    ORIGINAL values of row id attributes through updates, so a
  *    partition-moving update still addresses the OLD tuple. Spark
  *    requires row id attributes declared non-nullable — guarded with a
  *    precise refusal pointing at the SQL surface.
  *  - Each writer task streams its delta straight to ONE staged parquet
  *    file (the table schema + an op column) via Spark's own parquet row
  *    writer — no buffering, no driver round-trip; commit messages carry
  *    only file paths. Speculative duplicates are excluded by Spark's
  *    output commit coordinator; losers are swept with the staging dir.
  *  - The driver commit reads the staged delta back DISTRIBUTED and lands
  *    exactly one [[ManagedTable.applyNetChanges]] MoR commit (tombstones
  *    = delete ops): O(delta) cost, the table is never rewritten. Under an
  *    active `spark.wap.branch` the same net batch STAGES onto the branch
  *    ([[ManagedTable.applyNetChangesOnBranch]]) like every other V2 DML
  *    verb — live table untouched until publish.
  *
  * `representUpdateAsDeleteAndInsert` stays false: an update whose row id
  * is unchanged is ONE upsert row (the MoR winner doubles as the equality
  * delete for the old version — reference semantics, C3–C5,
  * SINK/tableoperator/BaseDeltaTaskWriter.java:52-72). An update that
  * REASSIGNS an identifier or partition-source column splits writer-side
  * into tombstone(old id) + insert(new row), the exact shape
  * [[ManagedTable.updateWhere]] commits for the same statement.
  *
  * Net-per-key contract: Spark's MERGE cardinality check enforces one
  * action per target row, and target keys are unique, so the staged delta
  * is net per key by construction. (A MERGE whose ON clause is not on the
  * key can insert a key that another clause touched — the same user-error
  * duplicate every MoR engine admits.)
  */
private[catalog] trait GraftRowLevelOps extends SupportsRowLevelOperations {
  self: GraftV2Table =>

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinnedRef.isEmpty || pinnedRef == GraftV2Table.activeWapBranch,
      s"graft V2 catalog: cannot ${info.command} ${t.name} VERSION AS OF " +
        s"'${pinnedRef.getOrElse("")}' — time-traveled tables are read-only")
    // Spark's delta protocol requires non-nullable row id attributes, and
    // graft's row id is identifiers + partition sources (the tombstone
    // address). The table layer already treats identifiers as non-null in
    // rows (the upsert key guard / mergeInto's matched test), but the
    // DECLARED schema is what Spark checks — refuse precisely instead of
    // leaking NULLABLE_ROW_ID_ATTRIBUTES
    val nullableIds = GraftRowLevelOperation.rowIdColumns(t)
      .filter(c => t.meta.schema(c).nullable)
    require(nullableIds.isEmpty,
      s"graft V2 catalog: ${info.command} on ${t.name} needs " +
        s"${nullableIds.mkString(", ")} declared non-nullable (identifier and " +
        "partition-source columns are the row id of Spark's row-level " +
        "protocol) — recreate with non-nullable declarations, or use the " +
        s"graft SQL surface (${info.command} graft.${t.name} …)")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new GraftRowLevelOperation(t, pinnedRef, info.command)
    }
  }
}

private[catalog] final class GraftRowLevelOperation(
    t: ManagedTable, pinnedRef: Option[String],
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    import scala.jdk.CollectionConverters._
    new GraftScanBuilder(t, pinnedRef,
      options.asCaseSensitiveMap().asScala.toMap.map { case (k, v) => k.toLowerCase -> v })
  }

  /** Identifiers (the equality-delete key) plus partition SOURCE columns
    * (the tombstone's tuple address). Both MUST ride the row id — not
    * `requiredMetadataAttributes` — because Spark preserves the ORIGINAL
    * values of row id attributes an UPDATE reassigns (the
    * ORIGINAL_ROW_ID_VALUE projection), while a data column in the
    * metadata projection reads back the POST-assignment value (same
    * attribute the update rewrote), which would silently lose the
    * old-tuple tombstone of a partition-moving update. Spark requires row
    * id attributes declared non-nullable — guarded with a precise error
    * in [[GraftRowLevelOps]].
    */
  override def rowId(): Array[NamedReference] =
    GraftRowLevelOperation.rowIdColumns(t).map(Expressions.column).toArray

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(t, info)
    }

  override def description(): String = s"graft row-level $cmd on ${t.name}"
}

private[catalog] object GraftRowLevelOperation {
  /** Identifiers first, then non-identifier partition sources. */
  def rowIdColumns(t: ManagedTable): Seq[String] =
    t.meta.identifierFields ++
      t.v2PartitionFields.map(_.sourceColumn).distinct
        .filterNot(t.meta.identifierFields.contains)
}

private[catalog] final class GraftDeltaWrite(t: ManagedTable, info: LogicalWriteInfo)
    extends DeltaWrite {
  override def toBatch: DeltaBatchWrite = new GraftDeltaBatchWrite(t, info)
  override def description(): String = s"graft delta write to ${t.name}"
}

private[catalog] object GraftDelta {
  /** Staged-delta op column: 0 = upsert row (insert / in-place update),
    * 1 = delete (identifier + partition-source values, rest null).
    */
  val OpCol = "__graft_delta_op"
  val UpsertOp = 0
  val DeleteOp = 1

  /** (src slot in the incoming projection, dst slot in the staged row). */
  final case class Bind(src: Int, dst: Int, dt: DataType) extends Serializable
}

private[catalog] final class GraftDeltaBatchWrite(t: ManagedTable, info: LogicalWriteInfo)
    extends DeltaBatchWrite {
  import GraftDelta._

  private val spark = SparkSession.active

  require(!t.meta.schema.fieldNames.contains(OpCol),
    s"graft V2 catalog: ${t.name} declares a column named $OpCol, which the " +
      "delta write protocol reserves — rename it or use the graft SQL surface")

  /** All-nullable: delete rows carry null non-id columns by design. */
  private val stagedSchema = StructType(
    t.meta.schema.fields.map(_.copy(nullable = true)) :+
      StructField(OpCol, IntegerType, nullable = false))

  private val stagingDir =
    new Path(t.v2TableDir, s"_delta_staging/${info.queryId}-${UUID.randomUUID().toString.take(8)}")

  private def binds(s: StructType): Array[Bind] =
    s.fields.zipWithIndex.map { case (f, i) =>
      Bind(i, stagedSchema.fieldIndex(f.name), f.dataType)
    }

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val rowSchema = info.schema()
    val idSchema = info.rowIdSchema().orElseThrow(() =>
      new IllegalStateException(s"${t.name}: delta write without a row id schema"))
    val rowBinds = binds(rowSchema)
    val idBinds = binds(idSchema)
    // row-id slots paired across the id and row projections, for the
    // writer-side "did this update reassign identity or tuple?" check
    // (update → tombstone(old) + insert(new) when yes)
    val idPairs: Array[(Int, Int, DataType)] = idSchema.fields.flatMap { f =>
      val ri = rowSchema.fieldNames.indexOf(f.name)
      if (ri < 0) None else Some((idSchema.fieldIndex(f.name), ri, f.dataType))
    }
    val (conf, codec) = LocalCommit.prepareWriteConf(spark, stagedSchema)
    new GraftDeltaWriterFactory(stagingDir.toString, stagedSchema.length,
      rowBinds, idBinds, idPairs, new SerializableConfiguration(conf), codec.name())
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val files = messages.collect {
        case m: GraftDeltaCommitMessage if m.rows > 0L => m.path
      }
      if (files.nonEmpty) {
        // distributed read-back of exactly the committed tasks' files; the
        // one MoR commit is O(delta), the table is never rewritten
        val staged = spark.read.schema(stagedSchema).parquet(files.toIndexedSeq: _*)
        val batch = staged
          .withColumn("__graft_delta_tomb", col(OpCol) === lit(DeleteOp))
          .drop(OpCol)
        GraftV2Table.activeWapBranch match {
          case Some(b) => t.applyNetChangesOnBranch(batch, "__graft_delta_tomb", b)
          case None    => t.applyNetChanges(batch, "__graft_delta_tomb")
        }
      }
    } finally fs.delete(stagingDir, true)
    GraftCatalog.refreshCachedReads(t)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(stagingDir, true)
  }
}

private[catalog] final case class GraftDeltaCommitMessage(path: String, rows: Long)
    extends WriterCommitMessage

private[catalog] final class GraftDeltaWriterFactory(
    stagingDir: String, stagedWidth: Int,
    rowBinds: Array[GraftDelta.Bind], idBinds: Array[GraftDelta.Bind],
    idPairs: Array[(Int, Int, DataType)],
    conf: SerializableConfiguration, codecName: String)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(stagingDir, stagedWidth, rowBinds, idBinds,
      idPairs, conf, codecName, partitionId, taskId)
}

/** Executor-side delta writer: streams each verb straight into one staged
  * parquet file with Spark's own row WriteSupport (the bytes a distributed
  * write task would produce — [[LocalCommit.internalRowWriter]]). Values
  * are consumed synchronously per write, so the protocol's reused
  * projection rows need no copying. Zero-delta tasks create no file.
  */
private[catalog] final class GraftDeltaWriter(
    stagingDir: String, stagedWidth: Int,
    rowBinds: Array[GraftDelta.Bind], idBinds: Array[GraftDelta.Bind],
    idPairs: Array[(Int, Int, DataType)],
    conf: SerializableConfiguration, codecName: String,
    partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {
  import GraftDelta._

  private val opIdx = stagedWidth - 1
  private val buf = new GenericInternalRow(stagedWidth)
  private var writer: ParquetWriter[InternalRow] = null
  private var path: Path = null
  private var rows = 0L

  private def ensureWriter(): Unit = if (writer == null) {
    path = new Path(stagingDir,
      f"delta-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.parquet")
    writer = LocalCommit.internalRowWriter(path, conf.value,
      CompressionCodecName.valueOf(codecName))
  }

  private def emit(op: Int, parts: (InternalRow, Array[Bind])*): Unit = {
    ensureWriter()
    var i = 0
    while (i < opIdx) { buf.update(i, null); i += 1 }
    parts.foreach { case (src, binds) =>
      binds.foreach { b =>
        buf.update(b.dst, if (src.isNullAt(b.src)) null else src.get(b.src, b.dt))
      }
    }
    buf.update(opIdx, op)
    writer.write(buf)
    rows += 1L
  }

  override def insert(row: InternalRow): Unit = emit(UpsertOp, (row, rowBinds))

  /** A delete's staged row = the row id values: identifiers (the
    * equality-delete key) + ORIGINAL partition sources, so the tombstone
    * lands in the tuple whose scope hides the old row.
    */
  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    emit(DeleteOp, (id, idBinds))

  /** In-place update = one upsert row; identity or partition-tuple
    * reassignment (the id projection carries the ORIGINAL values) =
    * tombstone(old identity, old tuple) + insert(new row) —
    * [[ManagedTable.updateWhere]]'s exact commit shape for the same
    * statement.
    */
  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    if (unchanged(id, row, idPairs)) emit(UpsertOp, (row, rowBinds))
    else {
      emit(DeleteOp, (id, idBinds))
      emit(UpsertOp, (row, rowBinds))
    }
  }

  private def unchanged(old: InternalRow, row: InternalRow,
                        pairs: Array[(Int, Int, DataType)]): Boolean = {
    var i = 0
    while (i < pairs.length) {
      val (oi, ri, dt) = pairs(i)
      val a = if (old.isNullAt(oi)) null else old.get(oi, dt)
      val b = if (row.isNullAt(ri)) null else row.get(ri, dt)
      val eq = (a, b) match {
        case (null, null)                     => true
        case (null, _) | (_, null)            => false
        case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
        case (x, y)                           => x == y
      }
      if (!eq) return false
      i += 1
    }
    true
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(); writer = null }
    GraftDeltaCommitMessage(if (path == null) null else path.toString, rows)
  }

  override def abort(): Unit = {
    if (writer != null) { writer.close(); writer = null }
    if (path != null) {
      val fs = path.getFileSystem(conf.value)
      fs.delete(path, false)
    }
  }

  override def close(): Unit =
    if (writer != null) { writer.close(); writer = null }
}
