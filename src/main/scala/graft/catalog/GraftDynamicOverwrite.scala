package graft.catalog

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.tables.{LocalCommit, ManagedTable}

/** `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic` (and
  * `df.writeTo(t).overwritePartitions()`) through the V2 catalog —
  * Spark's `OverwritePartitionsDynamicExec` demands a connector-native
  * [[BatchWrite]] (no V1 bridge exists for this verb), so this is the one
  * V2 write that doesn't ride `InsertableRelation`. Shape:
  *
  *  - executor tasks stream their rows into staged parquet files (the
  *    same [[LocalCommit.internalRowWriter]] machinery as the row-level
  *    delta writers — distributed, unbuffered, commit messages carry only
  *    paths);
  *  - the driver commit reads the staged batch back DISTRIBUTED and runs
  *    [[ManagedTable.overwritePartitions]]: exactly the touched tuples'
  *    groups drop as a manifest diff, untouched regions keep their
  *    byte-identical files, and the batch lands through the managed write
  *    path (tuple splitting, write clustering, stats/blooms, rolling file
  *    size).
  *
  * The bridge costs one extra materialization of the BATCH (staged, then
  * written managed). A dynamic overwrite is a partition-sized backfill,
  * so the cost is O(batch) and buys full write-path parity; adopting the
  * staged files directly would need the staging write to replicate tuple
  * splitting, clustering and stats — the optimization seam if the 2×
  * batch write ever shows, recorded in SCALING.md.
  *
  * Refuses under an active `spark.wap.branch` (branches stage appends and
  * row-level DML, not overwrites) — checked at COMMIT time, same rule as
  * the V1-bridged overwrites.
  */
private[catalog] final class GraftDynamicOverwriteWrite(
    t: ManagedTable, info: LogicalWriteInfo) extends Write {

  override def toBatch: BatchWrite = new BatchWrite {
    private val spark = SparkSession.active
    private val stagingDir = new Path(t.v2TableDir,
      s"_dyn_staging/${info.queryId}-${UUID.randomUUID().toString.take(8)}")
    // all-nullable staged shape: the managed write conforms/casts on land
    private val stagedSchema = StructType(info.schema().fields.map(_.copy(nullable = true)))

    override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = {
      val (conf, codec) = LocalCommit.prepareWriteConf(spark, stagedSchema)
      new GraftStagedWriterFactory(stagingDir.toString,
        new SerializableConfiguration(conf), codec.name())
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val fs = stagingDir.getFileSystem(spark.sessionState.newHadoopConf())
      try {
        GraftV2Table.activeWapBranch.foreach { b =>
          throw new UnsupportedOperationException(
            s"INSERT OVERWRITE ${t.name} (dynamic) cannot target WAP branch " +
              s"'$b' — branches stage appends and row-level DML, not " +
              "overwrites (unset spark.wap.branch to overwrite the live table)")
        }
        val files = messages.collect {
          case m: GraftDeltaCommitMessage if m.rows > 0L => m.path
        }
        // empty batch replaces no tuples — Spark's dynamic-mode contract
        if (files.nonEmpty) {
          val staged = spark.read.schema(stagedSchema).parquet(files.toIndexedSeq: _*)
          // unpartitioned: "the batch's tuples" is the whole table — a
          // full replace (Iceberg's dynamic-overwrite semantics)
          if (t.meta.partitionBy.isEmpty) t.overwrite(staged)
          else t.overwritePartitions(staged)
        }
      } finally fs.delete(stagingDir, true)
      GraftCatalog.refreshCachedReads(t)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = stagingDir.getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(stagingDir, true)
    }
  }

  override def description(): String = s"graft dynamic overwrite of ${t.name}"
}

private[catalog] final class GraftStagedWriterFactory(
    stagingDir: String, conf: SerializableConfiguration, codecName: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftStagedWriter(stagingDir, conf, codecName, partitionId, taskId)
}

/** Streams a task's rows into one staged parquet file; zero-row tasks
  * create no file. The incoming rows are written synchronously, so the
  * exec's reused row buffers need no copying.
  */
private[catalog] final class GraftStagedWriter(
    stagingDir: String, conf: SerializableConfiguration, codecName: String,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {

  private var writer: ParquetWriter[InternalRow] = null
  private var path: Path = null
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      path = new Path(stagingDir,
        f"stage-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.parquet")
      writer = LocalCommit.internalRowWriter(path, conf.value,
        CompressionCodecName.valueOf(codecName))
    }
    writer.write(row)
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(); writer = null }
    GraftDeltaCommitMessage(if (path == null) null else path.toString, rows)
  }

  override def abort(): Unit = {
    if (writer != null) { writer.close(); writer = null }
    if (path != null) path.getFileSystem(conf.value).delete(path, false)
  }

  override def close(): Unit =
    if (writer != null) { writer.close(); writer = null }
}
