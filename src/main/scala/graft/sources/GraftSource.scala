package graft.sources

import scala.jdk.CollectionConverters._

import graft.catalog.{GraftCatalog, GraftV2Table}
import graft.tables.ManagedTable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.catalog.{Identifier, MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("graft-table")` — the no-extensions integration surface:
  * any third-party Spark job reads (and appends/overwrites) a graft
  * table without registering [[graft.GraftExtensions]]. The SQL surface
  * (DML, DDL, time travel grammar) still needs the extensions; this is
  * the programmatic seam a foreign pipeline embeds.
  *
  * Options: `warehouse` (or the session's `spark.graft.warehouse`),
  * `table` (or `path`), and one of `versionAsOf` = snapshot number /
  * tag name / WAP branch name — the same ref resolution as SQL
  * `VERSION AS OF` (round 8).
  *
  * Batch reads of an existing table are a DSv2 [[TableProvider]] read
  * ([[getTable]]): the table [[GraftCatalog.loadTable]] returns, the one
  * `graft.<t>` and `<cat>.<t>` read, so all three spellings plan the same
  * [[graft.catalog.GraftScan]] — pruning, manifest-answered aggregates,
  * metadata columns and storage-partitioned joins included, with or
  * without the extensions. The handle is read-only, so Spark keeps the
  * V1 calls below for everything else: every `SaveMode` write, the
  * `changesFrom`/`changesTo` batch changelog, the `readStream`
  * changelog source and the `writeStream` sink. Spark itself refuses a
  * user-specified `.schema(...)` on reads.
  *
  * Write: `SaveMode.Append` → [[ManagedTable.append]] (MoR upsert
  * semantics ride the table's identifier fields on read),
  * `SaveMode.Overwrite` → [[ManagedTable.overwrite]]. A missing table
  * is created on first write — `identifier-fields` and `partition-by`
  * options (comma-separated) shape it, matching D3 auto-create.
  *
  * `spark.wap.branch` (round 10): the V1 seam adjudicates the session's
  * write-audit-publish conf exactly like SQL — plain reads of a table
  * carrying the branch see the staged view (the catalog's rule), appends
  * stage onto the branch (created on first touch), overwrites refuse;
  * the streaming SINK refuses under an active branch (its exactly-once
  * marker rides live commits), and the changelog source/batch changes
  * keep serving the LIVE changelog (staged state joins it at publish).
  */
class GraftSource extends TableProvider with RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {

  // NOT "graft": a registered datasource short name equal to the SQL
  // namespace prefix makes Spark's ResolveSQLOnFile claim every
  // `SELECT ... FROM graft.t` as a direct-file query (`format`.`path`)
  // and fail analysis before the graft resolution rules run
  override def shortName(): String = "graft-table"

  /** Unused: [[getTable]] answers with the catalog table's own schema. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()

  /** The catalog's table for a batch read, pinned to `versionAsOf` when
    * set: ref resolution, `spark.wap.branch` and unknown-ref errors are
    * [[GraftCatalog]]'s. A missing table and a `changesFrom`/`changesTo`
    * read get a table without capabilities, which Spark sends to the V1
    * [[createRelation]].
    */
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val spark = SparkSession.active
    val opts = CaseInsensitiveMap(properties.asScala.toMap)
    val (wh, name) = resolve(spark, opts)
    val catalog = GraftCatalog.forWarehouse(spark, wh)
    val ident = Identifier.of(Array.empty, name)
    val loaded =
      if (opts.contains("changesFrom") || opts.contains("changesTo")) None
      else try Some(opts.get("versionAsOf").filter(_.nonEmpty)
          .fold(catalog.loadTable(ident))(catalog.loadTable(ident, _)))
        catch { case _: NoSuchTableException => None }
    loaded.collect { case t: GraftV2Table => new GraftReadTable(t) }
      .getOrElse(GraftSource.V1Only)
  }

  private def changeSchema(spark: org.apache.spark.sql.SparkSession,
                           wh: String, name: String): StructType = {
    val t = ManagedTable.load(spark, wh, name).getOrElse(
      throw new IllegalArgumentException(s"graft table '$name' not found in $wh"))
    // the DECLARED schema — no need to build the MoR read plan (which
    // lists files at analysis) just for field names
    StructType(t.meta.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(ManagedTable.SeqCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(ManagedTable.TombstoneCol,
        org.apache.spark.sql.types.BooleanType, nullable = false)))
  }

  /** `spark.readStream.format("graft-table")` — the table's CHANGELOG as a
    * streaming source (round 8): offsets are table VERSIONS, each
    * micro-batch is `readChangesBetween(from, to]` — net per-key change
    * rows with the commit seq and tombstone verdict, the same rows
    * [[graft.cdc.Replicate]] applies. Version-offset semantics make
    * restart exact (offsets are commit points, not files), and
    * metadata-only commits (region deletes, truncates) surface
    * immediately as new offsets. A changelog BARRIER inside a batch
    * range (overwrite/truncate/compact/region delete — rows vanished
    * without tombstones) fails the stream with a precise error: an
    * incremental consumer cannot reconstruct across it — reseed, or
    * follow with [[graft.cdc.Replicate.follow]], which handles reseeds.
    *
    * Attach/rate options (round 9): `startingVersion=latest` attaches at
    * the current version (only commits after attach stream; the pin is
    * durable across restarts), `startingVersion=<n>` starts at version n
    * inclusive, `startingTimestamp=<epoch-ms | yyyy-MM-dd HH:mm:ss>`
    * at the first commit at or after the instant (pinned durably;
    * earlier than retained history seeds the full snapshot);
    * `maxVersionsPerTrigger=<k>` caps each micro-batch at k
    * commit versions, so a burst splits instead of landing as one batch;
    * `maxRowsPerTrigger=<r>` (round 10) budgets admission by the
    * manifest's per-commit ROW totals instead — versions are admitted in
    * order while they fit, never split, so one fat backfill commit lands
    * alone and a `startingVersion=<n>` that has aged out of retention or
    * sits behind a changelog barrier fails at ATTACH with reseed
    * guidance, not at the first batch.
    *
    * `spark.wap.branch` does NOT affect the changelog: offsets are LIVE
    * commit versions, and branch staging is pre-commit state by design
    * (it becomes part of the changelog at publish, as the publish
    * commit). A follower therefore keeps serving the live changelog
    * under an active wap conf — deliberately, and consistently with
    * [[graft.cdc.Replicate]], which replays the same rows.
    */
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String, parameters: Map[String, String])
      : (String, StructType) = {
    val (wh, name) = resolve(sqlContext.sparkSession, parameters)
    require(schema.isEmpty, "graft source: the changelog schema is fixed — " +
      "drop the .schema(...) call")
    (s"graft.$name", changeSchema(sqlContext.sparkSession, wh, name))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val (wh, name) = resolve(sqlContext.sparkSession, parameters)
    // `startingVersion` = latest | <n>: where the stream ATTACHES. Without
    // it the seed batch is the full net snapshot (0, current] — correct
    // for a fresh replica, but attaching a follower to an existing LARGE
    // table replays the whole table as batch 0; `latest` pins the
    // attach-time version (durably, in the stream's metadata dir — exact
    // across restarts), a number starts at that version INCLUSIVE
    // (Delta's startingVersion contract).
    // `startingTimestamp` = epoch millis or 'yyyy-MM-dd HH:mm:ss':
    // attach at the first commit at or after the instant (Delta's
    // startingTimestamp contract); resolved against the retained
    // snapshot log at first attach and pinned durably like `latest`.
    // Validation + resolution + pin live in [[AttachPoint]] — the ONE
    // attach contract shared with the V2 table stream.
    val startingVersion = parameters.get("startingVersion")
    val startingTimestamp = parameters.get("startingTimestamp")
    AttachPoint.validate("graft source", startingVersion, startingTimestamp)
    // `maxVersionsPerTrigger` caps how many commit VERSIONS one
    // micro-batch covers (Kafka's maxOffsetsPerTrigger shape): a commit
    // burst splits across batches instead of landing as one giant batch.
    def positiveLong(opt: String): Option[Long] = parameters.get(opt).map { s =>
      val n = try s.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft source: $opt must be a positive number, got '$s'")
      }
      require(n >= 1L, s"graft source: $opt must be >= 1, got $n")
      n
    }
    val maxVersions = positiveLong("maxVersionsPerTrigger")
    // `maxRowsPerTrigger` (round 10): version-granular admission alone
    // lets one FAT commit (a backfill, a multi-batch publish) land as a
    // single giant micro-batch — a ROW budget chooses how many versions
    // to admit per trigger from the manifest's per-entry row counts (one
    // metadata read, zero jobs), never splitting a version: a single
    // over-budget commit still lands alone.
    val maxRows = positiveLong("maxRowsPerTrigger")
    // numeric attach points validate ONCE, durably: aged-out or
    // behind-barrier versions must fail AT ATTACH with reseed guidance,
    // not at the first getBatch — while a RESTART (pin present) must
    // never re-fail because retention moved after the attach succeeded.
    startingVersion.filter(_.forall(_.isDigit)).map(_.toLong).foreach { n =>
      validateNumericAttach(sqlContext.sparkSession, wh, name, n, metadataPath)
    }
    new GraftStreamSource(sqlContext.sparkSession, wh, name,
      changeSchema(sqlContext.sparkSession, wh, name),
      startingVersion, maxVersions, metadataPath, startingTimestamp, maxRows)
  }

  /** Fresh-attach validation for `startingVersion=<n>` (n >= 2 — n = 1 is
    * the full-snapshot seed, sound across anything): the incremental
    * range (n-1, …] must start inside retained history and past the
    * latest changelog barrier. Marker-guarded in the stream's metadata
    * dir so restarts skip it (the attach already succeeded; retention
    * sliding afterwards must not kill a running checkpoint lineage —
    * that path keeps the documented current-manifest fallback).
    */
  private def validateNumericAttach(spark: org.apache.spark.sql.SparkSession,
                                    wh: String, name: String, n: Long,
                                    metadataPath: String): Unit = {
    if (n < 2L) return
    val marker = new org.apache.hadoop.fs.Path(metadataPath, "graft-attach-validated")
    val mfs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (mfs.exists(marker)) return
    val t = ManagedTable.load(spark, wh, name).getOrElse(
      throw new IllegalArgumentException(s"graft table '$name' not found in $wh"))
    if (n <= t.meta.currentVersion) { // future attach points are a valid pin
      val barrier = t.meta.properties.get(ManagedTable.BarrierKey)
        .map(_.toLong).getOrElse(Long.MinValue)
      if (barrier > n - 1L)
        throw new IllegalArgumentException(
          s"graft.$name: changelog barrier at version $barrier is after " +
            s"startingVersion $n — an incremental attach cannot reconstruct " +
            "across a non-incremental rewrite (overwrite/truncate/compact/" +
            "region delete); attach with startingVersion=latest, " +
            "startingTimestamp, or no startingVersion (full-snapshot seed)")
      val earliest = t.versions().map(_._1).headOption.getOrElse(0L)
      if (n - 1L < earliest)
        throw new IllegalArgumentException(
          s"graft.$name: startingVersion $n predates retained history " +
            s"(earliest retained snapshot: $earliest) — per-commit changes " +
            "before it are no longer individually reconstructible; attach " +
            "with startingVersion=latest, startingTimestamp (which seeds " +
            "the full snapshot when too early), or no startingVersion " +
            "(full-snapshot seed)")
    }
    val tmp = new org.apache.hadoop.fs.Path(metadataPath,
      s".graft-attach-validated.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = mfs.create(tmp, false)
    try out.write("ok".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!mfs.rename(tmp, marker)) mfs.delete(tmp, false) // raced restart: validated
  }

  /** `df.writeStream.format("graft-table")` — the streaming sink (the
    * reference's own deployment shape as a first-class sink, round 8):
    * each micro-batch commits exactly once via a batch-id marker riding
    * the commit's pointer flip, so replays after a crash are no-ops.
    * `mode=append` (default) appends rows; `mode=upsert` applies each
    * batch as net per-key changes on a keyed table, with
    * `tombstone-column` naming a boolean column of hard-delete verdicts
    * (the changelog source's, for streamed replication) — without it
    * every row upserts.
    * Create-on-first-batch honors `identifier-fields`/`partition-by`.
    * The marker scope defaults to a digest of the CHECKPOINT location
    * (batch-id monotonicity only holds within one checkpoint lineage);
    * `sink-id` overrides it, and one of the two MUST be an explicit
    * writer option — a shared fallback scope would let two streams into
    * one table drop each other's batches. A wiped/relocated checkpoint
    * reusing a marker scope fails precisely instead of silently dropping
    * data. Schema: columns the table lacks refuse precisely (the write
    * path conforms to the table schema, which would silently drop their
    * data) unless `merge-schema=true` evolves the table union-by-name
    * first (the CDC pipeline's D6 semantics through the V1 seam).
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val (wh, name) = resolve(sqlContext.sparkSession, parameters)
    // Complete mode re-delivers the FULL result every trigger — appending
    // it would duplicate every group each batch; refuse up front
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft sink: Complete output mode would re-append the whole result " +
        "every trigger — use Append or Update")
    require(partitionColumns.isEmpty,
      "graft sink: use the 'partition-by' option (table-level spec), " +
        "not .partitionBy(...)")
    // upsert needs key identity; fail BEFORE the first batch could
    // create a keyless table that then fails forever
    if (parameters.get("mode").exists(_.equalsIgnoreCase("upsert")))
      require(parameters.get("identifier-fields").exists(_.trim.nonEmpty) ||
        ManagedTable.load(sqlContext.sparkSession, wh, name)
          .exists(_.meta.identifierFields.nonEmpty),
        s"graft sink mode=upsert: graft.$name needs identifier fields — " +
          "set the 'identifier-fields' option (create) or use an existing keyed table")
    // a tombstone column only acts on the upsert path — appending delete
    // verdicts as live rows would silently corrupt the target
    require(!parameters.contains("tombstone-column") ||
      parameters.get("mode").exists(_.equalsIgnoreCase("upsert")),
      "graft sink: 'tombstone-column' requires mode=upsert (append would " +
        "write delete verdicts as live rows)")
    // Update mode re-delivers every CHANGED row per trigger; appending
    // those re-emissions accumulates one stale row per update — the same
    // duplication the Complete guard refuses. Upsert mode is exactly the
    // right receiver for update-mode re-emissions (latest per key wins).
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Update() ||
      parameters.get("mode").exists(_.equalsIgnoreCase("upsert")),
      "graft sink: Update output mode re-emits changed rows every trigger — " +
        "append mode would accumulate stale versions of each key; use " +
        "mode=upsert (with identifier fields)")
    // A delete verdict must not lose to a stale update inside one
    // micro-batch: intra-batch netting needs a deterministic per-key
    // winner when tombstones are in play (without dedup-column it is an
    // arbitrary row per key — fine for idempotent upserts, silent replica
    // divergence for deletes)
    require(!parameters.contains("tombstone-column") ||
      parameters.contains("dedup-column"),
      "graft sink: 'tombstone-column' requires 'dedup-column' (the per-key " +
        "ordering column, e.g. the changelog source's seq) — without it a " +
        "delete verdict can lose to a stale update within one micro-batch")
    // The exactly-once marker scope derives from the checkpoint lineage.
    // Spark only passes checkpointLocation here when set via .option(...)
    // on the writer — a session-default checkpoint dir never reaches this
    // map, and a shared fallback scope would let two streams into one
    // table treat each other's batch ids as replays (silent drops).
    require(parameters.contains("sink-id") ||
      parameters.contains("checkpointLocation"),
      "graft sink: set .option(\"checkpointLocation\", ...) on the writer " +
        "(or an explicit 'sink-id') — the exactly-once marker scope " +
        "derives from it, and a session-default checkpoint location never " +
        "reaches the sink")
    new GraftSink(sqlContext.sparkSession, wh, name, parameters)
  }

  private def resolve(spark: SparkSession,
                      parameters: Map[String, String]): (String, String) = {
    val wh = parameters.get("warehouse")
      .orElse(spark.conf.getOption("spark.graft.warehouse"))
      .getOrElse(throw new IllegalArgumentException(
        "graft source: set the 'warehouse' option or spark.graft.warehouse"))
    val name = parameters.get("table").orElse(parameters.get("path"))
      .getOrElse(throw new IllegalArgumentException(
        "graft source: set the 'table' (or 'path') option"))
    (wh, name)
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val (wh, name) = resolve(sqlContext.sparkSession, parameters)
    // BATCH changelog read (round 9): `changesFrom`/`changesTo` expose
    // readChangesBetween through the no-extensions seam — the incremental
    // batch-ETL shape (poll versions(), read the delta, advance a
    // watermark) without running a stream. Rows are the net per-key
    // changes in (from, to] with seq + tombstone columns.
    val chFrom = parameters.get("changesFrom")
    val chTo = parameters.get("changesTo")
    if (chFrom.isDefined || chTo.isDefined) {
      require(parameters.get("versionAsOf").forall(_.isEmpty),
        "graft source: changesFrom/changesTo cannot combine with versionAsOf")
      def v(s: String, opt: String): Long =
        try s.toLong catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"graft source: $opt must be a version number, got '$s'") }
      val t = ManagedTable.load(sqlContext.sparkSession, wh, name).getOrElse(
        throw new IllegalArgumentException(s"graft table '$name' not found in $wh"))
      val from = chFrom.map(v(_, "changesFrom")).getOrElse(0L)
      val to = chTo.map(v(_, "changesTo")).getOrElse(t.meta.currentVersion)
      return GraftChangesRelation(sqlContext, wh, name, from, to)
    }
    // [[getTable]] serves every existing table; a plain read lands here
    // only when the table is missing
    throw new IllegalArgumentException(s"graft table '$name' not found in $wh")
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val (wh, name) = resolve(sqlContext.sparkSession, parameters)
    val spark = sqlContext.sparkSession
    val existing = ManagedTable.load(spark, wh, name)
    val t = existing.getOrElse {
      val ids = parameters.get("identifier-fields")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      val parts = parameters.get("partition-by")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      ManagedTable.create(spark, wh, name, data.schema, ids, parts)
    }
    // write-audit-publish: an active `spark.wap.branch` routes V1 appends
    // to branch STAGING — the same adjudication as SQL INSERT
    // ([[graft.catalog.GraftWriteBuilder]]): writes under the conf always
    // target the branch (created on first touch), so a misspelled or
    // not-yet-staged name stages rather than silently mutating the live
    // table mid-audit; overwrites are refused (branches stage appends and
    // row-level DML, not whole-region replacement).
    val wapBranch = spark.conf.getOption("spark.wap.branch").filter(_.nonEmpty)
    require(wapBranch.isEmpty || mode != SaveMode.Overwrite,
      s"graft.$name: SaveMode.Overwrite cannot target WAP branch " +
        s"'${wapBranch.getOrElse("")}' — branches stage appends, not " +
        "overwrites (unset spark.wap.branch to overwrite the live table)")
    def land(df: DataFrame): Unit = wapBranch match {
      case Some(b) => t.stageAppendInto(df, b)
      case None    => t.append(df)
    }
    mode match {
      case SaveMode.Append    => land(data)
      case SaveMode.Overwrite => t.overwrite(data)
      case SaveMode.ErrorIfExists if existing.isDefined =>
        throw new IllegalArgumentException(
          s"graft.$name already exists (SaveMode.ErrorIfExists)")
      case SaveMode.ErrorIfExists => land(data)
      case SaveMode.Ignore if existing.isDefined => () // per contract: no-op
      case SaveMode.Ignore => land(data)
    }
    // Spark only reads the returned relation's schema
    val written = t.meta.schema
    val ctx = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = written
    }
  }
}

object GraftSource {
  /** A table Spark reads and writes through the V1 calls. */
  private object V1Only extends Table {
    override def name(): String = "graft-table"
    override def schema(): StructType = new StructType()
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.noneOf(classOf[TableCapability])
  }
}

/** A catalog table as `format("graft-table")` reads it: batch reads only,
  * and no `SupportsWrite`, so Spark keeps saves on the V1 write path.
  */
private[sources] final class GraftReadTable(table: GraftV2Table)
    extends Table with SupportsRead with SupportsMetadataColumns {
  override def name(): String = table.name()
  override def schema(): StructType = table.schema()
  override def partitioning(): Array[Transform] = table.partitioning()
  override def properties(): java.util.Map[String, String] = table.properties()
  override def metadataColumns(): Array[MetadataColumn] = table.metadataColumns()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)
}

/** The V1 changelog streaming source behind `readStream.format("graft-table")`:
  * version offsets, net per-key change batches, barrier refusal.
  */
private[sources] final class GraftStreamSource(
    spark: org.apache.spark.sql.SparkSession, wh: String, name: String,
    val schema: StructType,
    startingVersion: Option[String] = None,
    maxVersionsPerTrigger: Option[Long] = None,
    metadataPath: String = "",
    startingTimestamp: Option[String] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit
  import org.apache.spark.sql.execution.streaming.Offset
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  private def table: ManagedTable =
    ManagedTable.load(spark, wh, name).getOrElse(
      throw new IllegalStateException(s"graft table '$name' vanished from $wh"))

  /** The attach-time LOGICAL column set (the stream's fixed schema minus
    * the changelog meta columns) — the reference point for the widen
    * check in [[getBatch]].
    */
  private val attachCols: Set[String] =
    schema.fieldNames.toSet - ManagedTable.SeqCol - ManagedTable.TombstoneCol

  /** The version the stream starts strictly AFTER. 0 = full-snapshot seed
    * (default). `startingVersion=<n>` starts at n INCLUSIVE, so after
    * n-1. `latest` pins the attach-time current version, and
    * `startingTimestamp` the last version committed BEFORE the instant
    * (the first served commit is the first at-or-after it) — both DURABLY
    * in the stream's metadata dir: recomputing at restart would silently
    * skip every commit between a stop and the restart. A timestamp
    * earlier than the earliest retained snapshot seeds the full net
    * snapshot (the sound reconstruction once per-commit history is gone).
    */
  private lazy val seedFrom: Long = AttachPoint.resolve(
    startingVersion, startingTimestamp, default = 0L, preHistory = 0L,
    current = () => table.meta.currentVersion, versions = () => table.versions(),
    pin = AttachPoint.pin(metadataPath, spark.sessionState.newHadoopConf()))

  /** Highest version already handed to the engine — the rate-limit base.
    * Recovery calls [[getBatch]] for the last checkpointed batch before
    * asking for new offsets, so restarts re-establish it before the first
    * capped poll.
    */
  @volatile private var lastBatchEnd: Long = Long.MinValue

  /** Trigger.AvailableNow target: without [[SupportsTriggerAvailableNow]]
    * Spark wraps a plain V1 source in AvailableNowSourceWrapper, which
    * latches ONE getOffset as the whole run's end — combined with
    * maxVersionsPerTrigger the run would process a single capped batch
    * and report successful completion with versions left behind. With
    * the interface, the engine keeps polling [[latestOffset]] per batch
    * until it reaches this run-start pin, so a drain covers everything
    * in capped batches.
    */
  @volatile private var availableNowCap: Option[Long] = None

  private val admission = new AttachPoint.Admission(maxVersionsPerTrigger, maxRowsPerTrigger)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.meta.currentVersion)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(k => ReadLimit.maxRows(k)).getOrElse(ReadLimit.allAvailable())

  /** Admission-controlled offset poll (the engine's path once
    * [[SupportsAdmissionControl]] is implemented); null = no new data.
    */
  override def latestOffset(startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
                            limit: ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    // The ENGINE's committed start is the authoritative rate-limit base:
    // relying only on the in-memory lastBatchEnd assumes the restart
    // contract re-calls getBatch before the first capped poll — if that
    // call is ever skipped (engine drift, AvailableNow wrapper changes),
    // a base behind the committed offset would re-serve already-committed
    // versions as duplicates.
    val engineBase = Option(startOffset).map {
      case LongOffset(v) => v
      case other         => other.json.trim.toLong
    }
    nextEnd(engineBase).map(LongOffset(_)).orNull
  }

  override def getOffset: Option[Offset] = nextEnd(None).map(LongOffset(_))

  private def nextEnd(engineBase: Option[Long]): Option[Long] = {
    val t = table
    val cur0 = t.meta.currentVersion
    // under AvailableNow the run never reads past its start pin
    val cur = availableNowCap.fold(cur0)(math.min(_, cur0))
    val base = math.max(math.max(lastBatchEnd, engineBase.getOrElse(Long.MinValue)),
      seedFrom)
    val end = admission.end(t, cur0, cur, base)
    if (end <= base || end <= seedFrom) None else Some(end)
  }

  private def ver(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other         => other.json.trim.toLong // restored SerializedOffset
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(ver).getOrElse(seedFrom)
    val to = ver(end)
    lastBatchEnd = math.max(lastBatchEnd, to)
    val t = table
    // the table WIDENED since attach (union-by-name evolution is the
    // upstream's ROUTINE event, not a rare one): projecting each batch to
    // the attach-time schema would silently DROP the new columns' data
    // with no signal to the operator — fail precisely instead, Delta-
    // source style. A restart from the SAME checkpoint re-attaches with
    // the widened schema and replays from the committed offset, so no
    // rows are lost. (A dropped/renamed column already fails loudly: the
    // projection below throws on the missing name.)
    val widened = t.meta.schema.fieldNames.filterNot(attachCols.contains)
    if (widened.nonEmpty)
      throw new IllegalStateException(
        s"graft.$name: table schema evolved — new column(s) " +
          s"[${widened.mkString(", ")}] at or before version " +
          s"${t.meta.currentVersion} are not in this stream's attach-time " +
          "schema and their data would be silently dropped; restart the " +
          "stream from the SAME checkpoint to resume with the widened " +
          "schema (no rows are lost)")
    // an incremental consumer cannot reconstruct state across a barrier
    // (rows vanished without tombstones) — fail precisely instead of
    // silently serving a partial changelog. The property records only
    // the LATEST barrier, so the sound check is `barrier > from`, not
    // `<= to`: a barrier beyond `to` proves nothing about earlier ones
    // inside the range (one may have landed between the offset poll and
    // this read), and a stream with a barrier ahead of it fails at the
    // next range anyway — failing one batch early is harmless, serving
    // a partial changelog is not. The full-snapshot SEED (from == 0) is
    // exempt: (0, to] is the net current snapshot, correct across any
    // barrier. A startingVersion seed (from > 0) is an INCREMENTAL range
    // and gets the same protection as a restart.
    val barrier = t.meta.properties.get(ManagedTable.BarrierKey)
      .map(_.toLong).getOrElse(Long.MinValue)
    if (from > 0L && barrier > from)
      throw new IllegalStateException(
        s"graft.$name: changelog barrier at version $barrier after " +
          s"offset $from — the stream cannot replay a non-incremental " +
          "rewrite (overwrite/truncate/compact/region delete); restart " +
          "the stream from a fresh checkpoint to reseed, or follow with " +
          "graft.cdc.Replicate.follow which reseeds automatically")
    // restart recovery: the engine re-requests the last batch at start-up
    // (COMMITTED seeds included — this fires on every restart of a
    // default-retention table) and `to`'s manifest may have aged out, so
    // fall back to the current manifest's view of the seq range.
    // Cumulatively sound for the net-per-key consumers this source
    // feeds: ranges filter by ENTRY seq, so a row a minor fold lifted
    // past `to` is not lost — it re-arrives inside the folded entry's
    // later range — and the only operation that re-stamps PER-ROW seqs
    // (a full rewrite) also stamps the barrier, which kills the stream
    // loudly at the next incremental range regardless of what this
    // replayed batch served.
    val changes =
      if (t.manifestRetained(to)) t.readChangesBetween(from, to)
      else t.readChangesBetweenCurrent(from, to)
    val batch = changes.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    org.apache.spark.sql.graftbridge.GraftBridge.streamingDataFrame(batch)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftStreamSource(graft.$name)"
}

/** The V1 streaming sink behind `writeStream.format("graft-table")`. */
private[sources] final class GraftSink(
    spark: org.apache.spark.sql.SparkSession, wh: String, name: String,
    parameters: Map[String, String])
    extends org.apache.spark.sql.execution.streaming.Sink {

  // marker scope = an explicit sink-id, else a digest of the CHECKPOINT
  // location (batch-id monotonicity only holds within one checkpoint
  // lineage); createSink guarantees one of the two is present — a shared
  // fallback scope would silently drop batches across streams
  private val sinkId = parameters.get("sink-id").orElse(
    parameters.get("checkpointLocation").map { p =>
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(p.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    }).getOrElse(throw new IllegalStateException(
      "graft sink: no sink-id and no checkpointLocation (createSink guards this)"))
  private val markerKey = s"sink.last-batch-id.$sinkId"
  private val upsert = parameters.get("mode").exists(_.equalsIgnoreCase("upsert"))
  private val mergeSchema = parameters.get("merge-schema").exists(_.equalsIgnoreCase("true"))
  private val SinkDelCol = "__graft_sink_del"

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // an active wap branch cannot scope a STREAMING sink: the
    // exactly-once batch marker rides live-table commit properties, and
    // branch staging commits none — staging micro-batches would lose the
    // replay protection. Refuse precisely (checked per batch: the conf
    // can be set mid-stream) rather than silently writing to LIVE while
    // the session's SQL INSERTs next to it stage.
    spark.conf.getOption("spark.wap.branch").filter(_.nonEmpty).foreach { b =>
      throw new IllegalStateException(
        s"graft sink: spark.wap.branch='$b' is active — a streaming sink " +
          "cannot stage onto a branch (the exactly-once marker rides live " +
          "commits); unset spark.wap.branch for this session, or stage " +
          "audit data via SQL INSERT / the batch writer instead")
    }
    val df = org.apache.spark.sql.graftbridge.GraftBridge.batchDataFrame(data)
    val t = ManagedTable.load(spark, wh, name).getOrElse {
      val ids = parameters.get("identifier-fields")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      val parts = parameters.get("partition-by")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      ManagedTable.create(spark, wh, name, df.schema, ids, parts)
    }
    val marker = t.meta.properties.get(markerKey).map(_.toLong)
    // exactly-once on replay: the marker rode the commit that applied
    // this batch; a crash between commit and checkpoint re-delivers the
    // SAME batch id and lands here
    if (marker.contains(batchId)) return
    // a marker AHEAD of the id means batch numbering restarted — a wiped
    // or relocated checkpoint reusing this marker scope. Silently
    // skipping would DROP whatever new data rode the restarted batch;
    // fail precisely instead (exactly-once is only sound within one
    // monotone lineage).
    require(marker.forall(_ < batchId),
      s"graft sink: marker '$markerKey'=${marker.get} is ahead of batch " +
        s"$batchId — the checkpoint was wiped or relocated while reusing " +
        "this marker scope; restart with a fresh checkpoint dir (new " +
        "lineage) or an explicit new sink-id")
    // Columns the table lacks (a restarted stream with an evolved schema):
    // the write path conforms to the TABLE schema, which would silently
    // DROP the new columns' data — either evolve the table (union-by-name,
    // the CDC pipeline's D6 semantics) when merge-schema=true, or refuse
    // precisely. The sink never silently discards data. The configured
    // tombstone-column / dedup-column are exempt on the upsert path: the
    // changelog→sink replication pairing necessarily carries them as META
    // columns (renamed seq + delete verdict) the sink CONSUMES rather than
    // writes — a pre-existing target with only the logical schema must
    // neither refuse them nor evolve verdict columns into the table.
    val consumed: Set[String] =
      if (upsert) (parameters.get("tombstone-column").toSeq ++
        parameters.get("dedup-column").toSeq).toSet
      else Set.empty
    val unknown = df.columns.filterNot(t.meta.schema.fieldNames.contains)
      .filterNot(consumed.contains)
    if (unknown.nonEmpty) {
      if (mergeSchema) t.evolve(org.apache.spark.sql.types.StructType(
        df.schema.fields.filterNot(f => consumed.contains(f.name))))
      else throw new IllegalArgumentException(
        s"graft sink: stream columns [${unknown.mkString(", ")}] are not in " +
          s"graft.$name's schema — set merge-schema=true to evolve the " +
          "table (union-by-name), or drop them upstream")
    }
    val props = Map(markerKey -> batchId.toString)
    if (upsert) {
      require(t.meta.identifierFields.nonEmpty,
        s"graft sink mode=upsert needs identifier fields on graft.$name")
      val ids = t.meta.identifierFields
      // net the batch per key before applying (applyNetChanges' contract;
      // duplicate keys would land as permanently-visible same-seq
      // siblings): deterministic last-wins via the 'dedup-column' option,
      // else an arbitrary single row per key
      val netted = parameters.get("dedup-column") match {
        case Some(c) =>
          val winner = org.apache.spark.sql.functions.max_by(
            org.apache.spark.sql.functions.struct(df.columns.map(col): _*), col(c))
          df.groupBy(ids.map(col): _*).agg(winner.as("__w"))
            .select(df.columns.map(n => col(s"__w.$n").as(n)).toIndexedSeq: _*)
        case None => df.dropDuplicates(ids)
      }
      // 'tombstone-column' names a boolean column carrying per-row hard-
      // delete verdicts (e.g. the changelog source's __graft_deleted) —
      // the source+sink pair then forms a complete streamed replication;
      // without it every row is an upsert
      parameters.get("tombstone-column") match {
        case Some(tc) =>
          require(netted.columns.contains(tc),
            s"graft sink: tombstone-column '$tc' is not in the stream")
          t.applyNetChanges(netted, tc, props)
        case None =>
          t.applyNetChanges(netted.withColumn(SinkDelCol, lit(false)), SinkDelCol, props)
      }
    } else t.append(df, props)
  }

  override def toString: String = s"GraftSink(graft.$name, $sinkId)"
}

/** Batch changelog relation behind `changesFrom`/`changesTo`: the net
  * per-key changes of versions (from, to] ([[ManagedTable
  * .readChangesBetween]]) with the commit seq and tombstone verdict —
  * incremental batch consumers read exactly the delta, never the base.
  * The barrier rule matches the STREAMING source: an incremental range
  * (from > 0) crossing a non-incremental rewrite refuses precisely; a
  * full seed (from = 0) is the net current snapshot, exempt.
  */
private[sources] final case class GraftChangesRelation(
    sqlContext: SQLContext, wh: String, name: String,
    from: Long, to: Long) extends BaseRelation with TableScan {

  @transient private lazy val table: ManagedTable =
    ManagedTable.load(sqlContext.sparkSession, wh, name).getOrElse(
      throw new IllegalArgumentException(s"graft table '$name' not found in $wh"))

  @transient private lazy val changes: DataFrame = {
    val barrier = table.meta.properties.get(ManagedTable.BarrierKey)
      .map(_.toLong).getOrElse(Long.MinValue)
    require(from == 0L || barrier <= from,
      s"graft.$name: changelog barrier at version $barrier after " +
        s"changesFrom=$from — an incremental consumer cannot reconstruct " +
        "across a non-incremental rewrite; re-read from changesFrom=0")
    table.readChangesBetween(from, to)
  }

  override def schema: StructType = changes.schema
  override def needConversion: Boolean = false
  override def buildScan(): RDD[Row] =
    changes.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}
