package graft.streaming

import graft.cdc._
import graft.tables.ManagedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Pipeline configuration — the Spark rebuild of the reference's consumer
  * config surface (SINK/IcebergConfig.java, SINK/DebeziumConfig.java):
  * upsert vs append, keep-deletes, dedup column, heartbeat skip prefix,
  * per-destination partition specs (`*` = default), excluded columns (via
  * mapping config), bounded table-level parallelism, raw-event archive.
  *
  * `concurrentTables` bounds how many TARGET TABLES of one micro-batch are
  * processed at once (the reference's `concurrent-uploads`). `0`, the
  * default, means one worker per core: a batch runs
  * `min(#target tables in the batch, sparkContext.defaultParallelism)`
  * workers, resolved when the batch runs. This departs from the
  * reference, whose default is 1. `1` processes the tables one after
  * another on the batch thread, with no thread pool. The unit is the
  * mapped target table, not the destination: destinations that
  * `tableMapper` sends to one table (a case fold, a shard-merging
  * `replaceRegex`) run one after another, in sorted order, inside one
  * worker, because a table's commit is single-writer. Shared tables that
  * any destination may write (the schema history, the dead-letter table)
  * therefore receive their rows in commit order, not destination order.
  * `tableOperationTimeout` applies per target table.
  */
final case class PipelineConfig(
    warehouse: String,
    upsert: Boolean = true,
    keepDeletes: Boolean = true,
    dedupColumn: String = Dedup.DefaultDedupColumn,
    opColumn: String = CdcMeta.Op, // reference `upsert-op-field`
    mapping: SchemaMappingConfig = SchemaMappingConfig(),
    tableMapper: TableMapper = DefaultTableMapper(),
    heartbeatPrefix: Option[String] = Some("__debezium-heartbeat"),
    partitionBy: Map[String, Seq[String]] = Map.empty,
    tableProperties: Map[String, String] = Map.empty,
    concurrentTables: Int = 0,
    scd2History: Boolean = false,
    archiveEvents: Boolean = false,
    nullKeyPolicy: CdcApply.NullKeyPolicy = CdcApply.NullKeyPolicy.Fail,
    tableOperationTimeout: Duration = Duration.Inf,
    parityTables: Boolean = true,
    deadLetterTable: String = "dead_letters",
    /** Declarative row constraints ([[graft.operators.Expectations]])
      * over the DECODED event columns: violating rows are quarantined
      * into `deadLetterTable` (decoded row as JSON, violated rule names
      * as the error) and the destination receives only clean rows — the
      * generalization of the null-key DeadLetter policy to arbitrary
      * business rules. Nulls fail closed. Evaluated map-only per batch.
      */
    expectations: Seq[graft.operators.Expectations.Rule] = Seq.empty,
    smallBatchMaxRows: Int = 20000,
    smallBatchMaxBytes: Long = 8L << 20
) {
  require(concurrentTables >= 0,
    s"concurrentTables must be >= 0 (0 = one per core), got $concurrentTables")

  def partitionSpecFor(table: String): Seq[String] =
    partitionBy.getOrElse(table, partitionBy.getOrElse("*", Seq.empty))
}

/** S1/T1–T4 + R1/R2 + W11 — the foreachBatch orchestrator.
  *
  * The reference's hot loop (IcebergChangeConsumer.handleBatch,
  * SINK/IcebergChangeConsumer.java:134-175) becomes: one Structured
  * Streaming micro-batch → group by destination (metadata-only collect of
  * the distinct destinations; per-destination slices stay distributed) →
  * infer/evolve schema → decode → dedup → merge/append into a ManagedTable.
  *
  * Offset semantics (T2/T3): the checkpoint directory commits offsets only
  * after foreachBatch returns — any table failure rethrows and fails the
  * whole batch, exactly the reference's all-tables-or-retry contract
  * (SINK/IcebergChangeConsumer.java:258-300). Batch-size throttling (T1)
  * maps to the trigger + source rate options.
  */
object CdcPipeline {

  private val dlqLock = new Object

  /** One AQE-off, single-shuffle-partition clone per parent session for
    * small-batch local slices (sessions are cheap but not free to build).
    */
  private val tunedLocalSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()

  /** Envelope schema of the raw CDC stream: one JSON line per event. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("destination", StringType, nullable = false),
    StructField("key", StringType),
    StructField("value", StringType)))

  /** Process one micro-batch; returns rows written per destination table. */
  def processBatch(spark: SparkSession, rawBatch: DataFrame, cfg: PipelineConfig,
                   batchId: Long = -1L): Map[String, Long] = {
    // R2 — heartbeat destinations are skipped wholesale
    val batch = cfg.heartbeatPrefix match {
      case Some(p) => rawBatch.filter(!col("destination").startsWith(p))
      case None    => rawBatch
    }
    // Trickle fast path: per-batch SCHEDULING, not data, dominates a small
    // micro-batch (the reference's regime is ~2048-event commits,
    // SINK/BatchConfig.java:16-19). Probe with limit(N+1).collect() —
    // CollectLimit reads only as many partitions as the limit needs, so
    // the probe is cheap even on a huge batch. If the whole batch fits,
    // it is already in hand: destination grouping + schema extraction run
    // driver-side and each destination feeds the UNCHANGED decode → dedup
    // → merge Catalyst pipeline as a local relation — identical
    // semantics, a fraction of the job round-trips. 0 disables.
    if (cfg.smallBatchMaxRows > 0) {
      // Two cheap jobs instead of one unbounded collect: a batch can be
      // few-row but huge-payload (full-row JSON images), and collecting
      // it would materialize gigabytes on the driver. The aggregate probe
      // returns one metadata row (count + payload bytes); only a batch
      // inside BOTH bounds is then collected. (The primary streaming path
      // knows sizes from the checkpoint log and skips both jobs.)
      val limited = batch.limit(cfg.smallBatchMaxRows + 1)
      val m = limited.agg(
        count(lit(1)).as("n"),
        coalesce(sum(length(col("value")) + length(coalesce(col("key"), lit("")))),
          lit(0L)).as("bytes")).collect().head
      if (m.getLong(0) <= cfg.smallBatchMaxRows &&
          m.getLong(1) <= cfg.smallBatchMaxBytes)
        return processBatchCollected(spark, limited.collect(), cfg, batchId)
    }
    batch.persist()
    try {
      if (cfg.archiveEvents) archive(spark, batch, cfg) // W9
      // R1 — destinations, row counts, distinct value-schema strings and a
      // key-schema sample in ONE metadata-scale aggregation over the cached
      // raw batch (driver sees metadata, never data —
      // IcebergTableOperator.java:177-182 analogue). Collapsing the three
      // former per-batch/per-destination metadata jobs into one matters in
      // the trickle regime: scheduling round-trips, not data, dominate a
      // small micro-batch. Decode is row-preserving, so these counts equal
      // the decoded row counts — the decode pipeline itself runs exactly
      // once per destination (the merge/append write), never a second time
      // for counting.
      val meta = batch.groupBy("destination").agg(
        count(lit(1)).as("n"),
        collect_set(get_json_object(col("value"), "$.schema")).as("schemas"),
        first(get_json_object(col("key"), "$.schema"), ignoreNulls = true).as("key_schema"))
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getSeq[String](2), Option(r.getString(3)))).toMap
      applyByTable(spark, meta.keys, cfg) { dest =>
        val (n, schemas, keySchema) = meta(dest)
        processDestination(spark, batch.filter(col("destination") === dest),
          dest, schemas, keySchema, cfg, batchId)
        n
      }
    } finally batch.unpersist()
  }

  /** Entry for rows the driver read itself ([[EnvelopeLog]]): applies the
    * heartbeat filter (the probe path filters it on the DataFrame) and
    * runs the small-batch pipeline.
    */
  private[streaming] def processBatchRows(spark: SparkSession,
                                          rows: Array[org.apache.spark.sql.Row],
                                          cfg: PipelineConfig, batchId: Long): Map[String, Long] = {
    // null destinations drop here exactly like the DataFrame filter's
    // null-propagating startsWith does on the distributed path
    val kept = cfg.heartbeatPrefix match {
      case Some(p) => rows.filter(r => r.getString(0) != null && !r.getString(0).startsWith(p))
      case None    => rows
    }
    processBatchCollected(spark, kept, cfg, batchId)
  }

  /** The small-batch path: the probe's collected rows, then the
    * driver-side analogues of the metadata aggregation (destination
    * grouping, distinct value-schema subtrees, first key-schema sample —
    * jackson instead of get_json_object, the same JSON subtrees). Each
    * destination then runs the UNCHANGED [[processDestination]] pipeline
    * over a local relation.
    */
  private def processBatchCollected(spark: SparkSession, rows: Array[org.apache.spark.sql.Row],
                                    cfg: PipelineConfig, batchId: Long): Map[String, Long] = {
    if (rows.isEmpty) return Map.empty
    // A small local slice gains nothing from adaptive re-planning or wide
    // shuffles — run it in a cloned session (shared SparkContext, shared
    // extensions) tuned to a single shuffle partition with AQE off, so a
    // destination's whole decode → dedup → write collapses into ONE tiny
    // job instead of a job per adaptive query stage. SCD2's sidecar joins
    // a table read from the parent session, so it keeps the parent.
    val exec =
      if (cfg.scd2History) spark
      else tunedLocalSessions.computeIfAbsent(spark, { (s: SparkSession) =>
        val t = s.newSession()
        t.conf.set("spark.sql.adaptive.enabled", "false")
        t.conf.set("spark.sql.shuffle.partitions", "1")
        t
      })
    // coalesce(1): a local relation otherwise fans out into
    // defaultParallelism single-digit-row tasks — task launch overhead,
    // not parallelism, for a slice this small
    def localDf(rs: Array[org.apache.spark.sql.Row]): DataFrame =
      exec.createDataFrame(java.util.Arrays.asList(rs: _*), envelopeSchema).coalesce(1)
    if (cfg.archiveEvents) archive(spark, localDf(rows), cfg) // W9
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // get_json_object('$.schema') analogue: the subtree re-serialized, null
    // for missing/invalid — EventDecoder.infer re-parses it either way
    def schemaOf(json: String): Option[String] =
      Option(json).flatMap { s =>
        // filterNot(isNull): get_json_object('$.schema') yields SQL NULL for
        // an explicit JSON null — a schema-less envelope must stay
        // schema-less on this path too (it drives the inference error)
        try Option(mapper.readTree(s).get("schema")).filterNot(_.isNull).map(_.toString)
        catch { case _: Exception => None }
      }
    val byDest = rows.groupBy(_.getString(0))
    val meta = byDest.map { case (dest, rs) =>
      dest -> (rs.length.toLong,
        rs.flatMap(r => schemaOf(r.getString(2))).distinct.toSeq,
        rs.iterator.flatMap(r => schemaOf(r.getString(1))).nextOption())
    }
    applyByTable(spark, meta.keys, cfg) { dest =>
      val (n, schemas, keySchema) = meta(dest)
      processDestination(spark, localDf(byDest(dest)), dest, schemas, keySchema,
        cfg, batchId)
      n
    }
  }

  private def processDestination(spark: SparkSession, slice: DataFrame, dest: String,
                                 schemas: Seq[String], keySchema: Option[String],
                                 cfg: PipelineConfig, batchId: Long = -1L): Unit = {
    // collect_set order is nondeterministic and mergeSpecs is
    // first-writer-wins on incompatible types — sort so the inferred
    // schema is identical across batch retries and re-runs
    val inferred = EventDecoder.infer(schemas.sorted, keySchema, cfg.mapping)
    val tableName = cfg.tableMapper.map(dest)
    // C8 — schema-change events land in an append-only table without PK
    val ids = if (inferred.isSchemaChangeEvent) Seq.empty else inferred.identifierFields

    // DVs-at-commit default ON for pipeline-managed tables (the
    // reference's format-v3 default, IcebergTableWriterFactory.java:98-99)
    // in `auto` mode — it bails per commit when the batch touches too many
    // files to profit; user tableProperties override.
    val table = ManagedTable.loadOrCreate(spark, cfg.warehouse, tableName,
      inferred.tableSchema, ids, cfg.partitionSpecFor(tableName),
      Map("write.mor.posdel-on-commit" -> "auto") ++
        cfg.tableProperties + ("write.temporal-mode" -> TemporalMode.name(cfg.mapping.temporalMode)))
    val evolved = table.evolve(inferred.tableSchema, ids) // D6 (no-op guarded)
    if (evolved && cfg.parityTables) {
      // queryable schema-history parity record (IcebergSchemaHistory.java:134-177)
      val n = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
      n.put("table", tableName)
      n.putRawValue("schema",
        new com.fasterxml.jackson.databind.util.RawValue(table.meta.schema.json))
      graft.tables.ParityStores.storeHistoryRecord(spark, cfg.warehouse, n.toString)
    }

    // Single-pass decode: the from_json + conversion pipeline runs only in
    // the write below; row counts come from the raw-batch aggregation in
    // processBatch (decode is row-preserving). Dedup stamps its own
    // arrival index post-decode (decode keeps only the spec columns).
    val typed = EventDecoder.decode(slice, inferred)

    // Dead-letter routing: a corrupt envelope decodes to null identifier
    // fields; under DeadLetter policy quarantine the RAW envelope (the
    // evidence, replayable after a fix) into a queryable table and let the
    // batch succeed with the clean rows — the apply path below then drops
    // the same rows. The extra decode pass over the cached raw batch runs
    // only under this policy, and the healthy-batch fast path is one cheap
    // first-corrupt probe: no DLQ table is created or committed until a
    // corrupt envelope actually appears.
    if (cfg.nullKeyPolicy == CdcApply.NullKeyPolicy.DeadLetter && ids.nonEmpty) {
      // the raw envelope columns ride along under reserved names: a source
      // table whose PAYLOAD has a column named "value"/"key"/"destination"
      // would otherwise make the post-decode references ambiguous
      val raw = slice
        .withColumn("__graft_raw_dest", col("destination"))
        .withColumn("__graft_raw_key", col("key"))
        .withColumn("__graft_raw_value", col("value"))
      val keyed = EventDecoder.decodeKeeping(raw, inferred,
        keep = Seq("__graft_raw_dest", "__graft_raw_key", "__graft_raw_value"))
      val corrupt = keyed.filter(ids.map(col(_).isNull).reduce(_ || _))
        .select(col("__graft_raw_dest").as("event_destination"),
          col("__graft_raw_key").as("event_key"),
          col("__graft_raw_value").as("event_value"),
          lit(s"null identifier field (${ids.mkString(",")})").as("error"),
          current_timestamp().as("quarantined_at"))
      if (!corrupt.isEmpty) {
        // The DLQ is one table shared by every destination: serialize its
        // commits (destinations may run in parallel, and ManagedTable's
        // commit protocol is single-writer per table). Same exactly-once
        // replay marker as the expectations quarantine below — scoped per
        // PRODUCER as well as per destination, since both producers may
        // legitimately append for one (batch, destination).
        dlqLock.synchronized {
          val dlq = ManagedTable.loadOrCreate(spark, cfg.warehouse, cfg.deadLetterTable,
            corrupt.schema, Seq.empty, Seq.empty)
          val markerKey = s"$CdcBatchIdProp.nullkey.$tableName"
          val last = dlq.meta.properties.get(markerKey).map(_.toLong).getOrElse(-1L)
          if (batchId < 0) dlq.append(corrupt)
          else if (batchId > last)
            dlq.append(corrupt, Map(markerKey -> batchId.toString))
        }
      }
    }

    // Expectation gate on the DECODED rows: violations quarantine (rule
    // names as the error, decoded row as JSON evidence), clean rows
    // proceed. Schema-change events bypass the gate — their columns are
    // not the business schema the rules were written against.
    val gated =
      if (cfg.expectations.isEmpty || inferred.isSchemaChangeEvent) typed
      else {
        val annotated = graft.operators.Expectations
          .annotate(typed, cfg.expectations)
        val bad = annotated.filter(size(col("__violations")) > 0)
        if (!bad.isEmpty) {
          val q = bad.select(
            lit(tableName).as("event_destination"),
            // typed null — a bare lit(null) is VOID and would freeze the
            // shared DLQ's schema so the null-key producer (string keys)
            // could never append
            lit(null).cast("string").as("event_key"),
            to_json(struct(typed.columns.map(col).toIndexedSeq: _*)).as("event_value"),
            concat_ws(",", col("__violations")).as("error"),
            current_timestamp().as("quarantined_at"))
          dlqLock.synchronized {
            val dlq = ManagedTable.loadOrCreate(spark, cfg.warehouse,
              cfg.deadLetterTable, q.schema, Seq.empty, Seq.empty)
            // Exactly-once on crash replay, like append-mode destinations:
            // the micro-batch id rides the DLQ commit's pointer flip, so a
            // replayed batch (commit landed, checkpoint didn't) skips its
            // already-quarantined rows. The DLQ is shared across
            // destinations AND producers (null-key quarantine above), so
            // the marker is scoped per (producer, source table) — batch N
            // legitimately appends once per violating destination per
            // producer.
            val markerKey = s"$CdcBatchIdProp.expect.$tableName"
            // honor markers persisted under the pre-producer-scoped key
            // too: a DLQ written by the previous release must not replay
            // its last batch once after upgrade
            val last = (dlq.meta.properties.get(markerKey) ++
              dlq.meta.properties.get(s"$CdcBatchIdProp.$tableName"))
              .map(_.toLong).maxOption.getOrElse(-1L)
            if (batchId < 0) dlq.append(q)
            else if (batchId > last)
              dlq.append(q, Map(markerKey -> batchId.toString))
          }
        }
        annotated.filter(size(col("__violations")) === 0).drop("__violations")
      }

    val upsertConfig = CdcApply.UpsertConfig(
      keepDeletes = cfg.keepDeletes, dedupColumn = cfg.dedupColumn,
      opColumn = cfg.opColumn, nullKeyPolicy = cfg.nullKeyPolicy)
    if (cfg.upsert && table.meta.identifierFields.nonEmpty && !inferred.isSchemaChangeEvent)
      table.merge(gated, upsertConfig)
    else {
      // The append path has no guardKeys stage, so Drop/DeadLetter must
      // drop null-key rows here too — otherwise a quarantined envelope
      // would ALSO land in the destination table in append mode.
      val guarded =
        if (ids.nonEmpty && cfg.nullKeyPolicy != CdcApply.NullKeyPolicy.Fail)
          gated.na.drop("any", ids)
        else gated
      // Append is not naturally idempotent (merge is): a batch-id marker
      // rides the manifest commit's pointer flip, so the replay of a
      // batch whose table commit landed but whose checkpoint didn't is
      // skipped instead of duplicated — exactly-once on partitioned and
      // unpartitioned destinations alike (every commit is a snapshot).
      if (batchId >= 0) {
        val last = table.meta.properties.get(CdcBatchIdProp).map(_.toLong).getOrElse(-1L)
        if (batchId > last)
          table.append(guarded, Map(CdcBatchIdProp -> batchId.toString))
      } else table.append(guarded)
    }

    // SCD2 history sidecar: every version of every key survives as a
    // validity interval in `<table>_history`, maintained incrementally
    // (Scd2.applyBatch — O(batch + touched open intervals), never a
    // rebuild). Within-batch (key, seq) ties collapse to the fold winner
    // FIRST so the history key is deterministic across batch replays;
    // the ARRIVAL component of the key is the batch id (stored with the
    // row), so a cross-batch event at the SAME (key, seq) — not a seq
    // regression, so within contract — deterministically supersedes the
    // earlier batch's row instead of colliding with it, and a replay of
    // the same batch (same id) stays idempotent.
    if (cfg.scd2History && ids.nonEmpty && !inferred.isSchemaChangeEvent &&
        typed.columns.contains(cfg.dedupColumn)) {
      val seqc = cfg.dedupColumn
      // mirror the main path's null-key policy: under Drop/DeadLetter the
      // main table drops/quarantines null-key rows — the sidecar must not
      // re-raise on them (Fail raises in the main merge first)
      val clean =
        if (cfg.nullKeyPolicy != CdcApply.NullKeyPolicy.Fail) typed.na.drop("any", ids)
        else typed
      val versions = Dedup.deduplicate(clean, ids :+ seqc, seqc, cfg.opColumn)
        .withColumn(Scd2BatchArrivalCol, lit(batchId))
      val histKey = ids ++ Seq("valid_from", Scd2BatchArrivalCol)
      val histSchema = graft.operators.Scd2.history(
        versions.limit(0), ids, seqc, col(Scd2BatchArrivalCol), cfg.opColumn).schema
      val hist = ManagedTable.loadOrCreate(spark, cfg.warehouse,
        tableName + "_history", histSchema, histKey)
      hist.evolve(histSchema, histKey)
      graft.operators.Scd2.applyBatch(hist, versions, ids, seqc,
        Scd2BatchArrivalCol, cfg.opColumn)
    }
  }

  /** Arrival column of the SCD2 sidecar: the micro-batch id, persisted
    * with every interval row as the cross-batch tiebreak.
    */
  val Scd2BatchArrivalCol = "__graft_batch_id"

  /** Name prefix of the per-table worker threads of [[parallelize]]. */
  val WorkerThreadPrefix = "graft-table-worker-"

  /** Per-table replay marker for append-mode destinations. */
  val CdcBatchIdProp = "cdc.last-batch-id"

  /** W9 — raw-event archive: JSON blobs partitioned by destination + hour,
    * the `debezium_events` table of SINK/IcebergEventsChangeConsumer.java:79-99.
    */
  private def archive(spark: SparkSession, batch: DataFrame, cfg: PipelineConfig): Unit = {
    val schema = StructType(Seq(
      StructField("event_destination", StringType),
      StructField("event_key", StringType),
      StructField("event_value", StringType),
      StructField("event_sink_timestamptz", TimestampType)))
    val t = ManagedTable.loadOrCreate(spark, cfg.warehouse, "debezium_events",
      schema, Seq.empty, Seq("event_destination", "hour(event_sink_timestamptz)"))
    t.append(batch.select(
      col("destination").as("event_destination"),
      col("key").as("event_key"),
      col("value").as("event_value"),
      current_timestamp().as("event_sink_timestamptz")))
  }

  /** W11 — applies `f` to every destination of a batch, one worker per
    * mapped target table (see [[PipelineConfig]]): destinations are
    * grouped by `cfg.tableMapper.map`, a group runs its destinations in
    * sorted order, and up to `cfg.concurrentTables` groups (0 = one per
    * core) run at once. Groups are ordered by their first destination, so
    * with one destination per table a sequential run keeps the sorted
    * destination order. Returns `f`'s result per destination.
    */
  private def applyByTable(spark: SparkSession, dests: Iterable[String],
                           cfg: PipelineConfig)(f: String => Long): Map[String, Long] = {
    val byTable = dests.toSeq.groupBy(cfg.tableMapper.map).values.toSeq
      .map(_.sorted).sortBy(_.head)
    val workers =
      if (cfg.concurrentTables > 0) cfg.concurrentTables
      else spark.sparkContext.defaultParallelism
    parallelize(byTable, workers, cfg.tableOperationTimeout)(_.map(d => d -> f(d)))
      .flatten.toMap
  }

  private val workerIds = new java.util.concurrent.atomic.AtomicLong()

  /** W11 — bounded per-table parallelism with a per-table timeout (the
    * reference's per-upload `Await`, SINK/BatchConfig.java:31-38); any
    * failure or timeout fails the batch before offsets commit
    * (at-least-once, like the reference).
    *
    * The pool is built per call and its threads are created on demand by
    * the submitting thread, so each worker inherits a copy of the
    * caller's Spark local properties: under `foreachBatch` that is the
    * stream's job group, which `query.stop()` cancels.
    */
  private[streaming] def parallelize[A, B](
      items: Seq[A], parallelism: Int,
      timeout: Duration = Duration.Inf)(f: A => B): Seq[B] =
    if (items.isEmpty) Seq.empty // a heartbeat-only batch filters to nothing
    // the inline fast path must not silently drop a finite timeout — a
    // single-destination batch is exactly where a hung writer would
    // otherwise block the stream forever
    else if ((parallelism <= 1 || items.size <= 1) && !timeout.isFinite) items.map(f)
    else {
      val pool = Executors.newFixedThreadPool(
        math.min(math.max(1, parallelism), items.size), { (r: Runnable) =>
          val t = new Thread(r, s"$WorkerThreadPrefix${workerIds.incrementAndGet()}")
          t.setDaemon(true) // a hung writer past its timeout must not pin the JVM
          t
        })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // ANY failure interrupts the other in-flight workers before the batch
      // fails: a zombie writer surviving into the replayed batch would race
      // it on the same table, violating ManagedTable's single-writer commit
      // protocol. (Interrupt is best-effort — Spark actions check it at
      // task boundaries.)
      try items.map(i => Future(f(i))).map { fut =>
        try Await.result(fut, timeout)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            throw new java.util.concurrent.TimeoutException(
              s"table operation exceeded $timeout — failing the batch before offset commit")
        }
      }
      catch { case e: Throwable => pool.shutdownNow(); throw e }
      finally pool.shutdown()
    }

  /** T4 — consumed-events progress logging, the reference's 15-minute
    * counter (SINK/IcebergChangeConsumer.java:66,396-407) re-expressed as a
    * StreamingQueryListener: logs cumulative rows and current rows/sec per
    * progress event. Returns the listener so callers can detach or inspect.
    */
  def attachProgressLogger(spark: SparkSession): org.apache.spark.sql.streaming.StreamingQueryListener = {
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      private val total = new java.util.concurrent.atomic.AtomicLong()
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val batchRows = e.progress.numInputRows
        val t = total.addAndGet(batchRows)
        LoggerHolder.log.info(
          s"[graft-cdc] batch=${e.progress.batchId} rows=$batchRows total=$t " +
            f"rate=${e.progress.processedRowsPerSecond}%.1f rows/s")
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        LoggerHolder.log.info(s"[graft-cdc] query ${e.id} terminated, total=${total.get} rows")
    }
    spark.streams.addListener(listener)
    listener
  }

  private object LoggerHolder {
    val log: org.slf4j.Logger = org.slf4j.LoggerFactory.getLogger("graft.streaming.CdcPipeline")
  }

  /** Start the streaming shell over a directory of JSON event files.
    * `Trigger.AvailableNow` drains everything then stops (bench mode);
    * `ProcessingTime` mirrors MaxBatchSizeWait-style throttling (T1).
    */
  def start(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      cfg: PipelineConfig,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None,
      batchSizeWait: Option[BatchSizeWaitConfig] = None
  ): StreamingQuery = {
    val reader = spark.readStream.schema(envelopeSchema)
    val stream = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n)).getOrElse(reader)
      .json(sourceDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val batchStartMs = System.currentTimeMillis()
        // A small batch's files are known from the source's checkpoint log
        // before any job runs — read them driver-side and skip even the
        // probe job; anything unexpected falls back to the general path.
        // BOTH knobs gate the driver-side path: smallBatchMaxRows = 0 must
        // disable driver-side processing entirely (the documented escape
        // hatch to the distributed pipeline), not just the probe job
        val driverRows =
          if (cfg.smallBatchMaxBytes > 0 && cfg.smallBatchMaxRows > 0)
            EnvelopeLog.readBatch(spark, checkpointDir, batchId, cfg.smallBatchMaxBytes)
          else EnvelopeLog.Unknown
        driverRows match {
          case EnvelopeLog.Rows(rows) => processBatchRows(spark, rows, cfg, batchId)
          // certainly large: the general path needn't re-probe for smallness
          case EnvelopeLog.TooLarge =>
            processBatch(spark, df, cfg.copy(smallBatchMaxRows = 0), batchId)
          case EnvelopeLog.Unknown => processBatch(spark, df, cfg, batchId)
        }
        // Queryable offset parity row (IcebergOffsetBackingStore.java:193-230).
        // The checkpoint remains authoritative; this single-row overwrite
        // commits strictly after every table write of the batch succeeded.
        if (cfg.parityTables)
          graft.tables.ParityStores.saveOffsets(spark, cfg.warehouse, Map(
            "batchId" -> batchId.toString,
            "source" -> sourceDir,
            "checkpoint" -> checkpointDir))
        // T1 — accumulate-until-full gate: delay the next trigger until a
        // full batch is pending (MaxBatchSizeWait.java:27-70). Pointless
        // under drain-and-stop triggers, which never pick up accumulated
        // files — gating there would just stall termination by maxWaitMs.
        val drainTrigger =
          trigger == Trigger.AvailableNow() || trigger == Trigger.Once()
        if (!drainTrigger) batchSizeWait.foreach { w =>
          MaxBatchSizeWait.waitMs(
            MaxBatchSizeWait.pendingFileEvents(sourceDir, batchStartMs), w)
        }
        ()
      }
      .start()
  }
}
