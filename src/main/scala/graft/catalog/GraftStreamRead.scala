package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

import graft.tables.{ManagedTable, Manifest}

/** Version offset of the V2 table stream: the highest COMMIT already
  * handed to the engine. `-1` is the seed sentinel — the first batch
  * `(-1, A]` serves the attach-time snapshot A with full merge-on-read
  * resolution; every later batch `(v, w]` serves only the data groups
  * commits v+1..w added.
  */
final case class GraftV2Offset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** `spark.readStream.table("<cat>.t")` — the APPEND-ONLY table stream
  * (Iceberg's Spark streaming-read contract, re-expressed over graft
  * manifests):
  *
  *  - the SEED batch is the attach-time snapshot, planned through the
  *    same per-tuple MoR splits the batch scan uses (a keyed table with
  *    trickle upserts seeds its NET state, not raw history);
  *  - each incremental batch's entries come from the manifest alone —
  *    entry seq IS the commit version, so `(from, to]` is one filter
  *    over the current entry list: zero jobs, zero data reads to plan;
  *  - NON-append commits refuse precisely: upsert/posdel groups in the
  *    range (row-level DML, CDC merges) point at the V1 changelog source
  *    (`readStream.format("graft-table")`), which owns per-key change
  *    semantics; barrier commits (overwrite/truncate/compact/region
  *    delete) demand a fresh-checkpoint reseed, exactly like the V1
  *    source;
  *  - the table WIDENING mid-stream fails with restart guidance (the V1
  *    source's round-10 contract): a restart from the same checkpoint
  *    re-attaches with the new schema, no rows lost;
  *  - admission control: `maxVersionsPerTrigger` caps commits per batch,
  *    `maxRowsPerTrigger` budgets admitted versions by the manifest's
  *    per-commit row totals (one metadata read, versions never split, a
  *    single over-budget commit lands alone); Trigger.AvailableNow pins
  *    the run's end at start and drains to it in capped batches.
  *
  * The offset log is the attach pin: the engine checkpoints the seed
  * batch's `(-1, A]` before executing it, so restarts replay the same
  * snapshot version instead of re-resolving "latest". A seed replay
  * whose manifest aged out of retention falls back to the current
  * manifest's view of seq ≤ A (the V1 source's restart fallback).
  */
final class GraftMicroBatchStream(
    t0: ManagedTable, required: StructType,
    conjuncts: Seq[ManagedTable.PruneConjunct],
    maxVersionsPerTrigger: Option[Long],
    maxRowsPerTrigger: Option[Long],
    pushedV1: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    startingVersion: Option[String] = None,
    startingTimestamp: Option[String] = None,
    checkpointLocation: String = "",
    exactRegion: Seq[(String, Set[String])] = Seq.empty)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val spark = SparkSession.active
  private val wh = t0.warehouse
  private val name = t0.name
  private val attachCols: Set[String] = t0.meta.schema.fieldNames.toSet

  private def fresh: ManagedTable =
    ManagedTable.load(spark, wh, name).getOrElse(
      throw new IllegalStateException(s"graft table '$name' vanished from $wh"))

  private val Seed = -1L
  @volatile private var availableNowCap: Option[Long] = None
  private val admission =
    new graft.sources.AttachPoint.Admission(maxVersionsPerTrigger, maxRowsPerTrigger)

  // schema-determined only; the widen check guards mid-stream drift
  private lazy val factory: GraftReaderFactory =
    GraftScan.buildFactory(spark, t0, required, pushedV1)

  /** Attach point: `Seed` (default — first batch is the full MoR
    * snapshot), or the version the tail starts strictly AFTER.
    * `startingVersion=<n>` serves n inclusive; `latest` and
    * `startingTimestamp` resolve ONCE and pin DURABLY under the stream's
    * checkpoint (the V1 changelog source's contract): a restart after
    * commits landed must serve them, not re-resolve "latest" past them.
    * An explicit version behind the changelog barrier fails AT ATTACH
    * with reseed guidance. A timestamp predating the earliest retained
    * snapshot seeds the full snapshot (the sound reconstruction once
    * per-commit history is gone).
    */
  private lazy val seedFrom: Long = {
    import graft.sources.AttachPoint
    // validation + latest/timestamp resolution + the durable pin are the
    // ONE attach contract shared with the V1 changelog source
    AttachPoint.validate(name, startingVersion, startingTimestamp)
    val resolved = AttachPoint.resolve(
      startingVersion, startingTimestamp, default = Seed, preHistory = Seed,
      current = () => fresh.meta.currentVersion,
      versions = () => fresh.versions(),
      pin = if (checkpointLocation.isEmpty) (c: () => Long) => c()
            else AttachPoint.pin(checkpointLocation, spark.sessionState.newHadoopConf()))
    // EVERY explicit attach point (startingVersion=1 ⇒ resolved == 0
    // included) validates against the barrier AT ATTACH — the mid-stream
    // error's reseed guidance is wrong for a stream that hasn't started
    if (resolved >= 0L) {
      val barrier = fresh.meta.properties.get(ManagedTable.BarrierKey)
        .map(_.toLong).getOrElse(Long.MinValue)
      if (barrier > resolved)
        throw new IllegalArgumentException(
          s"$name: cannot attach at version ${resolved + 1} — a changelog " +
            s"barrier landed at version $barrier (overwrite/truncate/compact/" +
            "region delete); attach without startingVersion/startingTimestamp " +
            "to seed the current snapshot instead")
    }
    resolved
  }

  override def initialOffset(): Offset = GraftV2Offset(seedFrom)

  override def deserializeOffset(json: String): Offset =
    GraftV2Offset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(fresh.meta.currentVersion)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(k => ReadLimit.maxRows(k))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled stream: the engine calls latestOffset(start, limit)")

  private def ver(o: Offset): Long = o match {
    case GraftV2Offset(v) => v
    case other            => other.json().trim.toLong
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val base = ver(start)
    val t = fresh
    val cur0 = t.meta.currentVersion
    // under AvailableNow the run never reads past its start pin
    val cur = availableNowCap.fold(cur0)(math.min(_, cur0))
    if (base == Seed) {
      // the seed is ONE snapshot batch — a snapshot cannot split, so
      // admission caps do not apply (the V1 source's over-budget rule)
      if (cur <= 0L) null else GraftV2Offset(cur)
    } else {
      val end = admission.end(t, cur0, cur, base)
      if (end <= base) null else GraftV2Offset(end)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = ver(start)
    val to = ver(end)
    val t = fresh
    val widened = t.meta.schema.fieldNames.filterNot(attachCols.contains)
    if (widened.nonEmpty)
      throw new IllegalStateException(
        s"$name: table schema evolved — new column(s) " +
          s"[${widened.mkString(", ")}] are not in this stream's attach-time " +
          "schema and their data would be silently dropped; restart the " +
          "stream from the SAME checkpoint to resume with the widened " +
          "schema (no rows are lost)")
    val entries =
      if (from == Seed) {
        // seed replay after retention aged the manifest out: the current
        // manifest's view of seq <= A (the V1 source's restart fallback)
        t.v2EntriesAt(to).getOrElse(t.v2SnapshotEntries.filter(_.seq <= to))
      } else {
        val barrier = t.meta.properties.get(ManagedTable.BarrierKey)
          .map(_.toLong).getOrElse(Long.MinValue)
        if (barrier > from)
          throw new IllegalStateException(
            s"$name: changelog barrier at version $barrier after offset $from " +
              "— an append stream cannot replay a non-incremental rewrite " +
              "(overwrite/truncate/compact/region delete); restart from a " +
              "fresh checkpoint to reseed")
        val es = t.v2SnapshotEntries.filter(e => e.seq > from && e.seq <= to)
        val nonAppend = es.filterNot(_.kind == Manifest.Data)
        if (nonAppend.nonEmpty)
          throw new IllegalStateException(
            s"$name: version range ($from, $to] carries non-append commits " +
              s"(${nonAppend.map(_.kind).distinct.mkString(", ")} groups — " +
              "row-level DML or CDC merges) — the V2 table stream serves " +
              "APPEND-ONLY tables; use readStream.format(\"graft-table\") " +
              "for changelog semantics (per-key net changes, tombstones)")
        es
      }
    GraftScan.plan(spark, t, required, conjuncts, Seq.empty, None,
      entriesOverride = Some(entries), withFactory = false,
      exactRegion = exactRegion).partitions
  }

  override def createReaderFactory(): PartitionReaderFactory = factory

  override def toString: String = s"GraftMicroBatchStream($name)"
}
