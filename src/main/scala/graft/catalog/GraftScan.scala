package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{Text, WritableUtils}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expression}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.tables.{ManagedTable, Manifest, ManifestEntry, StatsPrune}

/** DSv2 read path over the manifest layer.
  *
  * The scan plans one input split per partition TUPLE (storage-partitioned
  * mode) or per bounded file chunk, and each split resolves merge-on-read
  * VISIBILITY locally inside its reader — no join in the Spark plan at
  * all. That locality is exactly what the table layout guarantees:
  * single-epoch delete scopes are partition-local
  * ([[ManagedTable.morResolve]]'s anti-join matches partition columns
  * alongside the identifiers), so a tuple's rows can only ever be hidden
  * by that tuple's own upsert groups and posdel sidecars, both of which
  * ride in the split. The per-split rule mirrors `morResolve` exactly:
  *
  *   visible(row) ⟺ row's (file,pos) ∉ posdel pairs
  *               ∧ ¬tombstone
  *               ∧ rowSeq ≥ max seq of the tuple's delete scopes naming
  *                 the row's key (scopes above the posdel watermark plus
  *                 pruning's delete carriers; keyless tables have none)
  *
  * At 100 TB the delete scopes a split loads are the UNCOMPACTED trickle
  * of one partition tuple — the same rows the DataFrame path would
  * broadcast — and the maintenance ladder (DV-at-commit, minor compact)
  * keeps that bounded by design.
  *
  * Eligible scans report [[KeyGroupedPartitioning]] over the table's
  * bucket/identity transforms, resolved through [[GraftBucketFunction]]:
  * Spark's storage-partitioned join then drops BOTH shuffle exchanges of
  * a co-bucketed join (and the exchange under a GROUP BY on the
  * partition key) under `spark.sql.sources.v2.bucketing.enabled` — the
  * Iceberg SPJ design, re-expressed over graft manifests.
  */
final class GraftScanBuilder(t: ManagedTable, pinnedRef: Option[String] = None,
                             options: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN {

  private var required: StructType = t.meta.schema
  private var pushed: Array[Filter] = Array.empty
  // residual-backed filters only — safe for the parquet reader, whose
  // requested schema always carries their columns (the residual above
  // keeps them in the scan output); CONSUMED region filters must NOT go
  // to parquet: their columns can be projected away, and a parquet
  // filter on an unrequested column drops every row
  private var parquetEligible: Array[Filter] = Array.empty
  private var conjuncts: Seq[ManagedTable.PruneConjunct] = Seq.empty
  private var exactRegion: Seq[(String, Set[String])] = Seq.empty
  private var aggAnswer: Option[(StructType, Array[InternalRow])] = None
  private var limitHint: Option[Int] = None
  private var topNHint: Option[GraftScan.TopNHint] = None

  override def pruneColumns(s: StructType): Unit = required = s

  /** LIMIT pushdown as GROUP TRUNCATION: plan only enough manifest groups
    * to cover the limit from their exact recorded row counts — `SELECT *
    * FROM t LIMIT 10` on a 100 TB table plans one split instead of every
    * live group. Always PARTIAL (Spark keeps its Limit above the scan, so
    * serving extra rows is correct); engages only when every served row is
    * guaranteed visible — keyless all-data snapshots with no residual
    * filters — because a truncated plan must still yield ≥ limit rows.
    * MoR states refuse AT PLAN TIME: delete scopes make a group's net
    * row count unknowable without reading it — but a keyed table whose
    * snapshot is all plain data (the steady state after compact) has no
    * scopes and truncates like a keyless one.
    */
  override def pushLimit(limit: Int): Boolean = {
    val eligible = limit > 0 && pushed.isEmpty && conjuncts.isEmpty
    if (eligible) limitHint = Some(limit)
    eligible
  }

  override def isPartiallyPushed: Boolean = true

  /** ORDER BY c LIMIT n pushdown, also as group truncation: a group whose
    * BEST possible value (its manifest bound) is provably beaten by ≥ n
    * rows of other groups cannot contribute to the top n and is dropped
    * from the plan — "latest 100 events" on a time-clustered table reads
    * the tail groups only. Null ordering is accounted exactly via the
    * manifest null counts ([[graft.tables.ColBounds.nulls]]); groups
    * missing stats are never dropped and never counted as beating
    * others; dominance is STRICT always (ties could be mutually
    * eliminating, and under multi-key orderings the later keys would
    * have to adjudicate them). Partial push: Spark's TakeOrdered above
    * re-sorts whatever the scan serves.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, NullOrdering}
    val eligible = limit > 0 && pushed.isEmpty && conjuncts.isEmpty && orders.nonEmpty
    if (!eligible) return false
    orders.head.expression() match {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
          t.meta.schema.fieldNames.contains(nr.fieldNames.head) =>
        topNHint = Some(GraftScan.TopNHint(nr.fieldNames.head,
          asc = orders.head.direction() == SortDirection.ASCENDING,
          nullsFirst = orders.head.nullOrdering() == NullOrdering.NULLS_FIRST,
          n = limit))
        true
      case _ => false
    }
  }

  /** Manifest-answered aggregates — what `SELECT count(*)/min/max` over
    * `graft.t` or `<cat>.t`, and `df.agg(...)` over `format("graft-table")`,
    * collapse to, grouped by identity partition sources or not: ONE call
    * to [[ManagedTable.manifestGroupedAggOver]] over the entries this scan
    * would serve (live, pinned ref or wap branch, narrowed by consumed
    * region predicates), answered as a [[LocalScan]] — zero file scans.
    * The fold's exactness gates (MoR states, bound-less or pre-evolution
    * columns, non-round-tripping tuples) return None and the real scan
    * keeps the query.
    */
  // memoized per Aggregation instance: Spark probes supportCompletePushDown
  // and pushAggregation with the same object — one manifest walk, not two
  private var aggCache: (AnyRef, Option[(StructType, Array[InternalRow])]) = null

  private def cachedAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow])] = {
    val c = aggCache
    if (c != null && (c._1 eq agg)) c._2
    else { val a = answerAggregation(agg); aggCache = (agg, a); a }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    cachedAnswer(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggAnswer = cachedAnswer(agg)
    aggAnswer.isDefined
  }

  private def answerAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max => V2Max, Min => V2Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    // superset-safe (residual) conjuncts block manifest answers; CONSUMED
    // exact region predicates don't — the region's entries ARE the filter
    if (conjuncts.nonEmpty) return None
    val session = SparkSession.active
    def fieldRef(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
        case _ => None
      }
    // ("count", None) | ("min"/"max", Some(col)) per aggregate, else bail
    val wants: Seq[(String, Option[String])] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => ("count", None)
      case m: V2Min => fieldRef(m.column) match {
        case Some(c) if t.meta.schema.fieldNames.contains(c) => ("min", Some(c))
        case _ => return None
      }
      case m: V2Max => fieldRef(m.column) match {
        case Some(c) if t.meta.schema.fieldNames.contains(c) => ("max", Some(c))
        case _ => return None
      }
      case _ => return None
    }
    def aggField(w: (String, Option[String])): StructField = w match {
      case ("count", _) => StructField("count", LongType, nullable = false)
      case (k, Some(c)) => StructField(s"$k($c)", t.meta.schema(c).dataType)
      case _            => throw new IllegalStateException("unreachable")
    }
    val groupCols = agg.groupByExpressions.toSeq.map(g => fieldRef(g) match {
      case Some(c) if t.meta.schema.fieldNames.contains(c) => c
      case _ => return None
    })
    val entries = GraftScan.filterByRegion(
      pinnedRef.map(t.v2RefEntries).getOrElse(t.v2SnapshotEntries), exactRegion, t.name)
    t.manifestGroupedAggOver(groupCols, wants, entries).map { rows =>
      val tz = session.sessionState.conf.sessionLocalTimeZone
      val gFields = groupCols.map(c => t.meta.schema(c))
      val data = rows.map { case (tuple, vals) =>
        val gVals = tuple.zip(gFields).map { case (s, gf) =>
          s.map(v => Cast(Literal(v), gf.dataType, Some(tz)).eval(null)).orNull
        }
        val aVals = wants.zip(vals).map {
          case (("count", _), v) => v
          case ((_, Some(c)), v) =>
            GraftScan.statsToColumn(v, t.meta.schema(c).dataType, session)
          case _ => throw new IllegalStateException("unreachable")
        }
        InternalRow.fromSeq(gVals ++ aVals)
      }
      (StructType(gFields ++ wants.map(aggField)), data.toArray)
    }
  }

  /** Manifest pruning in two strengths:
    *
    *  - EXACT region predicates — equality/IN on an IDENTITY partition
    *    source whose literal round-trips the tuple canonicalization, on a
    *    single-epoch table — are CONSUMED: all rows of a group share one
    *    tuple, so filtering entries by tuple IS the predicate, no
    *    residual needed. Consuming them is what lets Spark push an
    *    aggregate past the WHERE (`count(*) WHERE day='x'` → a zero-job
    *    manifest answer) and drops the per-row re-filter from region
    *    scans.
    *  - every other supported shape becomes a superset-safe
    *    [[ManagedTable.PruneConjunct]] (bounds ∧ Bloom ∧ tuple per entry)
    *    and STAYS residual — Spark re-applies the exact predicate above
    *    the scan. Values prune only when the literal's external class
    *    matches the column domain — never coerce on the pruning path.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val withRegion = filters.map(f => f -> GraftScan.exactRegionConjunct(t, f))
    val regionKeys = withRegion.collect { case (_, Some((k, _))) => k }.toSet
    // an IsNotNull over a column whose region is already consumed by an
    // equality/IN is IMPLIED (those value sets never admit the null
    // tuple) — consume it too, or the inferred-constraint residual
    // Spark adds next to every equality would block the whole win
    val (consumed, rest) = withRegion.partition {
      case (_, Some(_)) => true
      case (IsNotNull(c), _) =>
        GraftScan.identityRegionKey(t, c).exists(regionKeys.contains)
      case _ => false
    }
    exactRegion = consumed.flatMap(_._2).toSeq
    val restF = rest.map(_._1)
    val translated = restF.flatMap(f => GraftScan.toConjunct(t.meta.schema, f).map(f -> _))
    pushed = consumed.map(_._1) ++ translated.map(_._1)
    parquetEligible = translated.map(_._1)
    conjuncts = translated.map(_._2).toSeq
    restF
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = aggAnswer match {
    case Some((schema, rows)) => new GraftManifestLocalScan(schema, rows, t.name)
    case None => new GraftScan(t, required, conjuncts, pinnedRef, options,
      parquetEligible, limitHint, topNHint, exactRegion)
  }
}

/** A fully pushed aggregate: the manifest's exact answer as driver-local
  * rows — plans as a LocalTableScan, zero jobs.
  */
final class GraftManifestLocalScan(schema: StructType, data: Array[InternalRow],
                                   table: String) extends LocalScan {
  override def rows(): Array[InternalRow] = data
  override def readSchema(): StructType = schema
  override def description(): String = s"graft:$table manifest-aggregate"
}

final class GraftScan(t: ManagedTable, required: StructType,
                      conjuncts: Seq[ManagedTable.PruneConjunct],
                      pinnedRef: Option[String] = None,
                      options: Map[String, String] = Map.empty,
                      pushedV1: Array[Filter] = Array.empty,
                      limitHint: Option[Int] = None,
                      topNHint: Option[GraftScan.TopNHint] = None,
                      exactRegion: Seq[(String, Set[String])] = Seq.empty)
    extends Scan with Batch with SupportsReportPartitioning with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  /** Runtime (DPP-style) conjuncts — [[filter]] installs them after the
    * build side of a join materializes; re-planning prunes groups against
    * them. Superset-safe like every manifest prune, so serving extra rows
    * is always correct — the join re-filters.
    */
  @volatile private var runtimeConjuncts: Seq[ManagedTable.PruneConjunct] = Seq.empty
  @volatile private var planned: GraftScan.Planned = null

  /** Memoized under a lock: two concurrent planners (e.g. a reused scan
    * inside AQE re-optimization) must observe ONE planned instance —
    * recomputation was idempotent but wasted a manifest walk, and a
    * filter() installing runtime conjuncts concurrently with a reader
    * could interleave with the lazy fill.
    */
  private def plan: GraftScan.Planned = {
    val p0 = planned
    if (p0 != null) return p0
    synchronized {
      var p = planned
      if (p == null) {
        p = GraftScan.plan(SparkSession.active, t, required, conjuncts,
          runtimeConjuncts, pinnedRef, parquetFilters = pushedV1,
          limitHint = limitHint, topNHint = topNHint, exactRegion = exactRegion)
        planned = p
      }
      p
    }
  }

  /** Columns a runtime filter can prune on: partition sources (tuple
    * probes) plus identifiers (bounds + Bloom probes) — restricted to the
    * scan's PRUNED output: Spark resolves these references against the
    * scan relation's (column-pruned) output, so reporting a projected-out
    * column fails analysis of any join that prunes it (e.g. a count over
    * a join on the partition key alone).
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (t.v2PartitionFields.map(_.sourceColumn) ++ t.meta.identifierFields)
      .distinct.filter(required.fieldNames.contains)
      .map(Expressions.column).toArray

  override def filter(filters: Array[Filter]): Unit = {
    runtimeConjuncts = filters.flatMap(GraftScan.toConjunct(t.meta.schema, _)).toSeq
    planned = null
  }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  /** `spark.readStream.table("<cat>.t")` — the table as an APPEND-ONLY
    * micro-batch stream (Iceberg's Spark streaming-read semantics): the
    * first batch is the attach-time snapshot (full MoR resolution),
    * subsequent batches serve each commit's newly added data groups as
    * file splits — zero shuffles, zero driver materialization at any
    * table size. Non-append commits fail precisely and point at the V1
    * changelog source (`readStream.format("graft-table")`), which owns
    * CDC semantics (per-key net changes, tombstones).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pinnedRef.isEmpty || pinnedRef == GraftV2Table.activeWapBranch,
      s"graft V2 catalog: cannot stream ${t.name} VERSION AS OF " +
        s"'${pinnedRef.getOrElse("")}' — time-traveled tables are read-only " +
        "snapshots; stream the live table")
    // under an ambient spark.wap.branch the STREAM serves the LIVE
    // table's appends, like the V1 changelog source (documented): a
    // branch is unpublished staging state, not a commit sequence
    new GraftMicroBatchStream(t, required, conjuncts,
      options.get("maxversionspertrigger").map(_.toLong),
      options.get("maxrowspertrigger").map(_.toLong), pushedV1,
      options.get("startingversion"), options.get("startingtimestamp"),
      checkpointLocation, exactRegion)
  }

  override def description(): String =
    s"graft:${t.name}${pinnedRef.map(r => s"@$r").getOrElse("")} " +
      s"pushed=[${conjuncts.map(_.c).distinct.mkString(",")}]" +
      (if (exactRegion.isEmpty) ""
       else s" region=[${exactRegion.map(_._1).mkString(",")}]") +
      limitHint.map(n => s" limit=$n").getOrElse("") +
      topNHint.map(tn => s" topN=${tn.n} on ${tn.col}" +
        s"${if (tn.asc) " ASC" else " DESC"}").getOrElse("")

  override def planInputPartitions(): Array[InputPartition] = plan.partitions

  override def outputPartitioning(): Partitioning = plan.keys match {
    case Some(ks) if plan.partitions.nonEmpty =>
      new KeyGroupedPartitioning(ks, plan.partitions.length)
    case _ => new UnknownPartitioning(plan.partitions.length)
  }

  override def createReaderFactory(): PartitionReaderFactory = plan.factory

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(plan.sizeInBytes)
    override def numRows(): java.util.OptionalLong =
      plan.numRows.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
    /** Manifest-folded per-column stats for CBO — Spark's
      * `transformV2Stats` maps them onto the scan attributes, feeding
      * filter/join selectivity estimation under `spark.sql.cbo.enabled`.
      * One metadata pass, zero file reads.
      */
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
      import java.util.{Optional, OptionalLong}
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
      plan.colStats.foreach { case (c, st) =>
        m.put(Expressions.column(c), new ColumnStatistics {
          override def distinctCount(): OptionalLong =
            st.ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
          override def min(): Optional[Object] =
            st.min.map(v => Optional.of(v.asInstanceOf[Object])).getOrElse(Optional.empty())
          override def max(): Optional[Object] =
            st.max.map(v => Optional.of(v.asInstanceOf[Object])).getOrElse(Optional.empty())
          override def nullCount(): OptionalLong =
            st.nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty())
        })
      }
      m
    }
  }
}

object GraftScan {
  import ManagedTable.{SeqCol, TombstoneCol}

  /** One physical file of a group, as shipped to executors. */
  final case class GFile(path: String, length: Long, entrySeq: Long) extends Serializable

  /** `crossDelFiles` (multi-epoch keyed tables only): upsert groups of
    * OTHER tuples, whose rows hide this split's rows exactly when the two
    * sides' seqs fall in DIFFERENT spec epochs (cross-epoch scopes are
    * global on identifiers — morResolve's rule). Empty on single-epoch
    * tables.
    */
  class GraftInputPartition(val dataFiles: Array[GFile], val delFiles: Array[GFile],
                            val posdelFiles: Array[GFile],
                            val crossDelFiles: Array[GFile] = Array.empty)
      extends InputPartition

  final class KeyedGraftInputPartition(dataFiles: Array[GFile], delFiles: Array[GFile],
                                       posdelFiles: Array[GFile], key: InternalRow)
      extends GraftInputPartition(dataFiles, delFiles, posdelFiles) with HasPartitionKey {
    override def partitionKey(): InternalRow = key
  }

  final case class Planned(partitions: Array[InputPartition],
                           keys: Option[Array[V2Expression]],
                           factory: PartitionReaderFactory,
                           sizeInBytes: Long, numRows: Option[Long],
                           colStats: Map[String, ColStat] = Map.empty)

  /** Catalyst-valued column statistics folded from the manifest for CBO
    * (`spark.sql.cbo.enabled`): min/max for numeric domains (range
    * selectivity), null counts when every group recorded them, and an
    * NDV estimate for a single-identifier table (upsert semantics make
    * the key unique, so served rows bound the distinct count). String
    * bounds are deliberately omitted — Spark's estimators don't range-
    * estimate strings, and a wrong-typed value would poison the plan
    * stats.
    */
  final case class ColStat(min: Option[Any], max: Option[Any],
                           nulls: Option[Long], ndv: Option[Long])

  /** A pushed `ORDER BY col LIMIT n` (first sort key only — dominance is
    * STRICT, so later sort keys never adjudicate a dropped group).
    * Truncation logic lives in [[graft.tables.StatsPrune]].
    */
  final case class TopNHint(col: String, asc: Boolean, nullsFirst: Boolean, n: Int)

  /** An EXACT region selector: equality / IN on an identity partition
    * SOURCE column of a single-epoch table, whose literal's canonical
    * string provably equals the write path's tuple canonicalization
    * (Spark's own string cast — the same rule staged writes key groups
    * by). Returns the (tuple key, allowed canonical values) pair the
    * scan filters entries with, or None (the filter stays residual).
    *
    * Exactness preconditions, each load-bearing:
    *  - identity transform only (derived transforms don't round-trip);
    *  - single-epoch (an evolved spec leaves old entries whose tuples
    *    lack the key — filtering them out would LOSE rows);
    *  - non-null literal of an unambiguous-canonicalization type (no
    *    timestamps: timezone-dependent rendering; no floats: -0.0/NaN);
    *  - a string literal equal to the hive null sentinel is refused (a
    *    stored value and a null tuple are indistinguishable).
    */
  /** Entries filtered by CONSUMED exact region predicates — shared by
    * the scan plan and the builder's manifest-answered aggregates, so
    * the two can never disagree on which entries a consumed predicate
    * selects. A single-epoch entry missing the key would make the
    * consumed filter silently wrong: fail loudly.
    */
  private[catalog] def filterByRegion(entries: Seq[ManifestEntry],
                                      exactRegion: Seq[(String, Set[String])],
                                      tableName: String): Seq[ManifestEntry] =
    if (exactRegion.isEmpty) entries
    else entries.filter(e => exactRegion.forall { case (k, vs) =>
      e.partition.get(k) match {
        case Some(pv) => vs.contains(pv)
        case None => throw new IllegalStateException(
          s"graft V2 catalog: entry ${e.path} of single-epoch table $tableName " +
            s"carries no partition key '$k' — cannot serve the consumed " +
            "region predicate exactly")
      }
    })

  /** The graft splits of a V2 plan's BatchScans (at least one required). */
  private def servedPartitions(df: org.apache.spark.sql.DataFrame): Seq[GraftInputPartition] = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    require(scans.nonEmpty,
      s"no BatchScan in:\n${df.queryExecution.executedPlan}")
    scans.flatMap(_.inputPartitions).collect { case p: GraftInputPartition => p }
  }

  /** Distinct manifest group DIRS a V2 plan's splits serve — the probe
    * bench rows, oracle queries and specs assert group truncation with
    * (split count cannot observe it: an unpartitioned table chunks many
    * groups into few splits).
    */
  def servedGroupDirs(df: org.apache.spark.sql.DataFrame): Int =
    servedPartitions(df).flatMap(_.dataFiles)
      .map(f => f.path.substring(0, f.path.lastIndexOf('/'))).distinct.size

  /** Every data and delete file a V2 plan's splits serve. */
  def servedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    servedPartitions(df).flatMap(p => p.dataFiles ++ p.delFiles).map(_.path).toSet

  /** A manifest-answered V2 read: a LocalTableScan (the [[LocalScan]]'s
    * exec) with no BatchScan left in the physical plan — zero file reads.
    */
  def manifestAnswered(df: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("LocalTableScan") && !plan.contains("BatchScan")
  }

  /** Stats-domain value (i→Long, f→Double, s→String) → the column's
    * Catalyst-INTERNAL value through Catalyst's own cast.
    */
  def statsToColumn(raw: Any, dt: DataType, session: SparkSession): Any = {
    val normalized = raw match {
      case n: Number if !raw.isInstanceOf[java.lang.Double] &&
          !raw.isInstanceOf[java.lang.Float] => Literal(n.longValue())
      case n: Number => Literal(n.doubleValue())
      case other     => Literal(String.valueOf(other))
    }
    Cast(normalized, dt,
      Some(session.sessionState.conf.sessionLocalTimeZone)).eval(null)
  }

  /** The manifest tuple key of `c` when it is an identity partition
    * source of a single-epoch table — the column whose equality filters
    * can be consumed exactly.
    */
  private[catalog] def identityRegionKey(t: ManagedTable, c: String): Option[String] =
    if (!t.v2SingleEpoch) None
    else t.v2PartitionFields.find(pf =>
      pf.transform == "identity" && pf.sourceColumn == c).map(_.name)

  private[catalog] def exactRegionConjunct(t: ManagedTable, f: Filter)
      : Option[(String, Set[String])] = {
    if (!t.v2SingleEpoch) return None
    val pfs = t.v2PartitionFields
    def fieldFor(c: String) = pfs.find(pf =>
      pf.transform == "identity" && pf.sourceColumn == c)
    def canon(c: String, v: Any): Option[String] = {
      if (v == null) return None
      t.meta.schema(c).dataType match {
        case StringType => v match {
          case s: String if s != "__HIVE_DEFAULT_PARTITION__" => Some(s)
          case _ => None
        }
        case IntegerType | LongType | ShortType | ByteType | BooleanType | DateType =>
          try {
            val lit = org.apache.spark.sql.catalyst.expressions.Literal(v)
            if (lit.dataType != t.meta.schema(c).dataType) None
            else Option(org.apache.spark.sql.catalyst.expressions.Cast(
              lit, StringType, Some("UTC")).eval(null)).map(_.toString)
          } catch { case _: RuntimeException => None }
        case _ => None
      }
    }
    f match {
      case EqualTo(c, v) =>
        for { pf <- fieldFor(c); s <- canon(c, v) } yield (pf.name, Set(s))
      case In(c, vs) if vs != null && vs.nonEmpty && !vs.contains(null) =>
        fieldFor(c).flatMap { pf =>
          val ss = vs.toSeq.map(canon(c, _))
          if (ss.forall(_.isDefined)) Some((pf.name, ss.flatten.toSet)) else None
        }
      case _ => None
    }
  }

  /** V1 filter → prune conjunct, when the shape and the literal domain
    * allow; None prunes nothing (the residual filter keeps semantics).
    */
  def toConjunct(schema: StructType, f: Filter): Option[ManagedTable.PruneConjunct] = {
    def ok(c: String, v: Any): Boolean =
      schema.fieldNames.contains(c) && v != null && (schema(c).dataType match {
        case StringType    => v.isInstanceOf[String]
        case IntegerType   => v.isInstanceOf[java.lang.Integer]
        case LongType      => v.isInstanceOf[java.lang.Long]
        case ShortType     => v.isInstanceOf[java.lang.Short]
        case ByteType      => v.isInstanceOf[java.lang.Byte]
        case DoubleType    => v.isInstanceOf[java.lang.Double]
        case FloatType     => v.isInstanceOf[java.lang.Float]
        case BooleanType   => v.isInstanceOf[java.lang.Boolean]
        case DateType      => v.isInstanceOf[java.sql.Date] || v.isInstanceOf[java.time.LocalDate]
        case TimestampType => v.isInstanceOf[java.sql.Timestamp] || v.isInstanceOf[java.time.Instant]
        case _: DecimalType => v.isInstanceOf[java.math.BigDecimal]
        case _             => false
      })
    f match {
      case EqualTo(c, v) if ok(c, v) =>
        Some(ManagedTable.PruneConjunct(c, Some(v), Some(v)))
      case GreaterThan(c, v) if ok(c, v) =>
        Some(ManagedTable.PruneConjunct(c, Some(v), None))
      case GreaterThanOrEqual(c, v) if ok(c, v) =>
        Some(ManagedTable.PruneConjunct(c, Some(v), None))
      case LessThan(c, v) if ok(c, v) =>
        Some(ManagedTable.PruneConjunct(c, None, Some(v)))
      case LessThanOrEqual(c, v) if ok(c, v) =>
        Some(ManagedTable.PruneConjunct(c, None, Some(v)))
      case In(c, vs) if vs != null && vs.forall(ok(c, _)) =>
        Some(ManagedTable.PruneConjunct(c, None, None, Some(vs.toSeq)))
      case _ => None
    }
  }

  private[catalog] def plan(spark: SparkSession, t: ManagedTable, required: StructType,
                            conjuncts: Seq[ManagedTable.PruneConjunct],
                            runtimeConjuncts: Seq[ManagedTable.PruneConjunct],
                            pinnedRef: Option[String],
                            entriesOverride: Option[Seq[ManifestEntry]] = None,
                            parquetFilters: Array[Filter] = Array.empty,
                            withFactory: Boolean = true,
                            limitHint: Option[Int] = None,
                            topNHint: Option[TopNHint] = None,
                            exactRegion: Seq[(String, Set[String])] = Seq.empty): Planned = {
    val name = t.name
    val keyed = t.meta.identifierFields.nonEmpty
    require(fileFormats.contains(t.v2Format),
      s"graft V2 catalog: table $name stores ${t.v2Format} groups — the V2 read " +
        s"path reads ${fileFormats.keys.toSeq.sorted.mkString("/")}; read via ManagedTable.read()")
    // Multi-epoch KEYED tables (round 11): cross-epoch delete scopes are
    // GLOBAL on identifiers (a new-epoch delete hides old-epoch rows in
    // other tuples), so per-split MoR locality needs help — each split
    // additionally carries the OTHER tuples' upsert groups as
    // `crossDelFiles`, applied by the reader only across epoch boundaries
    // (the exact morResolve rule). SPJ stays disengaged (old epochs'
    // tuples don't describe the current spec). The read amplification is
    // O(tuples × uncompacted cross-tuple trickle) — bounded by the
    // maintenance ladder; CALL graft.system.compact(…) normalizes files
    // to the current spec and restores per-tuple locality + SPJ.
    val multiEpoch = keyed && !t.v2SingleEpoch

    val snapshot0 = entriesOverride.getOrElse(
      pinnedRef.map(t.v2RefEntries).getOrElse(t.v2SnapshotEntries))
    // CONSUMED exact region predicates filter entries by tuple — all
    // rows of a group share one tuple, so this IS the predicate (no
    // residual above)
    val snapshot = filterByRegion(snapshot0, exactRegion, name)
    val (staticScan, staticCarriers) = t.v2PrunedEntries(conjuncts, snapshot)
    // runtime filters narrow further, but the reported partition-VALUE set
    // must stay the statically planned one (SPJ consistency): filtered-out
    // tuples keep an EMPTY keyed split below
    val (scanEntries, carriers) =
      if (runtimeConjuncts.isEmpty) (staticScan, staticCarriers)
      else t.v2PrunedEntries(conjuncts ++ runtimeConjuncts, snapshot)
    val posdels = scanEntries.filter(_.kind == Manifest.PosDel)
    val dataEntries = scanEntries.filterNot(_.kind == Manifest.PosDel)
    // pushed LIMIT / ORDER-BY-LIMIT group truncation — only when every
    // served row is guaranteed visible (an ALL-DATA snapshot: no upsert
    // scopes, no posdel sidecars — only upsert groups ever hide rows, so
    // a keyed table compacted to plain data qualifies too; and no
    // residual filters above the scan), so a truncated plan still yields
    // ≥ limit rows / provably contains the top n
    val hintEligible = (limitHint.isDefined || topNHint.isDefined) &&
      posdels.isEmpty && conjuncts.isEmpty &&
      runtimeConjuncts.isEmpty && parquetFilters.isEmpty &&
      dataEntries.forall(e => e.kind == Manifest.Data && e.rows >= 0L)
    val dataServed =
      if (!hintEligible) dataEntries
      else topNHint.map(tn =>
          StatsPrune.topNTruncate(dataEntries, tn.col, tn.asc, tn.nullsFirst, tn.n))
        .orElse(limitHint.map(StatsPrune.limitTruncate(dataEntries, _)))
        .getOrElse(dataEntries)
    val appliedByTuple = posdels.groupBy(_.partition)
      .map { case (p, es) => p -> es.map(_.seq).max }
    def appliedFor(p: Map[String, String]): Long =
      appliedByTuple.getOrElse(p, Long.MinValue)

    // Plan from the manifest alone: entries carry their file names + sizes
    // (stamped at commit time), so building splits costs ZERO filesystem
    // listing RPCs — at 100 TB / O(10^5) groups on an object store the
    // per-plan LIST fan-out was the planning bottleneck, re-paid on every
    // runtime-filter re-plan. listStatus survives only as the fallback for
    // pre-upgrade manifests (lazy FS handle: a fully-stamped table never
    // even resolves the FileSystem).
    lazy val fs = t.v2TableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // memoized per plan: an upsert group feeds both the data and the
    // delete-source file lists, and chunked splits share delete/posdel
    // groups — one lookup per group dir, not per use
    val fileCache = scala.collection.mutable.HashMap.empty[String, Array[GFile]]
    val suffix = "." + t.v2Format
    def filesOf(e: ManifestEntry): Array[GFile] =
      fileCache.getOrElseUpdate(e.path, {
        val dir = new Path(t.v2TableDir, e.path)
        if (e.files.nonEmpty)
          e.files.iterator.filter(_.name.endsWith(suffix))
            .map(f => GFile(new Path(dir, f.name).toString, f.bytes, e.seq))
            .toArray
        else fs.listStatus(dir).collect {
          case s if s.isFile && s.getPath.getName.endsWith(suffix) &&
              !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_") =>
            GFile(s.getPath.toString, s.getLen, e.seq)
        }
      })

    val byTuple = dataServed.groupBy(_.partition)
    val carriersByTuple = carriers.groupBy(_.partition)
    val posdelsByTuple = posdels.groupBy(_.partition)

    // delete sources per tuple — morResolve's rule: scan upserts strictly
    // above both the tuple's min live seq and its posdel watermark, plus
    // pruning's delete carriers (unconditioned). A SAME-tuple delete
    // applies in every epoch combination (same epoch: the tuple matches;
    // cross epoch: global), so on multi-epoch tables the min-seq skip is
    // dropped (a min-entry-seq group's scope can still hide other epochs'
    // rows) — superset-safe either way.
    def delSourcesOf(tuple: Map[String, String], es: Seq[ManifestEntry]): Seq[ManifestEntry] =
      if (!keyed || es.isEmpty) Seq.empty // no rows in the split, nothing to hide
      else {
        val minSeq = es.map(_.seq).min
        es.filter(e => e.kind == Manifest.Upsert &&
          e.seq > appliedFor(tuple) && (multiEpoch || e.seq > minSeq)) ++
          carriersByTuple.getOrElse(tuple, Seq.empty)
      }

    // multi-epoch only: every OTHER tuple's upsert groups (and pruned-out
    // carriers), applied by the reader strictly across epoch boundaries.
    // Deliberately NOT gated on the scope tuple's posdel watermark: a
    // materialized sidecar lands in the SCOPE'S OWN tuple and raises its
    // appliedFor, but the (file,pos) pairs hiding OTHER tuples' rows ride
    // that sidecar — which those tuples' splits never load. Skipping the
    // scope here would resurrect their deleted rows; re-applying it where
    // the sidecar already covers the same rows is idempotent.
    lazy val allCross: Seq[ManifestEntry] =
      (dataEntries.filter(_.kind == Manifest.Upsert) ++ carriers).distinct
    def crossDelSourcesOf(tuple: Map[String, String],
                          es: Seq[ManifestEntry]): Seq[ManifestEntry] =
      if (!multiEpoch || es.isEmpty) Seq.empty
      else allCross.filterNot(_.partition == tuple)

    val spjWanted = !multiEpoch &&
      spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false") == "true"
    val pfs = t.v2PartitionFields
    val spjKeys: Option[Array[V2Expression]] =
      if (!spjWanted || pfs.isEmpty) None
      else {
        val exprs = pfs.map { pf =>
          pf.transform match {
            case "identity" if keyTypeSupported(t.meta.schema(pf.sourceColumn).dataType) =>
              Some(Expressions.identity(pf.sourceColumn): V2Expression)
            case "bucket" if BoundBucket.supported(t.meta.schema(pf.sourceColumn).dataType) =>
              Some(Expressions.bucket(
                GraftCatalog.numericArgOf(pf, t.meta.partitionBy), pf.sourceColumn): V2Expression)
            case _ => None
          }
        }
        if (exprs.forall(_.isDefined)) Some(exprs.flatten.toArray) else None
      }

    // keyed splits iterate the STATIC tuple set so runtime filtering
    // never changes the reported partition values; under a pushed-limit
    // truncation the served entry set IS the static plan (truncation and
    // runtime filters are mutually exclusive by the eligibility gate)
    val spjTuples = (if (dataServed ne dataEntries) dataServed
                     else staticScan.filterNot(_.kind == Manifest.PosDel))
      .map(_.partition).distinct

    // typed partition-key rows, only when every tuple value parses
    val keyRows: Option[Map[Map[String, String], InternalRow]] = spjKeys.flatMap { _ =>
      val rows = spjTuples.map { tuple =>
        val vals = pfs.map { pf =>
          val raw = tuple.getOrElse(pf.name, null)
          parseTupleValue(raw, pf, t.meta.schema)
        }
        if (vals.exists(_.isEmpty)) None
        else Some(tuple -> (new GenericInternalRow(vals.map(_.get.orNull).toArray[Any]): InternalRow))
      }
      if (rows.forall(_.isDefined)) Some(rows.flatten.toMap) else None
    }

    val maxFiles = math.max(1,
      t.meta.properties.getOrElse("read.v2.split-max-files", "32").toInt)
    val partitions: Array[InputPartition] = keyRows match {
      case Some(keys) =>
        // One split per bounded FILE CHUNK, several per hot tuple (round
        // 11): under Spark's default grouping same-key splits coalesce
        // back into one task (the exchange-free SPJ plan, unchanged), and
        // under `…bucketing.partiallyClusteredDistribution.enabled` the
        // grouped side replicates instead — a hot tuple becomes several
        // tasks, the SPJ skew escape hatch. Correct because MoR
        // resolution is per-row: every chunk carries the WHOLE tuple's
        // delete/posdel state ((file,pos) pairs for files outside the
        // chunk match nothing). A tuple pruned empty by runtime filters
        // keeps one empty split — the reported partition-value set must
        // stay the statically planned one.
        spjTuples.toArray.flatMap { tuple =>
          val es = byTuple.getOrElse(tuple, Seq.empty)
          val dels = delSourcesOf(tuple, es).distinct.toArray.flatMap(filesOf)
          val pds = posdelsByTuple.getOrElse(tuple, Seq.empty).toArray.flatMap(filesOf)
          val chunks = es.toArray.flatMap(filesOf).grouped(maxFiles).toArray
          val use = if (chunks.isEmpty) Array(Array.empty[GFile]) else chunks
          use.map(chunk =>
            new KeyedGraftInputPartition(chunk, dels, pds, keys(tuple)): InputPartition)
        }
      case None =>
        byTuple.toArray.flatMap { case (tuple, es) =>
          val dels = delSourcesOf(tuple, es).distinct.toArray.flatMap(filesOf)
          val cross = crossDelSourcesOf(tuple, es).toArray.flatMap(filesOf)
          val pds = posdelsByTuple.getOrElse(tuple, Seq.empty).toArray.flatMap(filesOf)
          es.toArray.flatMap(filesOf).grouped(maxFiles).map(chunk =>
            new GraftInputPartition(chunk, dels, pds, cross): InputPartition)
        }
    }

    // the streaming path builds ONE factory per stream and plans
    // partitions per micro-batch — skip the reader builds it discards.
    // Each reader build broadcasts a Hadoop conf ([[ReaderConf]]), so a
    // plan builds only the readers its
    // splits open, and none without a split. The exec keeps the first
    // factory when a runtime filter re-plans, and a re-plan can turn a
    // served upsert group into a delete carrier: any upsert group in
    // reach keeps the delete reader.
    val factory =
      if (withFactory && partitions.nonEmpty) {
        val splits = partitions.map(_.asInstanceOf[GraftInputPartition])
        buildFactory(spark, t, required, parquetFilters,
          posdels = splits.exists(_.posdelFiles.nonEmpty),
          deletes = (scanEntries ++ carriers).exists(_.kind == Manifest.Upsert))
      } else null

    val dataRows = dataServed.map(_.rows)
    val numRowsOpt =
      if (dataRows.nonEmpty && dataRows.forall(_ >= 0L)) Some(dataRows.sum) else None

    // CBO column statistics, folded from the SERVED entries' manifest
    // bounds — one metadata pass, no file reads. A column reports only
    // when EVERY served group carries comparable bounds for it (partial
    // coverage would understate the range and mislead the estimator).
    val colStats: Map[String, ColStat] =
      if (dataServed.isEmpty) Map.empty
      else required.fields.iterator.flatMap { f =>
        val bounds = dataServed.flatMap(_.stats.get(f.name))
        if (bounds.sizeIs < dataServed.size) None
        else ManagedTable.boundsRange(bounds).map { case (mn, mx) =>
          val nulls =
            if (bounds.forall(_.nulls >= 0L)) Some(bounds.map(_.nulls).sum) else None
          val (mino, maxo) = bounds.head.t match {
            case "i" | "f" =>
              (Some(statsToColumn(mn, f.dataType, spark)),
               Some(statsToColumn(mx, f.dataType, spark)))
            case _ => (None, None)
          }
          // NDV upper bound: per-group approx counts sum, capped at the
          // non-null row total; a single-identifier key falls back to
          // the served row count (upsert semantics make it unique)
          val nonNull =
            if (bounds.forall(_.nulls >= 0L))
              numRowsOpt.map(_ - bounds.map(_.nulls).sum) else None
          val ndv =
            if (bounds.forall(_.ndv >= 0L)) {
              val s = bounds.map(_.ndv).sum
              Some(nonNull.fold(s)(math.min(s, _)))
            } else if (t.meta.identifierFields == Seq(f.name)) numRowsOpt
            else None
          f.name -> ColStat(mino, maxo, nulls, ndv)
        }
      }.toMap

    Planned(partitions, spjKeys.filter(_ => keyRows.isDefined), factory,
      sizeInBytes = partitions.collect {
        case p: GraftInputPartition => p.dataFiles.map(_.length).sum }.sum,
      numRows = numRowsOpt, colStats = colStats)
  }

  /** The Hadoop conf a reader build broadcasts. Hadoop's own
    * `Configuration.write` gzips each key's source-resource names with a
    * fresh `Deflater` per key (about 1100 keys), which was most of a
    * reader build and so of a served point lookup's planning (4-core
    * host: about 11 ms a build with the plain conf, 3.5 ms with this
    * one). This copy
    * writes the same keys and values and leaves the names out (only
    * diagnostics read them); `SerializableConfiguration` reads it back
    * with the plain `Configuration.readFields`.
    */
  private[catalog] final class ReaderConf(base: Configuration) extends Configuration(base) {
    override def write(out: java.io.DataOutput): Unit = {
      val props = getProps
      WritableUtils.writeVInt(out, props.size)
      props.entrySet.forEach { e =>
        Text.writeString(out, e.getKey.asInstanceOf[String])
        Text.writeString(out, e.getValue.asInstanceOf[String])
        WritableUtils.writeCompressedStringArray(out, null)
      }
    }
  }

  /** The split-reader factory. `posdels`/`deletes` say whether any split
    * may carry posdel sidecars / delete sources; the readers they need
    * are built only then. The streaming path builds it ONCE per stream
    * with every reader, instead of per micro-batch.
    */
  private[catalog] def buildFactory(spark: SparkSession, t: ManagedTable,
                                    required: StructType,
                                    parquetFilters: Array[Filter] = Array.empty,
                                    posdels: Boolean = true,
                                    deletes: Boolean = true)
      : GraftReaderFactory = {
    val keyed = t.meta.identifierFields.nonEmpty
    val aliases = t.v2RenameAliasesLive
    val defaults = t.v2ColumnDefaults
    val dataSchema = StructType(t.v2PhysicalSchema.fields :+
      StructField(SeqCol, LongType, nullable = true) :+
      StructField(TombstoneCol, BooleanType, nullable = true))
    val ids = t.meta.identifierFields
    // metadata columns (_graft_version, _file) are SYNTHESIZED by the
    // reader — they must not reach the parquet read schema; outBind maps
    // each output slot to its matSchema input (or the -1/-2 sentinels).
    // A REAL table column of either name wins (Spark's metadata-column
    // conflict contract; GraftV2Table suppresses the metadata def too)
    val physNames = t.v2PhysicalSchema.fieldNames.toSet
    def isMetaName(n: String): Boolean =
      !physNames.contains(n) &&
        (n == GraftV2Table.VersionMetaCol || n == GraftV2Table.FileMetaCol)
    val dataReq = required.fields.filterNot(f => isMetaName(f.name))
    val extraIds = ids.filterNot(dataReq.map(_.name).contains)
    val dataFields = dataReq.map(f => dataSchema(f.name)) ++
      extraIds.map(dataSchema(_))
    // rename-lineage fold: each renamed OUTPUT column's prior names ride
    // the read schema as extra nullable fields (parquet by-name projection
    // fills whichever a file has); the reader coalesces them — the exact
    // rule scanGroups applies on the SQL surface
    val aliasFields = dataFields.flatMap(f =>
      aliases.getOrElse(f.name, Seq.empty)
        .map(o => StructField(o, f.dataType, nullable = true)))
    val matSchema = StructType(
      dataFields ++ aliasFields :+
        dataSchema(SeqCol) :+ dataSchema(TombstoneCol))
    val idIdxs = ids.map(matSchema.fieldIndex).toArray
    val outBind: Array[Int] = required.fields.map { f =>
      if (!isMetaName(f.name)) dataReq.indexWhere(_.name == f.name)
      else if (f.name == GraftV2Table.VersionMetaCol) -1
      else -2
    }
    val aliasIdxs: Array[Array[Int]] = required.fields.map(f =>
      aliases.getOrElse(f.name, Seq.empty).map(matSchema.fieldIndex).toArray)
    // seq-gated initial defaults, evaluated ONCE on the driver to a
    // catalyst value (the same lit(s).cast(dt) the SQL fold applies)
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    def defaultOf(f: StructField): Option[(Long, Any)] =
      defaults.get(f.name).map { case (v, s) =>
        (v, org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(
            UTF8String.fromString(s), StringType), f.dataType, Some(tz)).eval(null))
      }
    val defaultVals: Array[Option[(Long, Any)]] = required.fields.map(defaultOf)
    // identifier keys fold the same way BEFORE delete matching: a column
    // renamed or added with a default and later made an identifier (SET
    // IDENTIFIER FIELDS) holds its key under a prior name, or nowhere, in
    // files written before. Delete scopes need no fold — re-keying
    // requires a plain-data table, so every scope is written after it,
    // under the current names.
    val idAliasIdxs: Array[Array[Int]] = ids.map(n =>
      aliases.getOrElse(n, Seq.empty).map(matSchema.fieldIndex).toArray).toArray
    val idDefaults: Array[Option[(Long, Any)]] = ids.map(n => defaultOf(matSchema(n))).toArray
    val delSchema = StructType(ids.map(n => dataSchema(n)) :+ dataSchema(SeqCol))
    val fmt = fileFormats(t.v2Format)()
    // row-based output: the vectorized reader still runs inside, yielding
    // rows — the reader loop consumes one row at a time. Each build gets
    // its OWN hadoop conf: the builder writes its requested schema into
    // the conf it broadcasts.
    def readerConf = new ReaderConf(spark.sessionState.newHadoopConf())
    val opts = Map(
      org.apache.spark.sql.execution.datasources.FileFormat.OPTION_RETURNING_BATCH -> "false")
    // filtered twin for POSDEL-FREE splits: the pushed predicates reach the
    // parquet reader for row-group/page skipping (dropped rows are exactly
    // rows the residual filter above drops anyway — predicates referencing
    // columns a pre-evolution file lacks are skipped per file by Spark's
    // ParquetFilters). Splits CARRYING posdel sidecars must keep the
    // unfiltered reader: skipping breaks the running-ordinal = row-index
    // identity the (file, pos) pairs address.
    val dataReaderF =
      if (parquetFilters.isEmpty || t.v2Format != "parquet") null
      else fmt.buildReaderWithPartitionValues(spark, dataSchema,
        new StructType(), matSchema, parquetFilters.toIndexedSeq, opts, readerConf)
    val dataReader =
      if (dataReaderF != null && !posdels) null
      else fmt.buildReaderWithPartitionValues(spark, dataSchema,
        new StructType(), matSchema, Nil, opts, readerConf)
    val delReader =
      if (keyed && deletes) fmt.buildReaderWithPartitionValues(spark, dataSchema,
        new StructType(), delSchema, Nil, opts, readerConf)
      else null
    val posdelReader =
      if (posdels) fmt.buildReaderWithPartitionValues(spark, ManagedTable.PosDelSchema,
        new StructType(), ManagedTable.PosDelSchema, Nil, opts, readerConf)
      else null

    new GraftReaderFactory(dataReader, delReader, posdelReader,
      matSchema, outBind, idIdxs, delSchema.length - 1,
      required.fields.map(_.dataType), aliasIdxs, defaultVals, dataReaderF,
      t.v2EpochBoundaries, idAliasIdxs, idDefaults)
  }

  /** Group file formats the reader opens (`write.format-default`): by-name
    * projection and in-file row order, which the (file, pos) posdel pairs
    * address, hold for all three. JSON is the metadata-table format
    * ([[graft.tables.ParityStores]]: offset and schema-history stores).
    */
  private val fileFormats: Map[String, () => FileFormat] = Map(
    "parquet" -> (() => new ParquetFileFormat()),
    "orc"     -> (() => new OrcFileFormat()),
    "json"    -> (() => new JsonFileFormat()))

  private[catalog] def keyTypeSupported(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         BooleanType | DateType => true
    case _ => false
  }

  /** Manifest tuple string → typed catalyst value; None = unparseable
    * (the scan falls back to unkeyed splits). The hive null marker maps
    * to a null key.
    */
  private[catalog] def parseTupleValue(raw: String, pf: graft.tables.PartitionField,
                              schema: StructType): Option[Option[Any]] = {
    if (raw == null) return None
    if (raw == "__HIVE_DEFAULT_PARTITION__") {
      // a STRING identity column could genuinely HOLD the sentinel text —
      // the tuple cannot distinguish it from null (same ambiguity
      // manifestGroupedAggOver refuses on), so fall back to unkeyed splits;
      // for every other type the sentinel unambiguously means null
      val ambiguous = pf.transform == "identity" &&
        schema(pf.sourceColumn).dataType == StringType
      return if (ambiguous) None else Some(None)
    }
    try pf.transform match {
      case "bucket" => Some(Some(raw.toInt))
      case "identity" => schema(pf.sourceColumn).dataType match {
        case StringType  => Some(Some(UTF8String.fromString(raw)))
        case IntegerType => Some(Some(raw.toInt))
        case LongType    => Some(Some(raw.toLong))
        case ShortType   => Some(Some(raw.toShort))
        case ByteType    => Some(Some(raw.toByte))
        case BooleanType => Some(Some(raw.toBoolean))
        case DateType    => Some(Some(java.time.LocalDate.parse(raw).toEpochDay.toInt))
        case _           => None
      }
      case _ => None
    } catch { case _: IllegalArgumentException | _: java.time.format.DateTimeParseException => None }
  }
}

/** Serializable executor-side machinery: the three reader closures are the
  * SAME vectorized parquet readers the file-source scan uses
  * (`ParquetFileFormat.buildReaderWithPartitionValues` — broadcast conf,
  * by-name projection, null-fill for pre-evolution files). Splits read
  * whole files with no parquet-level filter, so the running ordinal IS the
  * file's row index — the posdel pair domain.
  */
final class GraftReaderFactory(
    private[catalog] val dataReader: PartitionedFile => Iterator[InternalRow],
    private[catalog] val delReader: PartitionedFile => Iterator[InternalRow],
    private[catalog] val posdelReader: PartitionedFile => Iterator[InternalRow],
    matSchema: StructType, outBind: Array[Int], idIdxs: Array[Int], delSeqIdx: Int,
    outTypes: Array[DataType],
    aliasIdxs: Array[Array[Int]] = Array.empty,
    defaultVals: Array[Option[(Long, Any)]] = Array.empty,
    private[catalog] val dataReaderFiltered: PartitionedFile => Iterator[InternalRow] = null,
    epochBoundaries: Array[Long] = Array.empty,
    idAliasIdxs: Array[Array[Int]] = Array.empty,
    idDefaults: Array[Option[(Long, Any)]] = Array.empty)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftScan.GraftInputPartition]
    // row-group-skipping reader only where no (file, pos) pairs depend on
    // exact row ordinals
    val dr = if (dataReaderFiltered != null && p.posdelFiles.isEmpty)
      dataReaderFiltered else dataReader
    new GraftPartitionReader(p,
      dr, delReader, posdelReader, matSchema, outBind, idIdxs, delSeqIdx,
      outTypes, aliasIdxs, defaultVals, epochBoundaries, idAliasIdxs, idDefaults)
  }
}

final class GraftPartitionReader(
    p: GraftScan.GraftInputPartition,
    dataReader: PartitionedFile => Iterator[InternalRow],
    delReader: PartitionedFile => Iterator[InternalRow],
    posdelReader: PartitionedFile => Iterator[InternalRow],
    matSchema: StructType, outBind: Array[Int], idIdxs: Array[Int], delSeqIdx: Int,
    outTypes: Array[DataType],
    aliasIdxs: Array[Array[Int]], defaultVals: Array[Option[(Long, Any)]],
    epochBoundaries: Array[Long] = Array.empty,
    idAliasIdxs: Array[Array[Int]] = Array.empty,
    idDefaults: Array[Option[(Long, Any)]] = Array.empty)
    extends PartitionReader[InternalRow] {

  import GraftScan.GFile

  /** Spec epoch of a commit seq: #boundaries strictly below it (the
    * table layer's entryEpoch, executor-side). Boundary count is the
    * number of spec EVOLUTIONS — tiny — so the linear walk is free.
    */
  private def epochOf(seq: Long): Int = {
    var i = 0; var n = 0
    while (i < epochBoundaries.length) { if (seq > epochBoundaries(i)) n += 1; i += 1 }
    n
  }

  private val seqIdx = matSchema.length - 2
  private val tombIdx = matSchema.length - 1

  /** Group-dir + file name — stable across URI renderings, unique because
    * group dirs carry a uuid; joins posdel pair strings to split files.
    */
  private def fileKey(path: String): String = {
    val i = path.lastIndexOf('/')
    val j = path.lastIndexOf('/', i - 1)
    path.substring(j + 1)
  }

  private def open(f: GFile, reader: PartitionedFile => Iterator[InternalRow])
      : Iterator[InternalRow] =
    reader(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(f.path),
      0L, f.length, Array.empty, 0L, f.length)).asInstanceOf[Iterator[Any]].flatMap {
      case b: org.apache.spark.sql.vectorized.ColumnarBatch =>
        scala.jdk.CollectionConverters.IteratorHasAsScala(b.rowIterator()).asScala
      case r => Iterator.single(r.asInstanceOf[InternalRow])
    }

  /** Stable identity of this split's delete-state inputs: the files are
    * immutable (uuid group dirs, never rewritten in place), so (path,
    * length, entrySeq) identifies their content; the shaping config
    * (identifier types, seq slot, epochs) completes the key. See
    * [[GraftPartitionReader.sharedState]].
    */
  private def stateKey(files: Array[GFile], tag: String): String = {
    val sig = idIdxs.indices.map(i => delTypeAt(i).catalogString).mkString(",")
    files.map(f => s"${f.path}#${f.length}#${f.entrySeq}").sorted
      .mkString(s"$tag|$sig|$delSeqIdx|${epochBoundaries.mkString("_")}|", ";", "")
  }

  /** (group-dir/file) → hidden row positions. */
  private lazy val posdelsByFile: java.util.HashMap[String, java.util.HashSet[java.lang.Long]] =
    GraftPartitionReader.sharedState(stateKey(p.posdelFiles, "pd")) {
      val m = new java.util.HashMap[String, java.util.HashSet[java.lang.Long]]()
      p.posdelFiles.foreach { f =>
        val it = open(f, posdelReader)
        while (it.hasNext) {
          val r = it.next()
          val k = fileKey(r.getUTF8String(0).toString)
          var s = m.get(k)
          if (s == null) { s = new java.util.HashSet[java.lang.Long](); m.put(k, s) }
          s.add(r.getLong(1))
        }
      }
      m
    }

  /** identifier key → max delete-scope seq (null map ⇔ keyless / no scopes). */
  private lazy val delMax: java.util.HashMap[AnyRef, java.lang.Long] =
    if (idIdxs.isEmpty || p.delFiles.isEmpty) null
    else GraftPartitionReader.sharedState(stateKey(p.delFiles, "dm")) {
      val m = new java.util.HashMap[AnyRef, java.lang.Long]()
      val delIdIdxs = idIdxs.indices.toArray // delSchema = ids ++ seq
      p.delFiles.foreach { f =>
        val it = open(f, delReader)
        while (it.hasNext) {
          val r = it.next()
          val k = keyOfIdx(r, delIdIdxs, i => delTypeAt(i))
          val s: Long = if (r.isNullAt(delSeqIdx)) f.entrySeq else r.getLong(delSeqIdx)
          val prev = m.get(k)
          if (prev == null || prev < s) m.put(k, s)
        }
      }
      m
    }

  /** Multi-epoch cross-tuple delete scopes (round 11): identifier key →
    * per-epoch max delete seq. A cross-tuple scope hides a row ONLY when
    * the two seqs fall in different epochs (global cross-epoch rule), so
    * the reader keeps one max per (key, epoch of the delete row) — epoch
    * count is the number of spec evolutions, so the arrays stay tiny.
    */
  private lazy val crossDelMax: java.util.HashMap[AnyRef, Array[Long]] =
    if (idIdxs.isEmpty || p.crossDelFiles.isEmpty) null
    else GraftPartitionReader.sharedState(stateKey(p.crossDelFiles, "xd")) {
      val nEpochs = epochBoundaries.length + 1
      val m = new java.util.HashMap[AnyRef, Array[Long]]()
      val delIdIdxs = idIdxs.indices.toArray
      p.crossDelFiles.foreach { f =>
        val it = open(f, delReader)
        while (it.hasNext) {
          val r = it.next()
          val k = keyOfIdx(r, delIdIdxs, i => delTypeAt(i))
          val s: Long = if (r.isNullAt(delSeqIdx)) f.entrySeq else r.getLong(delSeqIdx)
          var a = m.get(k)
          if (a == null) { a = Array.fill(nEpochs)(Long.MinValue); m.put(k, a) }
          val ep = epochOf(s)
          if (a(ep) < s) a(ep) = s
        }
      }
      m
    }

  private def delTypeAt(i: Int): DataType = matSchema(idIdxs(i)).dataType
  private def dataTypeAt(i: Int): DataType = matSchema(idIdxs(i)).dataType

  /** Copy-out id values (buffers behind vectorized rows are reused). */
  private def keyOfIdx(r: InternalRow, idxs: Array[Int], typeOf: Int => DataType): AnyRef = {
    def v(i: Int): AnyRef =
      if (r.isNullAt(idxs(i))) null
      else typeOf(i) match {
        case StringType        => r.getUTF8String(idxs(i)).copy()
        case IntegerType | DateType => Int.box(r.getInt(idxs(i)))
        case LongType | TimestampType | TimestampNTZType => Long.box(r.getLong(idxs(i)))
        case ShortType         => Short.box(r.getShort(idxs(i)))
        case ByteType          => Byte.box(r.getByte(idxs(i)))
        case BooleanType       => Boolean.box(r.getBoolean(idxs(i)))
        case DoubleType        => Double.box(r.getDouble(idxs(i)))
        case FloatType         => Float.box(r.getFloat(idxs(i)))
        case d: DecimalType    => r.getDecimal(idxs(i), d.precision, d.scale).toJavaBigDecimal
        case BinaryType        => java.nio.ByteBuffer.wrap(r.getBinary(idxs(i)).clone())
        case other => throw new UnsupportedOperationException(
          s"graft V2 reader: identifier type $other")
      }
    if (idxs.length == 1) v(0)
    else { val a = new Array[AnyRef](idxs.length); var i = 0
           while (i < idxs.length) { a(i) = v(i); i += 1 }; a.toList }
  }

  /** Output projection: per slot, the rename-lineage coalesce plus the
    * seq-gated initial default — scanGroups' projection, reader-side —
    * and the synthesized metadata columns (`_graft_version`, `_file`),
    * which bind past the physical row into a per-row joined metadata
    * tail. The default gate needs the row's effective seq
    * (`coalesce(seq, entrySeq)`), so folding readers build one projection
    * per distinct file entry seq (memoized); fold-free tables keep a
    * single static projection.
    */
  private val needsFold = aliasIdxs.exists(_.nonEmpty) || defaultVals.exists(_.isDefined)
  private val idNeedsFold = idAliasIdxs.exists(_.nonEmpty) || idDefaults.exists(_.isDefined)
  private val metaNeeded = outBind.exists(_ < 0)

  /** Slot `j` of the physical row with its rename-lineage coalesce and
    * seq-gated initial default applied.
    */
  private def foldedSlot(j: Int, dt: DataType, aliases: Array[Int],
                         default: Option[(Long, Any)], entrySeq: Long)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{And, Coalesce, Expression, If, IsNull, LessThanOrEqual, Literal}
    val base: Expression = BoundReference(j, dt, nullable = true)
    val folded: Expression =
      if (aliases.isEmpty) base
      else Coalesce(base +: aliases.toSeq.map(k =>
        BoundReference(k, dt, nullable = true): Expression))
    default match {
      case Some((v, dv)) =>
        val rowSeq = Coalesce(Seq(
          BoundReference(seqIdx, LongType, nullable = true),
          Literal(entrySeq, LongType)))
        If(And(LessThanOrEqual(rowSeq, Literal(v, LongType)), IsNull(folded)),
          Literal(dv, dt), folded)
      case None => folded
    }
  }

  private def mkProj(entrySeq: Long): UnsafeProjection =
    UnsafeProjection.create(
      outBind.indices.map { i =>
        outBind(i) match {
          case -1 => BoundReference(matSchema.length, LongType, nullable = false)
          case -2 => BoundReference(matSchema.length + 1, StringType, nullable = false)
          case j => foldedSlot(j, outTypes(i), aliasIdxs(i), defaultVals(i), entrySeq)
        }
      })

  /** The folded identifier values of a data row, slot i = identifier i. */
  private def mkKeyProj(entrySeq: Long): UnsafeProjection =
    UnsafeProjection.create(idIdxs.indices.map(i =>
      foldedSlot(idIdxs(i), dataTypeAt(i), idAliasIdxs(i), idDefaults(i), entrySeq)))

  private val staticProj = if (needsFold) null else mkProj(0L)
  private val projCache = new java.util.HashMap[Long, UnsafeProjection]()
  private var proj: UnsafeProjection = staticProj
  private val keyProjCache = new java.util.HashMap[Long, UnsafeProjection]()
  private var keyProj: UnsafeProjection = null
  private val keySlots = idIdxs.indices.toArray
  // per-row metadata tail: [version, file path] joined past the physical row
  private val metaRow = if (metaNeeded)
    new GenericInternalRow(2) else null
  private val joined = if (metaNeeded)
    new org.apache.spark.sql.catalyst.expressions.JoinedRow() else null
  private var curFileUtf8: UTF8String = null

  private var fileIdx = 0
  private var iter: Iterator[InternalRow] = Iterator.empty
  private var curEntrySeq = 0L
  private var curHidden: java.util.HashSet[java.lang.Long] = null
  private var pos = -1L
  private var cur: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (iter.hasNext) {
        val r = iter.next()
        pos += 1L
        val posHidden = curHidden != null && curHidden.contains(pos)
        if (!posHidden) {
          val tomb = !r.isNullAt(tombIdx) && r.getBoolean(tombIdx)
          if (!tomb) {
            val rowSeq = if (r.isNullAt(seqIdx)) curEntrySeq else r.getLong(seqIdx)
            val key =
              if (delMax == null && crossDelMax == null) null
              else if (keyProj == null) keyOfIdx(r, idIdxs, i => dataTypeAt(i))
              else keyOfIdx(keyProj(r), keySlots, i => dataTypeAt(i))
            val eqHidden = delMax != null && {
              val m = delMax.get(key)
              m != null && m > rowSeq
            }
            // cross-tuple scopes hide strictly ACROSS epoch boundaries
            val crossHidden = !eqHidden && crossDelMax != null && {
              val a = crossDelMax.get(key)
              a != null && {
                val re = epochOf(rowSeq)
                var i = 0; var hit = false
                while (i < a.length && !hit) {
                  if (i != re && a(i) > rowSeq) hit = true
                  i += 1
                }
                hit
              }
            }
            if (!eqHidden && !crossHidden) {
              cur = if (metaNeeded) {
                metaRow.update(0, rowSeq)
                metaRow.update(1, curFileUtf8)
                proj(joined(r, metaRow))
              } else proj(r)
              return true
            }
          }
        }
      } else if (fileIdx < p.dataFiles.length) {
        val f = p.dataFiles(fileIdx)
        fileIdx += 1
        iter = open(f, dataReader)
        curEntrySeq = f.entrySeq
        if (needsFold) {
          var pj = projCache.get(curEntrySeq)
          if (pj == null) { pj = mkProj(curEntrySeq); projCache.put(curEntrySeq, pj) }
          proj = pj
        }
        if (idNeedsFold) {
          var kp = keyProjCache.get(curEntrySeq)
          if (kp == null) { kp = mkKeyProj(curEntrySeq); keyProjCache.put(curEntrySeq, kp) }
          keyProj = kp
        }
        if (metaNeeded) curFileUtf8 = UTF8String.fromString(f.path)
        curHidden = posdelsByFile.get(fileKey(f.path))
        pos = -1L
      } else return false
    }
    false
  }

  override def get(): InternalRow = cur

  override def close(): Unit = ()
}

object GraftPartitionReader {
  /** Executor-side sharing of per-tuple delete state (round 12). Chunked
    * splits of one tuple carry the SAME delete/posdel file lists, and
    * every chunk's reader used to re-read those parquet files and rebuild
    * the hash maps — k× readback amplification for a tuple split k ways
    * under partially-clustered SPJ, and a rebuild per chunk even inside a
    * single SPJ-grouped task. The maps are immutable after construction
    * and keyed on immutable file identity, so sharing them across readers
    * in the same executor JVM is semantics-free. A driver-built broadcast
    * would achieve the same sharing but pulls every delete row through
    * the driver (§5: the driver should do no data work); executor-local
    * sharing costs at most one build per executor instead. SoftReferences
    * let memory pressure reclaim; past [[MaxStateKeys]] keys the least
    * recently used key is evicted, so a hot tuple's state survives a scan
    * of many cold ones. Cross-run reuse is impossible by construction —
    * keys embed absolute group paths, which are freshly minted uuid dirs
    * per table write.
    */
  private[catalog] val MaxStateKeys = 64

  private val stateCache =
    new java.util.LinkedHashMap[String, java.lang.ref.SoftReference[AnyRef]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.ref.SoftReference[AnyRef]]): Boolean =
        size() > MaxStateKeys
    }

  private[catalog] def sharedState[A <: AnyRef](key: String)(build: => A): A = {
    val ref = stateCache.synchronized(stateCache.get(key)) // a hit refreshes recency
    val hit = if (ref != null) ref.get() else null
    if (hit != null) hit.asInstanceOf[A]
    else {
      val v = build // racy double-build is idempotent; last put wins
      stateCache.synchronized(stateCache.put(key, new java.lang.ref.SoftReference[AnyRef](v)))
      v
    }
  }
}
